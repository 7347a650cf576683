"""Outside-in instrumentation: spans around the benchmark's calls, a walk of
the final AQE plan's SQL metrics, and a peak-RSS sampler over the driver's
process tree.  Nothing here reaches into the engine's internals.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Spans:
    """In-memory spans: name, start, end and the index of the enclosing span.
    The run writes them out with its result record."""

    def __init__(self):
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._open[-1] if self._open else None}
        self.records.append(rec)
        self._open.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()


def seconds(rec: dict) -> float:
    return rec["end"] - rec["start"]


# ---------------------------------------------------------------------------
# Peak RSS of the process tree (Python driver, JVM, Python workers)
# ---------------------------------------------------------------------------
def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the tree's RSS every ``interval`` seconds on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


# ---------------------------------------------------------------------------
# Final-plan SQL metrics
# ---------------------------------------------------------------------------
class PlanNode:
    def __init__(self, cls: str, desc: str, metrics: dict[str, int], children: list["PlanNode"], map_bytes):
        self.cls = cls
        self.desc = desc
        self.metrics = metrics
        self.children = children
        # bytes per reduce partition, for shuffle query stages
        self.map_bytes = map_bytes

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def find(self, *classes: str) -> list["PlanNode"]:
        return [n for n in self.walk() if n.cls in classes]


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


# nodes whose description the metrics need (UDF names, filter conditions)
_DESCRIBED = {"ArrowEvalPythonExec", "FilterExec", "FileSourceScanExec"}


def plan_tree(jnode) -> PlanNode:
    """Copy a JVM SparkPlan (after execution) into Python, looking through
    AQE wrappers: AdaptiveSparkPlanExec -> its final plan, query stages ->
    the stage's plan, reused exchanges -> the original."""
    cls = jnode.getClass().getSimpleName()
    metrics = {}
    it = jnode.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = int(kv._2().value())
    map_bytes = None
    if cls == "AdaptiveSparkPlanExec":
        kids = [jnode.executedPlan()]
    elif cls.endswith("QueryStageExec"):
        kids = [jnode.plan()]
        if cls == "ShuffleQueryStageExec":
            stats = jnode.mapStats()
            if stats.isDefined():
                map_bytes = [int(b) for b in stats.get().bytesByPartitionId()]
    elif cls == "ReusedExchangeExec":
        kids = [jnode.child()]
    else:
        kids = _scala_seq(jnode.children())
    desc = jnode.simpleString(400) if cls in _DESCRIBED else ""
    return PlanNode(cls, desc, metrics, [plan_tree(k) for k in kids], map_bytes)


JOIN_CLASSES = (
    "BroadcastNestedLoopJoinExec",
    "ShuffledHashJoinExec",
    "BroadcastHashJoinExec",
    "SortMergeJoinExec",
)


def executed_plan(df) -> PlanNode:
    return plan_tree(df._jdf.queryExecution().executedPlan())


def layer_counts(plan: PlanNode) -> dict[str, float]:
    """Rows, bytes and Python time per layer from one executed manifest plan."""
    out: dict[str, float] = {}
    scans = plan.find("FileSourceScanExec")
    out["sources.scan_rows"] = sum(n.metrics.get("numOutputRows", 0) for n in scans)
    out["sources.scan_bytes"] = sum(n.metrics.get("filesSize", 0) for n in scans)

    hops = {"encode_hop": "s2_cell_id_from_phash", "refine_hop": "parity_contains", "token_hop": "s2_token"}
    arrow = plan.find("ArrowEvalPythonExec")
    for hop, udf in hops.items():
        nodes = [n for n in arrow if f"{udf}(" in n.desc]
        out[f"{hop}.rows"] = sum(n.metrics.get("pythonNumRowsReceived", 0) for n in nodes)
        out[f"{hop}.bytes_sent"] = sum(n.metrics.get("pythonDataSent", 0) for n in nodes)
        out[f"{hop}.bytes_received"] = sum(n.metrics.get("pythonDataReceived", 0) for n in nodes)
        # pythonTotalTime is summed over tasks and includes upstream waiting
        out[f"{hop}.python_s"] = sum(n.metrics.get("pythonTotalTime", 0) for n in nodes) / 1000.0

    joins = plan.find(*JOIN_CLASSES)
    # the fact-side join: the one whose subtree scans the input
    fact_joins = [j for j in joins if j.find("FileSourceScanExec")]
    join = fact_joins[-1] if fact_joins else None
    out["join.candidates"] = join.metrics.get("numOutputRows", 0) if join else 0
    below = list(join.walk()) if join else []
    below_ids = {id(n) for n in below}
    exchanges = [n for n in below if n.cls == "ShuffleExchangeExec"]
    out["join.shuffle_bytes"] = sum(n.metrics.get("shuffleBytesWritten", 0) for n in exchanges)
    reads = [n for n in below if n.cls == "AQEShuffleReadExec"]
    out["join.skewed_partitions"] = sum(n.metrics.get("numSkewedPartitions", 0) for n in reads)
    out["join.skew_splits"] = sum(n.metrics.get("numSkewedSplits", 0) for n in reads)
    stage_bytes = [b for n in below if n.map_bytes for b in n.map_bytes]
    out["join.max_partition_bytes"] = max(stage_bytes) if stage_bytes else 0
    # the probe-side prefix prune: an INSET filter between the scan and the join
    prunes = [n for n in below if n.cls == "FilterExec" and " INSET " in n.desc and n.find("FileSourceScanExec")]
    pruned_rows = sum(n.metrics.get("numOutputRows", 0) for n in prunes)
    out["join.prune_kept_ratio"] = pruned_rows / out["sources.scan_rows"] if prunes and out["sources.scan_rows"] else 0.0

    above = [n for n in plan.walk() if id(n) not in below_ids]
    out["manifest.shuffle_bytes"] = sum(
        n.metrics.get("shuffleBytesWritten", 0) for n in above if n.cls == "ShuffleExchangeExec"
    )
    out["manifest.peak_mem_mb"] = (
        sum(n.metrics.get("peakMemory", 0) for n in above if n.cls in ("HashAggregateExec", "SortExec")) / 2**20
    )
    out["join.strategy"] = join.cls if join else "none"
    return out


# ---------------------------------------------------------------------------
# SQL executions recorded by the session's status store (works with the UI off)
# ---------------------------------------------------------------------------
def sql_executions(spark) -> list:
    store = spark._jsparkSession.sharedState().statusStore()
    return _scala_seq(store.executionsList())


def execution_summary(spark, since_id: int, input_dir: str) -> list[dict]:
    """Executions after ``since_id``: seconds, whether it scans ``input_dir``
    (a fact scan), and whether it writes files."""
    out = []
    for e in sql_executions(spark):
        eid = int(e.executionId())
        if eid <= since_id:
            continue
        done = e.completionTime()
        seconds = (int(done.get().getTime()) - int(e.submissionTime())) / 1000.0 if done.isDefined() else None
        plan = e.physicalPlanDescription()
        out.append(
            {
                "seconds": seconds,
                "fact_scan": os.path.basename(input_dir.rstrip("/")) in plan and "Scan parquet" in plan,
                "writes": "InsertIntoHadoopFsRelationCommand" in plan,
            }
        )
    return out


def last_execution_id(spark) -> int:
    ex = sql_executions(spark)
    return int(ex[-1].executionId()) if ex else -1
