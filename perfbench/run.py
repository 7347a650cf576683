#!/usr/bin/env python3
"""s2spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload geotag_manifest --seed 3 --seconds 10 --trace 0

Runs from the root of a source checkout.  A single driver process submits
one Spark job at a time at local[nproc], drives the engine only through its
public API, and checks every job's output.  The last line of stdout is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones, under the names and units listed in BENCHMARK.json (README.md explains
them).  The line before it records the environment, every rep's wall time,
and the trace labels.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import oracle  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WORK_DIR = os.path.join(ROOT, ".perfbench_work")
WARMUP_JOBS = 2  # after the cold first job; the first warm jobs are still slower
MIN_REPS = 3  # timed jobs per window, even past --seconds
MAX_JOB_ATTEMPTS = 40

# join.strategy codes: the physical join of the candidate step
STRATEGY_CODES = {
    "BroadcastNestedLoopJoinExec": 1,  # broadcast range BNLJ
    "BroadcastHashJoinExec": 2,  # interval stab (segment id equi-join)
    "ShuffledHashJoinExec": 3,  # shuffled prefix join
    "SortMergeJoinExec": 4,
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# Environment and Spark session
# ---------------------------------------------------------------------------
def box() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    # driver heap: an eighth of the box, clamped to [1, 4] GiB
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "driver_memory_mb": driver_mb}


def source_identity() -> dict:
    """git sha when the checkout is a repository, plus a digest of the
    package sources, which identifies the code either way."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "s2_geometry_library_java_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for f in sorted(filenames):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"git_sha": sha, "source_sha256": h.hexdigest()}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def spark_env() -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and let
    the Python workers import the package."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK_DIR, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK_DIR, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_spark(hw: dict):
    from s2_geometry_library_java_spark.session import get_spark

    n = hw["nproc"]
    spark = get_spark(
        "s2spark-perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": f"{hw['driver_memory_mb']}m",
            "spark.local.dir": os.path.join(WORK_DIR, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK_DIR, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
            # two input files per scan task: with the session's 16m splits,
            # 16 files of ~1 MB pack into 6 tasks, an uneven second wave on
            # 4 cores; 8 tasks give two full waves
            "spark.sql.files.maxPartitionBytes": "12m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# Jobs
# ---------------------------------------------------------------------------
class Runner:
    """Runs and checks jobs for one (workload, seed); counts failures."""

    def __init__(self, spark, work, input_dir: str, layers, check):
        self.spark = spark
        self.work = work
        self.input_dir = input_dir
        self.layers = layers
        self.check = check
        self.attempted = 0
        self.failed = 0

    def manifest_job(self):
        """Build and run the timed job; return (wall seconds, df, rows) or
        None when it raised or failed its output check."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = workloads.manifest(self.spark, self.input_dir, self.work, self.layers)
            rows = df.collect()
        except Exception:  # a failing job is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        problem = self.check([r.asDict() for r in rows])
        if problem:
            print(f"output check failed: {problem}", file=sys.stderr)
            self.failed += 1
            return None
        return wall, df, rows

    def window(self, seconds: float) -> list[float]:
        """Closed loop: run the job back to back for ``seconds`` (and at least
        MIN_REPS successful times); return every successful job's wall."""
        walls: list[float] = []
        end = time.perf_counter() + seconds
        tries = 0
        while (time.perf_counter() < end or len(walls) < MIN_REPS) and tries < MAX_JOB_ATTEMPTS:
            tries += 1
            out = self.manifest_job()
            if out is not None:
                walls.append(out[0])
        return walls


def prepare(args, hw) -> tuple:
    work = workloads.WORKLOADS[args.workload]
    input_dir = workloads.materialize(work, args.seed, os.path.join(WORK_DIR, "inputs"))
    totals = oracle.cached_totals(input_dir, workloads.layers(), hw["nproc"])
    recorded = oracle.recorded_digest(work.name, args.seed, workloads.N_ROWS)
    return work, input_dir, totals, recorded


def setup(hw, work, input_dir, totals, recorded) -> tuple[float, Runner]:
    """Session start through the end of the cold first job: JVM start,
    Python worker fork, the covering build and codegen."""
    t0 = time.perf_counter()
    spark = start_spark(hw)
    runner = Runner(spark, work, input_dir, workloads.layers(), oracle.ManifestCheck(totals, recorded))
    runner.manifest_job()
    return time.perf_counter() - t0, runner


# ---------------------------------------------------------------------------
# Traced run: per-layer metrics
# ---------------------------------------------------------------------------
def kernel_micros(input_dir: str, layers, reps: int = 5) -> dict:
    """Single-thread kernel timings on this input's phash anchors."""
    import numpy as np
    import pyarrow.parquet as pq

    from s2_geometry_library_java_spark.kernel import cellid
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.sources.images import phash_anchor_lat, phash_anchor_lng

    phash = pq.read_table(input_dir, columns=["phash"]).column("phash").to_numpy()
    lat, lng = phash_anchor_lat(phash), phash_anchor_lng(phash)

    def median_time(fn) -> float:
        fn()
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
        return statistics.median(samples)

    out = {"kernel.encode_us_per_op": median_time(lambda: cellid.from_latlng_degrees(lat, lng)) / len(phash) * 1e6}

    # the points the refine sends to the parity kernel: candidates of a loop
    # or polygon layer on a non-interior covering cell
    ids = cellid.from_latlng_degrees(lat, lng)
    by_layer = {}
    for pid, _cid, _lvl, rmin, rmax, interior in covering_rows(layers, max_cells=8, max_level=12):
        layer = next(l for l in layers if l.polygon_id == pid)
        if interior or layer.kind not in ("loop", "polygon"):
            continue
        lo, hi = np.uint64(rmin & (2**64 - 1)), np.uint64(rmax & (2**64 - 1))
        mask = by_layer.setdefault(pid, np.zeros(len(ids), dtype=bool))
        mask |= (ids >= lo) & (ids <= hi)
    sent = [(next(l for l in layers if l.polygon_id == pid), np.flatnonzero(m)) for pid, m in by_layer.items()]
    n_points = sum(len(idx) for _, idx in sent)

    def parity():
        for layer, idx in sent:
            layer.contains_points(lat[idx], lng[idx])

    out["kernel.parity_us_per_op"] = median_time(parity) / max(n_points, 1) * 1e6
    out["kernel.parity_points"] = n_points
    return out


def covering_micro(reps: int = 5) -> dict:
    from s2_geometry_library_java_spark.operators.covering import covering_rows

    samples = []
    for _ in range(reps):
        fresh = workloads.layers()  # new objects: the covering memo misses
        t0 = time.perf_counter()
        rows = covering_rows(fresh, max_cells=8, max_level=12)
        samples.append(time.perf_counter() - t0)
    return {
        "covering.build_s": statistics.median(samples),
        "covering.cells": len(rows),
        "covering.interior_ratio": sum(1 for r in rows if r[5]) / len(rows),
    }


def _out_files(path: str) -> tuple[int, int]:
    files, size = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


def write_block(runner: Runner, manifest_rows, spans: tracing.Spans, join_s: float) -> dict:
    """A tiled write stopped after WRITE_FAIL_AFTER buckets, then its resume.

    Together the two calls write every bucket once, so their sum is one full
    write.  The read-back rows must reproduce the checked manifest exactly
    (counts and cell-id ranges per tile and polygon), which is what the
    uninterrupted write produces, and the ledger must list every bucket."""
    from s2_geometry_library_java_spark.operators.tiling import read_ledger, run_tiled_write

    spark, work = runner.spark, runner.work
    out_dir = os.path.join(WORK_DIR, "out", os.path.basename(runner.input_dir))
    shutil.rmtree(out_dir, ignore_errors=True)

    def write(**kw):
        df = workloads.joined(spark, runner.input_dir, work, runner.layers)
        return run_tiled_write(df, out_dir, tile_level=workloads.TILE_LEVEL, buckets=workloads.WRITE_BUCKETS, **kw)

    mark = tracing.last_execution_id(spark)
    spark.sparkContext.setJobGroup("perfbench-write", "tiled write")
    runner.attempted += 1
    with spans.span("write_stopped") as s_stop:
        try:
            write(fail_after=workloads.WRITE_FAIL_AFTER)
            stopped = False
        except RuntimeError:  # the injected stop; not a failed job
            stopped = True
    with spans.span("write_resume") as s_resume:
        res = write()
    execs = tracing.execution_summary(spark, mark, runner.input_dir)
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup("perfbench-write"))

    con = oracle.connect(threads=2)
    try:
        written = con.execute(
            "SELECT tile_token, polygon_id, count(*) AS n_images, min(cell_id) AS min_cell,"
            " max(cell_id) AS max_cell"
            f" FROM read_parquet('{out_dir}/bucket=*/*.parquet', hive_partitioning=false) GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    keys = ("tile_token", "polygon_id", "n_images", "min_cell", "max_cell")
    problems = []
    if oracle.manifest_digest([dict(zip(keys, r)) for r in written]) != oracle.manifest_digest(manifest_rows):
        problems.append("the resumed write's rows do not reproduce the manifest")
    if sorted(read_ledger(out_dir)["committed"]) != list(range(workloads.WRITE_BUCKETS)):
        problems.append("the ledger does not list every bucket")
    if not stopped or len(res["skipped"]) != workloads.WRITE_FAIL_AFTER:
        problems.append(f"resume skipped {res['skipped']}, expected the {workloads.WRITE_FAIL_AFTER} committed buckets")
    for p in problems:
        print(f"output check failed: {p}", file=sys.stderr)
    runner.failed += 1 if problems else 0

    files, size = _out_files(out_dir)
    wall = tracing.seconds(s_stop) + tracing.seconds(s_resume)
    bucket_s = [e["seconds"] for e in execs if e["writes"] and e["seconds"] is not None]
    return {
        "write.wall_s": wall,
        "write.self_s": wall - join_s,
        "write.spark_jobs": jobs,
        "write.fact_scans": sum(1 for e in execs if e["fact_scan"]),
        "write.files": files,
        "write.bytes": size,
        "write.bytes_per_image": size / workloads.N_ROWS,
        "write.bucket_s_p50": statistics.median(bucket_s) if bucket_s else 0.0,
        "resume.buckets_skipped": len(res["skipped"]),
        "resume_s": tracing.seconds(s_resume),
    }


def traced_metrics(runner: Runner, seconds: float) -> tuple[dict, dict]:
    """Per-layer metrics.  The untraced and the traced window get half of
    ``seconds`` each, so the traced run, which also times the kernels and a
    tiled write, stays about twice as long as an untraced one."""
    spark, n = runner.spark, workloads.N_ROWS
    spans = tracing.Spans()
    untraced = runner.window(seconds / 2)

    prefixes = {
        "scan": lambda: workloads.scan(spark, runner.input_dir),
        "encode": lambda: workloads.encoded(spark, runner.input_dir),
        "join": lambda: workloads.joined(spark, runner.input_dir, runner.work, runner.layers),
    }
    rounds: list[dict] = []
    traced_walls: list[float] = []
    counts: dict = {}
    manifest_rows: list[dict] = []
    end = time.perf_counter() + seconds / 2
    tries = 0
    while (time.perf_counter() < end or len(rounds) < MIN_REPS) and tries < MAX_JOB_ATTEMPTS:
        tries += 1
        walls = {}
        with spans.span("round"):
            for name, make in prefixes.items():
                with spans.span(name) as s:
                    make().write.format("noop").mode("overwrite").save()
                walls[name] = tracing.seconds(s)
            with spans.span("manifest") as s:
                out = runner.manifest_job()
            if out is None:
                continue
            with spans.span("plan_metrics") as p:
                walls["manifest"] = out[0]
                counts = tracing.layer_counts(tracing.executed_plan(out[1]))
                manifest_rows = [r.asDict() for r in out[2]]
                counts["manifest.rows"] = len(manifest_rows)
                counts["matches"] = sum(r["n_images"] for r in manifest_rows)
            # a traced job: the job plus reading its plan's metrics
            traced_walls.append(tracing.seconds(s) + tracing.seconds(p))
        rounds.append(walls)

    if not rounds:
        raise RuntimeError("no traced round completed")

    def med(f) -> float:
        return statistics.median(f(r) for r in rounds)

    self_s = {
        "sources.scan_s": med(lambda r: r["scan"]),
        "encode_hop.self_s": med(lambda r: r["encode"] - r["scan"]),
        "pip_join.self_s": med(lambda r: r["join"] - r["encode"]),
        "manifest.self_s": med(lambda r: r["manifest"] - r["join"]),
    }
    job_wall = med(lambda r: r["manifest"])
    metrics = dict(self_s)
    metrics["trace.job_wall_s"] = job_wall
    metrics["trace.residual_s"] = job_wall - sum(self_s.values())
    metrics["trace.images_per_s"] = n / statistics.median(traced_walls)
    metrics["trace.overhead_ratio"] = metrics["trace.images_per_s"] / (n / statistics.median(untraced))

    labels = {"join.strategy": counts.pop("join.strategy", "none")}
    metrics["join.strategy"] = STRATEGY_CODES.get(labels["join.strategy"], 0)
    matches = counts.pop("matches", 0)
    metrics.update(counts)
    cand = metrics.get("join.candidates", 0)
    metrics["join.candidates_per_image"] = cand / n
    metrics["refine.kept_ratio"] = matches / cand if cand else 0.0
    rows = metrics.get("refine_hop.rows", 0)
    metrics["refine_hop.bytes_per_row"] = metrics.get("refine_hop.bytes_sent", 0) / rows if rows else 0.0

    metrics.update(covering_micro())
    metrics.update(kernel_micros(runner.input_dir, runner.layers))
    metrics.update(write_block(runner, manifest_rows, spans, med(lambda r: r["join"])))
    labels["untraced_walls_s"] = untraced
    labels["traced_walls_s"] = traced_walls
    labels["rounds_s"] = rounds
    labels["spans"] = spans.records
    return metrics, labels


# ---------------------------------------------------------------------------
def main(argv=None) -> int:
    args = parse_args(argv)
    import s2_geometry_library_java_spark  # noqa: F401  (fails fast without the engine)

    hw = box()
    spark_env()
    work, input_dir, totals, recorded = prepare(args, hw)

    with tracing.RssSampler() as rss:
        setup_s, runner = setup(hw, work, input_dir, totals, recorded)
        try:
            for _ in range(WARMUP_JOBS):
                runner.manifest_job()
            if args.trace:
                metrics, labels = traced_metrics(runner, args.seconds)
                walls = labels["untraced_walls_s"]
            else:
                walls = runner.window(args.seconds)
                labels = {}
        finally:
            stop_spark(runner.spark)
    attempted, failed = runner.attempted, runner.failed

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        metrics["failed_job_ratio"] = failed / attempted
        metrics["peak_rss_mb"] = rss.peak / 2**20
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = {
            "images_per_s": workloads.N_ROWS / statistics.median(walls) if walls else 0.0,
            "setup_s": setup_s,
        }
        wanted = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    info = {
        "workload": work.name,
        "seed": args.seed,
        "n_rows": workloads.N_ROWS,
        "master": f"local[{hw['nproc']}]",
        **hw,
        **versions(),
        **source_identity(),
        "digest_recorded": recorded is not None,
        "setup_s": setup_s,
        "job_walls_s": walls,
        "closed_loop_clients": 1,
        **labels,
    }
    os.makedirs(os.path.join(WORK_DIR, "results"), exist_ok=True)
    with open(os.path.join(WORK_DIR, "results", f"{work.name}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump({"info": info, "metrics": metrics}, fh, indent=1, default=str)
    info.pop("spans", None)
    print(json.dumps(info, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0 and bool(walls),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in wanted.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
