"""Exact kNN as ONE declarative cell-bucket join — no driver loop.

Blueprint: the reference's fixed-level cell-hash PointIndex
(S2PolygonBuilder.java:629-689): pick level L with MIN_WIDTH(L) >= 2r, hash
points into their level-L ancestor cell, and probe the <=4 vertex-neighbor
cells of the query's cell — every point within distance r of the query is
guaranteed to land in those buckets (the reference's merge-vertices radius
query invariant).

Distributed plan (replaces the round-1 driver-coordinated ring loop, which
re-ran a covering join and a ``collect()`` per radius round and could only
take a driver-side Python list of queries):

1. derive a density-based radius r so a uniform corpus yields ~8k candidates
   per query, clamp so a coverage level exists (2r <= MIN_WIDTH(0));
2. fact side: ``parent(cell_id, L)`` bucket — a native bit op, NO explode,
   NO shuffle of the fact table;
3. query side (a DataFrame, arbitrarily large — but broadcast here since
   kNN query sets are small): explode the <=4 vertex neighbors, broadcast,
   equi-join on the bucket;
4. exact haversine + ``dist <= r`` filter; a query is RESOLVED when it has
   >= k in-radius candidates (then its true top-k is inside, by the bucket
   guarantee); resolution is a window count — still declarative;
5. unresolved queries (rare: sparse corners, k > n, r clamped) fall back to
   one broadcast-NL brute join + window top-k — exact, and when the
   unresolved set is EMPTY, AQE's empty-relation propagation skips the
   probe-side scan entirely, so the common case pays zero for the fallback.

ONE fact-side scan in the common case: when the candidate set is KNOWN
small (density-derived radius + known query count — see the ``materialize``
contract in knn_join's docstring) the rung-1 candidates are materialized
eagerly via ``localCheckpoint``, a single count over them decides
resolution, and when every query resolved the returned plan is the top-k
filter over the checkpoint alone — the re-probe rung and brute net are
never even built (the round-4 fix for the regression where small corpora
paid for the escalation machinery on every action).  With an unbounded
candidate set (user radius, unhinted query frame) the plan stays fully
lazy instead — checkpoints are non-reliable on a real cluster and must not
pin data the lazy plan would stream.  No per-round driver round-trips, no
``.collect()`` of data rows anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import col_ref, haversine_sql, parent_sql
from s2_geometry_library_java_spark.functions.udfs import s2_vertex_neighbors_udf
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import metrics
from s2_geometry_library_java_spark.operators.pip_join import with_cell_id


def _as_query_df(points: DataFrame, queries) -> DataFrame:
    if isinstance(queries, DataFrame):
        return queries
    return points.sparkSession.createDataFrame(
        [(str(q[0]), float(q[1]), float(q[2])) for q in queries],
        "query_id string, qlat double, qlng double",
    )


def radius_join(
    points: DataFrame,
    queries,
    radius_rad: float,
    lat_col: str = "lat",
    lng_col: str = "lng",
    broadcast_queries: bool = True,
) -> DataFrame:
    """All (query, point) pairs within great-circle distance ``radius_rad``
    — the radius-query mode of the reference's PointIndex
    (S2PolygonBuilder.java:655-689 queryCap semantics): with level L chosen
    so MIN_WIDTH(L) >= 2r, every point within r of a query lies in one of
    the <=4 vertex-neighbor buckets of the query's level-L cell, so the
    candidate set is one equi-join on the bucket (the fact side takes
    parent(cell_id, L) — a native bit op, no explode), then one exact
    haversine filter.  The vertex neighbors of a cell are distinct, so no
    (query, point) pair is emitted twice.

    ``broadcast_queries=True`` (typical: query sets are small) keeps the
    fact side entirely shuffle-free.  With ``False`` — a query DataFrame too
    large to broadcast — both sides shuffle on the bucket into a sort-merge/
    shuffled-hash join; hot buckets (dense cities on both sides) are AQE
    skew-join territory, the same story as the salted pip_join path.
    """
    if 2.0 * radius_rad > metrics.MIN_WIDTH.get_value(0):
        raise ValueError(
            f"radius {radius_rad} exceeds the level-0 bucket invariant "
            f"(2r must be <= MIN_WIDTH(0) = {metrics.MIN_WIDTH.get_value(0):.4f})"
        )
    level = min(metrics.MIN_WIDTH.get_max_level(2.0 * radius_rad), ck.MAX_LEVEL - 1)
    qdf = _as_query_df(points, queries)
    pts = with_cell_id(points, lat_col, lng_col)
    q_probe = (
        with_cell_id(qdf, "qlat", "qlng", "_qcell")
        .withColumn("_bucket", F.explode(s2_vertex_neighbors_udf(F.col("_qcell"), F.lit(level))))
        .drop("_qcell")
    )
    if broadcast_queries:
        q_probe = F.broadcast(q_probe)
    dist = F.expr(haversine_sql("qlat", "qlng", col_ref(lat_col), col_ref(lng_col)))
    return (
        pts.withColumn("_bucket", F.expr(parent_sql("cell_id", level)))
        .join(q_probe, "_bucket")
        .drop("_bucket")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(radius_rad))
    )


# "auto" brute-net bound: below this many fact rows a broadcast-NL sweep is
# one cheap task wave; above it (or when the count is unknown) the sweep
# would scan the whole corpus per action and is excluded.
BRUTE_NET_MAX_ROWS = 10_000_000

# "auto" eager-materialization bound: the rung-1 candidate set is pinned via
# localCheckpoint only when its EXPECTED size — n_queries x the per-query
# density target — is known to fit comfortably in executor memory.  Beyond
# it (or when the query count / radius derivation is unknown) the plan stays
# lazy: checkpoints are non-reliable (executor loss invalidates them on a
# real cluster), so force-materializing an unbounded candidate set where the
# lazy plan streamed would be a scale regression.
EAGER_CANDIDATES_MAX = 5_000_000


def knn_join(
    points: DataFrame,
    queries,
    k: int,
    lat_col: str = "lat",
    lng_col: str = "lng",
    id_col: str = "point_id",
    init_radius_rad: float | None = None,
    n_points: int | None = None,
    brute_fallback: str = "auto",
    n_queries: int | None = None,
    materialize: str = "auto",
) -> DataFrame:
    """points x queries -> (query_id, point columns, dist, rank <= k).

    ``queries``: a DataFrame with (query_id, qlat, qlng), or a small legacy
    list of (query_id, qlat_deg, qlng_deg) tuples.  ``n_points`` sizes the
    search radius; when None it is counted (parquet metadata scan) — pass an
    estimate on very large inputs.  ``n_queries`` hints the query-set size
    when ``queries`` is a DataFrame (a list's length is known directly).

    Unresolved queries (fewer than k in-radius candidates: sparse corners)
    escalate through a COARSER bucket re-probe (4x the radius, the
    reference's growing-cap retry in S2ClosestPointQuery semantics) —
    another bucket equi-join against only the unresolved set, never a
    scan-amplifying cross join.  The brute broadcast-NL net behind it is
    the ultimate exactness guarantee (k > n, radius clamped at the level-0
    invariant), but a BNLJ's streamed side scans the WHOLE corpus even
    when its build side is empty, so ``brute_fallback="auto"`` includes the
    net only when the corpus is KNOWN small (n_points counted or hinted
    <= BRUTE_NET_MAX_ROWS); at web scale a query still unresolved after the
    re-probe returns no rows (resolved-exactly-or-absent semantics) instead
    of triggering a 10^12-row scan.  "always"/"never" override.
    Plan-asserted in tests/test_knn_tiling.py.

    EAGER-EXECUTION SEMANTICS (``materialize``): with ``"eager"`` this
    function RUNS SPARK JOBS AT CONSTRUCTION TIME — the rung-1 candidate
    set is pinned with a non-reliable ``localCheckpoint`` plus one count,
    and when every query resolves on the first rung the returned plan reads
    the checkpoint alone (one fact scan total; the r4 fast path).  The
    checkpoint blocks survive only while their executors do, so on a real
    cluster an executor loss after construction fails downstream actions.
    ``"auto"`` (default) therefore takes the eager path only when the
    candidate set is KNOWN small: the radius was density-derived (so the
    expectation is ~target rows per query) AND the query count is known
    (list input or ``n_queries`` hint) AND n_queries x target <=
    EAGER_CANDIDATES_MAX.  Otherwise — user-supplied ``init_radius_rad``
    (clustered corpora can blow the density expectation) or an unhinted
    query DataFrame — the plan stays fully LAZY: the same window subtree
    feeds every branch through Spark's exchange reuse, nothing executes
    until the caller's action, and no checkpoint exists to lose.
    ``"lazy"`` forces that plan unconditionally.
    """
    if brute_fallback not in ("auto", "always", "never"):
        # an unrecognized value must not silently behave as "never" — that
        # would drop the exactness net without the caller noticing
        raise ValueError(
            f"brute_fallback must be 'auto', 'always', or 'never', got {brute_fallback!r}"
        )
    if materialize not in ("auto", "eager", "lazy"):
        raise ValueError(
            f"materialize must be 'auto', 'eager', or 'lazy', got {materialize!r}"
        )
    if not isinstance(queries, DataFrame) and n_queries is None:
        n_queries = len(queries)
    qdf = _as_query_df(points, queries)
    # No cache: the only eager action here is the (column-pruned) count; the
    # candidate and fallback branches are consumed by the caller's single
    # action, each as one scan of the pruned fact columns.
    pts = with_cell_id(points, lat_col, lng_col)
    target = max(8.0 * k, 64.0)
    radius_derived = init_radius_rad is None
    if init_radius_rad is None:
        if n_points is None:
            n_points = pts.count()
        # Density-derived radius: expected in-cap candidates for a
        # uniform corpus = n * h / 2 with cap height h = 1 - cos(r);
        # target >= 8k gives headroom so resolution rarely falls back.
        h = min(2.0, 2.0 * target / max(n_points or 1, 1))
        init_radius_rad = math.acos(max(-1.0, 1.0 - h))
    if materialize == "auto":
        eager = (
            radius_derived
            and n_queries is not None
            and n_queries * target <= EAGER_CANDIDATES_MAX
        )
    else:
        eager = materialize == "eager"
    # A coverage level exists only while 2r <= MIN_WIDTH(0); beyond that
    # the 4-bucket invariant breaks, so clamp and let the fallback carry
    # the (tiny-corpus) remainder.
    r = min(init_radius_rad, 0.49 * metrics.MIN_WIDTH.get_value(0))
    level = min(metrics.MIN_WIDTH.get_max_level(2.0 * r), ck.MAX_LEVEL - 1)

    q_enc = with_cell_id(qdf, "qlat", "qlng", "_qcell")
    q_probe = q_enc.withColumn(
        "_bucket",
        F.explode(s2_vertex_neighbors_udf(F.col("_qcell"), F.lit(level))),
    ).drop("_qcell")

    dist = F.expr(haversine_sql("qlat", "qlng", col_ref(lat_col), col_ref(lng_col)))
    cand = (
        pts.withColumn("_bucket", F.expr(parent_sql("cell_id", level)))
        .join(F.broadcast(q_probe), "_bucket")
        .drop("_bucket")
        .withColumn("dist", dist)
        .filter(F.col("dist") <= F.lit(r))
    )

    wq = Window.partitionBy("query_id")
    wrank = wq.orderBy(F.col("dist").asc(), F.col(id_col).asc())
    # Rank and the resolution count come off ONE window subtree.  On the
    # eager path that subtree is materialized EXACTLY ONCE (localCheckpoint,
    # gated above on a known-small candidate bound): every consumer below —
    # top-k rows, the resolution check, the re-probe anti-joins — reads the
    # checkpoint instead of re-running the fact scan + bucket join + window.
    # On the lazy path the identical subtree is shared through Spark's
    # exchange reuse and nothing runs until the caller's action.
    ranked = cand.withColumn("_n_in_r", F.count(F.lit(1)).over(wq)).withColumn(
        "rank", F.row_number().over(wrank)
    )
    if eager:
        ranked = ranked.localCheckpoint(eager=True)
    main = ranked.filter((F.col("_n_in_r") >= k) & (F.col("rank") <= k)).drop("_n_in_r")

    resolved_q = ranked.filter((F.col("_n_in_r") >= k) & (F.col("rank") == 1))
    unresolved = qdf.join(resolved_q.select("query_id"), "query_id", "left_anti")

    branches = [main]

    # Short-circuit (round-4 knn regression fix, eager path only): ONE tiny
    # agg over the checkpointed candidates decides whether any query is
    # unresolved.  The common case — every query finds >= k in-radius
    # candidates on the first rung — then returns the main branch alone: no
    # re-probe subtree, no brute net, no left_anti chains in the executed
    # plan at all.  The agg costs a count over <= (queries x target)
    # checkpointed rows, not a fact scan.
    if eager and unresolved.count() == 0:
        return main.select(*_dedup_out_cols(points))

    # Coarser re-probe rung: 4x radius (two levels up keeps the 4-bucket
    # invariant: MIN_WIDTH(level2) >= 2*r2), joined ONLY against the
    # (broadcast) unresolved set — a second bucket equi-join over the fact
    # table, never a cross join.  Skipped when the first rung already sits
    # at the level-0 clamp.
    r2 = min(4.0 * r, 0.49 * metrics.MIN_WIDTH.get_value(0))
    level2 = min(metrics.MIN_WIDTH.get_max_level(2.0 * r2), ck.MAX_LEVEL - 1)
    if level2 < level:
        q2_probe = (
            with_cell_id(unresolved, "qlat", "qlng", "_qcell")
            .withColumn(
                "_bucket",
                F.explode(s2_vertex_neighbors_udf(F.col("_qcell"), F.lit(level2))),
            )
            .drop("_qcell")
        )
        cand2 = (
            pts.withColumn("_bucket", F.expr(parent_sql("cell_id", level2)))
            .join(F.broadcast(q2_probe), "_bucket")
            .drop("_bucket")
            .withColumn("dist", dist)
            .filter(F.col("dist") <= F.lit(r2))
        )
        ranked2 = cand2.withColumn("_n_in_r", F.count(F.lit(1)).over(wq)).withColumn(
            "rank", F.row_number().over(wrank)
        )
        branches.append(
            ranked2.filter((F.col("_n_in_r") >= k) & (F.col("rank") <= k)).drop("_n_in_r")
        )
        resolved2 = ranked2.filter((F.col("_n_in_r") >= k) & (F.col("rank") == 1))
        unresolved = unresolved.join(resolved2.select("query_id"), "query_id", "left_anti")

    # Ultimate exactness net (k > n, radius clamped): only where a corpus
    # scan is provably cheap — see the docstring's brute_fallback contract.
    if brute_fallback == "always" or (
        brute_fallback == "auto" and n_points is not None and n_points <= BRUTE_NET_MAX_ROWS
    ):
        brute = (
            pts.crossJoin(F.broadcast(unresolved))
            .withColumn("dist", dist)
            .withColumn("rank", F.row_number().over(wrank))
            .filter(F.col("rank") <= k)
        )
        branches.append(brute)

    seen = _dedup_out_cols(points)
    out = branches[0].select(*seen)
    for b in branches[1:]:
        out = out.unionByName(b.select(*seen))
    return out


def _dedup_out_cols(points: DataFrame) -> list[str]:
    out_cols = ["query_id", *points.columns, "cell_id", "dist", "rank"]
    seen: list[str] = []
    for c in out_cols:
        if c not in seen:
            seen.append(c)
    return seen
