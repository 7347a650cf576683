"""Radius and exact kNN queries as declarative cell-bucket joins — no driver loop.

Blueprint: the reference's fixed-level cell-hash PointIndex
(S2PolygonBuilder.java:629-689): pick level L with MIN_WIDTH(L) >= 2r, hash
points into their level-L ancestor cell, and probe the <=4 vertex-neighbor
cells of the query's cell — every point within distance r of the query is
guaranteed to land in those buckets (the reference's merge-vertices radius
query invariant).

Both operators share ONE body, ``_bucket_join``: the fact side takes
``parent(cell_id, L)`` — a native bit op, NO explode, NO shuffle of the fact
table — the query side explodes its <=4 vertex neighbors, the two equi-join
on the bucket, and one exact haversine filter keeps ``dist <= r``.  The
vertex neighbors of a cell are distinct, so no (query, point) pair is
emitted twice.  ``radius_join`` is that body once; ``knn_join`` runs it per
escalation rung (its docstring holds the rung and eager-execution
contract).  No ``.collect()`` of data rows anywhere.
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
from s2_geometry_library_java_spark.session import local_frame


def _as_query_df(points: DataFrame, queries) -> DataFrame:
    if isinstance(queries, DataFrame):
        return queries
    return local_frame(
        points.sparkSession,
        [(str(q[0]), float(q[1]), float(q[2])) for q in queries],
        "query_id string, qlat double, qlng double",
    )


def _bucket_level(radius_rad: float) -> int:
    """Deepest level whose MIN_WIDTH covers the 2r probe diameter."""
    return min(metrics.MIN_WIDTH.get_max_level(2.0 * radius_rad), ck.MAX_LEVEL - 1)


def _dist(lat_col: str, lng_col: str):
    return F.expr(haversine_sql("qlat", "qlng", col_ref(lat_col), col_ref(lng_col)))


def _bucket_join(
    pts: DataFrame,
    qdf: DataFrame,
    radius_rad: float,
    lat_col: str,
    lng_col: str,
    broadcast_queries: bool = True,
) -> DataFrame:
    """(query, point, dist) pairs within ``radius_rad``: ``pts`` carries
    ``cell_id``; ``qdf`` carries (query_id, qlat, qlng)."""
    level = _bucket_level(radius_rad)
    q_probe = (
        with_cell_id(qdf, "qlat", "qlng", "_qcell")
        .withColumn("_bucket", F.explode(s2_vertex_neighbors_udf(F.col("_qcell"), F.lit(level))))
        .drop("_qcell")
    )
    if broadcast_queries:
        q_probe = F.broadcast(q_probe)
    return (
        pts.withColumn("_bucket", F.expr(parent_sql("cell_id", level)))
        .join(q_probe, "_bucket")
        .drop("_bucket")
        .withColumn("dist", _dist(lat_col, lng_col))
        .filter(F.col("dist") <= F.lit(radius_rad))
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
    (S2PolygonBuilder.java:655-689 queryCap semantics), one bucket join.

    ``broadcast_queries=True`` (typical: query sets are small) keeps the
    fact side entirely shuffle-free.  With ``False`` — a query DataFrame too
    large to broadcast — both sides shuffle on the bucket into a sort-merge/
    shuffled-hash join; hot buckets (dense cities on both sides) are AQE
    skew-join territory, the same story as pip_join's shuffled prefix arm.
    """
    if 2.0 * radius_rad > metrics.MIN_WIDTH.get_value(0):
        raise ValueError(
            f"radius {radius_rad} exceeds the level-0 bucket invariant "
            f"(2r must be <= MIN_WIDTH(0) = {metrics.MIN_WIDTH.get_value(0):.4f})"
        )
    qdf = _as_query_df(points, queries)
    pts = with_cell_id(points, lat_col, lng_col)
    return _bucket_join(pts, qdf, radius_rad, lat_col, lng_col, broadcast_queries)


# Brute-net bound: below this many fact rows a broadcast-NL sweep is one
# cheap task wave; above it (or when the count is unknown) the sweep would
# scan the whole corpus per action and is excluded.
BRUTE_NET_MAX_ROWS = 10_000_000

# Eager-materialization bound: the rung-1 candidate set is pinned via
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
    n_queries: int | None = None,
) -> DataFrame:
    """points x queries -> (query_id, point columns, dist, rank <= k).

    ``queries``: a DataFrame with (query_id, qlat, qlng), or a small legacy
    list of (query_id, qlat_deg, qlng_deg) tuples.  ``init_radius_rad``
    overrides the rung-1 radius; by default it is density-derived so a
    uniform corpus yields ~max(8k, 64) candidates per query, from
    ``n_points`` (counted with a parquet metadata scan when None — pass an
    estimate on very large inputs).  ``n_queries`` hints the query-set size
    when ``queries`` is a DataFrame (a list's length is known directly).

    RUNGS.  Rung 1 is the bucket join at radius r (clamped so a level
    exists: 2r <= MIN_WIDTH(0)).  A query is RESOLVED when it has >= k
    in-radius candidates (its true top-k is then inside, by the bucket
    guarantee); rank and resolution come off one window subtree.
    Unresolved queries (sparse corners, k > n, r clamped) re-probe at 4x
    the radius (the reference's growing-cap retry in S2ClosestPointQuery
    semantics) — another bucket join against only the unresolved set,
    skipped when it would not coarsen the level.  Behind it sits the brute
    broadcast-NL net, the ultimate exactness guarantee; but a BNLJ's
    streamed side scans the WHOLE corpus even when its build side is
    empty, so the net is in the plan only when ``n_points`` is counted or
    hinted and <= BRUTE_NET_MAX_ROWS.  At web scale a query still
    unresolved after the re-probe returns no rows (resolved-exactly-or-
    absent semantics) instead of triggering a 10^12-row scan.

    EAGER EXECUTION.  When the candidate set is KNOWN small — the radius
    was density-derived, the query count is known (list input or
    ``n_queries``), and n_queries x target <= EAGER_CANDIDATES_MAX — this
    function RUNS SPARK JOBS AT CONSTRUCTION TIME: the rung-1 ranked set
    is pinned with a non-reliable ``localCheckpoint`` and one count over
    it decides resolution; when every query resolved, the returned plan is
    the top-k filter over the checkpoint alone (one fact scan total).  The
    checkpoint blocks survive only while their executors do, so on a real
    cluster an executor loss after construction fails downstream actions.
    Otherwise the plan stays fully LAZY: the same window subtree feeds
    every branch through Spark's exchange reuse, nothing executes until
    the caller's action, and no checkpoint exists to lose.
    Plan-asserted in tests/test_knn_tiling.py.
    """
    if not isinstance(queries, DataFrame) and n_queries is None:
        n_queries = len(queries)
    qdf = _as_query_df(points, queries)
    # No cache: the only eager actions are the (column-pruned) counts; the
    # candidate and fallback branches are consumed by the caller's single
    # action, each as one scan of the pruned fact columns.
    pts = with_cell_id(points, lat_col, lng_col)
    target = max(8.0 * k, 64.0)
    eager = (
        init_radius_rad is None
        and n_queries is not None
        and n_queries * target <= EAGER_CANDIDATES_MAX
    )
    if init_radius_rad is None:
        if n_points is None:
            n_points = pts.count()
        # Density-derived radius: expected in-cap candidates for a
        # uniform corpus = n * h / 2 with cap height h = 1 - cos(r).
        h = min(2.0, 2.0 * target / max(n_points or 1, 1))
        init_radius_rad = math.acos(max(-1.0, 1.0 - h))
    r_max = 0.49 * metrics.MIN_WIDTH.get_value(0)
    r = min(init_radius_rad, r_max)
    r2 = min(4.0 * r, r_max)
    radii = [r, r2] if _bucket_level(r2) < _bucket_level(r) else [r]

    out_cols = list(dict.fromkeys(["query_id", *points.columns, "cell_id", "dist", "rank"]))
    wq = Window.partitionBy("query_id")
    wrank = wq.orderBy(F.col("dist").asc(), F.col(id_col).asc())
    branches = []
    unresolved = qdf
    for rung, radius in enumerate(radii):
        ranked = (
            _bucket_join(pts, unresolved, radius, lat_col, lng_col)
            .withColumn("_n_in_r", F.count(F.lit(1)).over(wq))
            .withColumn("rank", F.row_number().over(wrank))
        )
        if eager and rung == 0:
            ranked = ranked.localCheckpoint(eager=True)
        resolved = F.col("_n_in_r") >= k
        branches.append(ranked.filter(resolved & (F.col("rank") <= k)).drop("_n_in_r"))
        resolved_q = ranked.filter(resolved & (F.col("rank") == 1)).select("query_id")
        unresolved = unresolved.join(resolved_q, "query_id", "left_anti")
        # Short-circuit: one tiny count over the checkpointed candidates;
        # when every query resolved, no re-probe or brute net is built.
        if eager and rung == 0 and unresolved.count() == 0:
            return branches[0].select(*out_cols)

    if n_points is not None and n_points <= BRUTE_NET_MAX_ROWS:
        branches.append(
            pts.crossJoin(F.broadcast(unresolved))
            .withColumn("dist", _dist(lat_col, lng_col))
            .withColumn("rank", F.row_number().over(wrank))
            .filter(F.col("rank") <= k)
        )

    out = branches[0].select(*out_cols)
    for b in branches[1:]:
        out = out.unionByName(b.select(*out_cols))
    return out
