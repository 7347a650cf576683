"""Geo near-duplicate pairs: spatially-blocked perceptual dedup.

Training corpora of geotagged images accumulate bursts of near-identical
shots at the same place (retries, livestream frames, re-uploads).  The
pair definition here is BOTH-axes near-dup: haversine distance <= radius
(P19, `S2LatLng.java:180-205`) AND phash Hamming distance <= a bit
budget.  This composes the engine's two grafted modalities — the S2
bucket machinery provides the spatial blocking, the perceptual hash the
content test.

Scale shape (the 100-TB plan):
- Blocking level L = deepest level whose MIN WIDTH >= radius
  (`S2Projections.java` metrics), so two points within the radius land
  in the same level-L cell or K21-adjacent cells (`S2CellId.java:640-682`)
  — the same one-ring completeness proof as the snap join.
- The K21 ring is computed on the DISTINCT-bucket grid, never the fact
  rows (the density-smooth discipline): the only Python hop touches
  <= min(n, 6*4^L) grid cells, and the ring map joins back natively
  (broadcast while it fits, shuffled equi-join above that).
- Each fact side shuffles once on the bucket key; a pair meets EXACTLY
  once because the probe ring is distinct and the match key is the
  right point's own (unique) bucket — no pair-dedup shuffle needed.
- The refine (haversine + bit_count(xor)) is 100% native codegen.

Pair explosion is bounded by density: a bucket holding k co-located
points emits k^2/2 candidates; radius chooses L, so cap density by
deduping exact-location first (dedup_exact) or lowering the radius —
the n-gram max_df lesson (`operators/dedup.py`), stated here so the
operator's contract is explicit rather than silently quadratic.

Hot-bucket skew (city-density): a bucket is both sides' join key, so
one dense city cell concentrates its k^2/2 candidate rows in a single
shuffle task.  ``salt=s`` spreads it with the pip packed-bit trick
(`pip_join.py`): the LEFT rows split into s salt classes by
pmod(xxhash64(id_l), s) packed into the bucket key's free low bits
(a level-L key keeps the single radix-sortable BIGINT), the ring map
replicates each (bucket, probe) edge to all s classes — carrying the
class on BOTH its keys — and the RIGHT side explodes over the s
classes so every left class still sees every right row.  A pair (l, r)
meets exactly once (in l's class), so the output is bit-identical; the
hot cell's k^2 candidate generation runs as s tasks of k^2/s.  Cost:
the right side shuffles s x instead of 1x (left stays 1x) — the
replicate-the-cheaper-side direction, since left fans out through the
9-cell ring anyway.

The r5 32M-row hot-city A/B (`BENCH/r5_geodedup_ab.jsonl`) replaced the
r4 pip-join assumption with operator-specific measurement:
- AQE's skew-join split does NOT absorb this operator's hot bucket
  (112.2 s ON vs 112.9 s OFF): the k^2 pair generation happens inside
  one join-key group, which OptimizeSkewedJoin cannot split the way it
  splits the pip prefix join's many-leaf-per-prefix partitions.
- GLOBAL salt=8 wins (81.1 s) but taxes the whole corpus with the s x
  right-side explode, and global salt=32 OOMs the 32M-row shuffle.
- ``salt_threshold`` (hot-ONLY salting) bounds the explode to the hot
  9-neighborhood so deep salts stay affordable — use it, or dedup exact
  locations first, for corpora with single-cell hot spots
  (stadium/landmark bursts) where one bucket dominates the corpus.
Both are one salting tree: global salting is hot-only salting with every
bucket hot.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.kernel import cellid

from s2_geometry_library_java_spark.functions.native import col_ref, haversine_sql, in_set_sql, parent_sql
from s2_geometry_library_java_spark.functions.udfs import s2_all_neighbors_udf
from s2_geometry_library_java_spark.kernel import metrics
from s2_geometry_library_java_spark.operators.dedup import spread

# ring-map rows (9 per populated bucket) below this broadcast; above it the
# candidate join degrades gracefully to a shuffled equi-join on the bucket
RING_BROADCAST_MAX = 2_000_000

# hot-only salting keeps the hot-bucket set driver-side (one parsed IN-set
# text, the pip PREFIX_IN_FILTER_MAX lesson): |hot| <= n_rows/salt_threshold by
# definition, and the cap guards the adversarial corpus where the caller's
# threshold admits too many
SALT_HOT_BUCKET_MAX = 4096


def geo_block_level(radius_rad: float) -> int:
    """Deepest level whose MIN_WIDTH still covers the radius."""
    return metrics.MIN_WIDTH.get_max_level(radius_rad)


def geo_neardup_pairs(
    points: DataFrame,
    radius_rad: float,
    max_hamming: int,
    id_col: str = "point_id",
    cell_col: str = "cell_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
    hash_col: str = "phash",
    n_rows: int | None = None,
    salt: int | None = None,
    salt_threshold: int | None = None,
) -> DataFrame:
    """(id_lo, id_hi, dist_nrad, hamming) for every pair within
    ``radius_rad`` on the sphere AND ``max_hamming`` phash bits.
    Distance reported in fixed-point nano-radians.

    ``n_rows``: optional corpus-size hint (same contract as
    ``pip_join(n_rows=...)``).  The ring map holds <= 9 rows per POPULATED
    bucket, and populated buckets <= min(n_rows, 6*4^L) — without the hint
    only the data-independent grid bound is known, which exceeds the
    broadcast cap for every level >= 8 (radius < ~23 km), i.e. exactly the
    realistic near-dup regime.  Pass the hint so meters-scale radii keep
    the broadcast plan while the bound stays a hard upper guard.

    ``salt``: hot-bucket skew mitigation (see module docstring) — splits
    the left side into ``salt`` classes packed into the bucket key's free
    low bits, replicates the ring edge per class, explodes the right side
    across classes.  Output is bit-identical to unsalted; use for corpora
    where one cell holds a large fraction of all rows.

    ``salt_threshold``: HOT-ONLY salting (requires ``salt``).  Global
    salting replicates the whole right side ``salt``x — measured at 32M
    rows it taxes the uniform background ~40% at salt=8 and OOMs the
    shuffle at salt=32 (`BENCH/r5_geodedup_ab.jsonl`) — so with a
    threshold, only buckets holding more than ``salt_threshold`` LEFT
    rows are salted: the hot-bucket set is counted with one map-side-
    combined aggregation (|hot| <= n/threshold, hard-capped at
    SALT_HOT_BUCKET_MAX), its 9-cell neighborhood is expanded driver-side
    with the K21 kernel, and the salt explode turns CONDITIONAL in one
    join tree — hot ring edges and hot-vicinity right rows replicate
    x salt, everything cold keeps exactly one class-0 replica, so the
    cold plan shape is unchanged and the output is bit-identical to
    unsalted.  This is the 100-TB shape: salt cost proportional to the
    HOT data, not the corpus.  NOTE: hot detection runs one bounded
    Spark job at DataFrame-construction time (the knn eager-job
    contract).
    """
    level = geo_block_level(radius_rad)
    if salt and salt > (1 << (2 * (30 - level))):
        raise ValueError(
            f"salt {salt} does not fit below the level-{level} bucket lsb"
        )
    if salt_threshold is not None and not salt:
        raise ValueError("salt_threshold requires salt")
    # broadcast-only joins inherit the SCAN's parallelism: spread() guards
    # the compacted-small-input case (one row group -> one core) and no-ops
    # on a well-partitioned corpus
    points = spread(points)
    bkt = F.expr(parent_sql(col_ref(cell_col), level))
    left = points.select(
        F.col(id_col).alias("id_l"),
        F.col(lat_col).alias("lat_l"),
        F.col(lng_col).alias("lng_l"),
        F.col(hash_col).alias("h_l"),
        bkt.alias("bucket"),
    )
    right = points.select(
        F.col(id_col).alias("id_r"),
        F.col(lat_col).alias("lat_r"),
        F.col(lng_col).alias("lng_r"),
        F.col(hash_col).alias("h_r"),
        bkt.alias("probe"),
    )
    # K21 one-ring over the distinct-bucket GRID only (one Python hop on
    # <= 6*4^L rows); ring is distinct per bucket, so downstream pairs are
    # emitted exactly once — no dedup pass.  Built from UNSALTED buckets
    # (the neighbor kernel needs real level-L ids); salt classes are packed
    # in afterwards, on both ring keys at once so a left row's class rides
    # through to the probe join.
    ring = (
        left.select("bucket")
        .distinct()
        .select(
            "bucket",
            F.explode(
                F.array_distinct(
                    F.concat(
                        F.array(F.col("bucket")),
                        s2_all_neighbors_udf(F.col("bucket"), F.lit(level)),
                    )
                )
            ).alias("probe"),
        )
    )
    # broadcastability decided from the tightest known bound on POPULATED
    # buckets: the data-independent grid (6*4^L cells) intersected with the
    # corpus-size hint (distinct buckets <= rows).  No extra count job —
    # with a hint, meters-scale radii (level >= 8, grid bound astronomical)
    # still broadcast the tiny populated ring; without one, the grid bound
    # alone decides and deep levels fall through to the shuffled equi-join.
    ring_bound = 6 * 4**level if n_rows is None else min(n_rows, 6 * 4**level)

    is_hot = None
    if salt and salt_threshold is None:
        # GLOBAL salting is the hot-only tree with every bucket hot: the
        # optimizer folds each CASE WHEN true away (SimplifyConditionals),
        # so every row and ring edge fans out x salt unconditionally
        is_hot = probe_is_hot = F.lit(True)
        ring_bound *= salt
    elif salt:
        # ONE bounded driver job: buckets above the threshold.  Map-side
        # combine keeps the count shuffle tiny; |hot| <= n/threshold by
        # definition, the LIMIT makes the bound a hard guard.
        hot_rows = (
            left.groupBy("bucket")
            .count()
            .filter(F.col("count") > F.lit(salt_threshold))
            .select("bucket")
            .limit(SALT_HOT_BUCKET_MAX + 1)
            .collect()
        )
        if len(hot_rows) > SALT_HOT_BUCKET_MAX:
            raise ValueError(
                f"salt_threshold={salt_threshold} admits more than "
                f"{SALT_HOT_BUCKET_MAX} hot buckets; raise the threshold "
                "or use global salting (salt_threshold=None)"
            )
        hot = sorted(int(r["bucket"]) for r in hot_rows)
        if hot:
            # the hot set's 9-neighborhood, expanded DRIVER-side with the
            # K21 kernel (<= 4096 cells, no extra Spark job): right rows
            # outside it can never meet a hot left row, so only they pay
            # the salt explode.
            hot_i64 = np.asarray(hot, dtype=np.int64)
            _, nbrs = cellid.get_all_neighbors(hot_i64.astype(np.uint64), level)
            probe_hot = sorted({int(v) for v in np.concatenate([hot_i64, nbrs.astype(np.int64)])})
            is_hot = F.expr(in_set_sql("bucket", hot))
            probe_is_hot = F.expr(in_set_sql("probe", probe_hot))
            ring_bound += len(hot) * (salt - 1)
    if is_hot is not None:
        # ONE join tree (a first-cut union-of-two-paths built the ring's
        # distinct+K21 hop twice and re-scanned the left side — measured
        # SLOWER than unsalted at 32M): the explode is CONDITIONAL, so hot
        # edges/rows fan out x salt while everything cold keeps exactly one
        # replica with salt class 0, and the cold plan shape is unchanged.
        # A pair (l, r) still meets exactly once: via class hash(id_l)%salt
        # when l's bucket is hot (r's class-matched replica exists because
        # hot's ring is inside probe_hot), via the class-0 edge otherwise.
        all_classes = F.array(*[F.lit(c) for c in range(salt)])
        one_class = F.array(F.lit(0))
        left = left.withColumn(
            "bucket",
            F.when(
                is_hot,
                F.col("bucket").bitwiseOR(F.pmod(F.xxhash64(F.col("id_l")), F.lit(salt))),
            ).otherwise(F.col("bucket")),
        )
        ring = ring.withColumn(
            "_c", F.explode(F.when(is_hot, all_classes).otherwise(one_class))
        ).select(
            F.col("bucket").bitwiseOR(F.col("_c")).alias("bucket"),
            F.col("probe").bitwiseOR(F.col("_c")).alias("probe"),
        )
        right = right.withColumn(
            "_c", F.explode(F.when(probe_is_hot, all_classes).otherwise(one_class))
        ).select(
            "id_r",
            "lat_r",
            "lng_r",
            "h_r",
            F.col("probe").bitwiseOR(F.col("_c")).alias("probe"),
        )

    if 9 * ring_bound <= RING_BROADCAST_MAX:
        ring = F.broadcast(ring)
    dist = F.expr(haversine_sql("lat_l", "lng_l", "lat_r", "lng_r"))
    ham = F.bit_count(F.col("h_l").bitwiseXOR(F.col("h_r")))
    # the radius test compares the RAW double (the completeness proof is in
    # true distance; rounding first would admit pairs epsilon past the
    # blocking guarantee); nano-radian fixed point is output-only
    return (
        left.join(ring, "bucket")
        .join(right, "probe")
        .filter(F.col("id_l") < F.col("id_r"))
        .filter((dist <= F.lit(radius_rad)) & (ham <= max_hamming))
        .select(
            F.col("id_l").alias("id_lo"),
            F.col("id_r").alias("id_hi"),
            F.round(dist * F.lit(1e9)).cast("bigint").alias("dist_nrad"),
            ham.cast("int").alias("hamming"),
        )
    )
