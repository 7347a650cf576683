"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship encode + covering-join pipeline on
sf0.001.  ``queries()`` exposes one entry per implemented operator family
from SURVEY.md §2; ``oracle_sql()`` gives the DuckDB ground truth for every
query whose semantics are ANSI-SQL-expressible (geotag derivation, rect/cap
membership, haversine ranking, hash/text arithmetic are all written with the
*identical* expression trees on both sides — probed bit-exact).  Queries
whose core is the Hilbert encode itself (tile tokens, loop-parity joins,
LSH) have no independent SQL ground truth and are listed without an oracle;
their correctness is pinned by the reference-test ports and brute-force
cross-checks under tests/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import (
    GEOTAG_LAT_SQL,
    GEOTAG_LNG_SQL,
    MIN_LONG,
    biased_sql,
    face_sql,
    haversine_sql,
    parent_sql,
)
from s2_geometry_library_java_spark.functions.udfs import (
    s2_all_neighbors_udf,
    s2_cell_id,
    s2_contains_udf,
    s2_face_udf,
    s2_from_token,
    s2_level_udf,
    s2_parent_udf,
    s2_range_max_udf,
    s2_range_min_udf,
    s2_token,
)
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.operators import ann, caps, decontam, dedup, text, trajectory
from s2_geometry_library_java_spark.operators.covering import covering_rows
from s2_geometry_library_java_spark.operators.knn import knn_join
from s2_geometry_library_java_spark.operators.layers import Layer, cap_layer, loop_layer, polygon_layer, rect_layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
from s2_geometry_library_java_spark.operators.tiling import tile_manifest
from s2_geometry_library_java_spark.sources.tables import (
    GEOTAG_POINTS_SQL,
    GEOTAG_QUERIES_SQL,
    geotagged_points,
    geotagged_queries,
    load_table,
)

# ---------------------------------------------------------------------------
# Fixed layer sets (geometry chosen to cover: plain rect, antimeridian-wrap
# rect, mid-lat + polar caps, a loop, and a polygon with a hole)
# ---------------------------------------------------------------------------
RECT_LAYERS = [
    rect_layer("r_eu", 35.0, -10.0, 60.0, 30.0),
    rect_layer("r_wrap", -20.0, 160.0, 20.0, -160.0),
    rect_layer("r_band", -15.0, -60.0, 15.0, 60.0),
]
CAP_LAYERS = [
    cap_layer("c_nyc", 40.7, -74.0, 18.0),
    cap_layer("c_spole", -90.0, 0.0, 25.0),
    cap_layer("c_tokyo", 35.7, 139.7, 12.0),
]
POLY_LAYERS = [
    loop_layer("l_tri", "0:0, 0:40, 35:20"),
    polygon_layer("p_hole", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
]
NATIVE_LAYERS = RECT_LAYERS + CAP_LAYERS
ALL_LAYERS = NATIVE_LAYERS + POLY_LAYERS

KNN_K = 5
KNN_NQ = 8
ANN_K = 5
ANN_NQ = 8
NEARDUP_TAU = 0.4


# ---------------------------------------------------------------------------
# Pseudo cell ids: valid S2 ids at varied levels derived from o_orderkey with
# overflow-free arithmetic (identical in Spark SQL and DuckDB) — the test
# vector for the bit-op kernels across the full unsigned domain (faces 4-5
# are negative signed longs).
# ---------------------------------------------------------------------------
_FACE_BASES = [0, 1 << 61, 2 << 61, 3 << 61, MIN_LONG, MIN_LONG + (1 << 61)]
_BASE_CASE = (
    "(CASE (o_orderkey % 6) "
    + " ".join(f"WHEN {f} THEN CAST({b} AS BIGINT)" for f, b in enumerate(_FACE_BASES))
    + " END)"
)
_POS_SQL = "(2 * ((o_orderkey * 2654435761) % 1152921504606846976) + 1)"
_LEAF_SQL = f"({_BASE_CASE} + {_POS_SQL})"
_LVL_SQL = "(7 + (o_orderkey % 24))"  # levels 7..30


def _pseudo_cells_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("point_id"),
        F.expr(parent_sql(_LEAF_SQL, _LVL_SQL)).alias("cell_id"),
        F.expr(_LVL_SQL).alias("lvl_in"),
    )


_PSEUDO_SQL = (
    "SELECT o_orderkey AS point_id, "
    f"(({_LEAF_SQL} & -(CAST(1 AS BIGINT) << (2 * (30 - {_LVL_SQL})))) "
    f"| (CAST(1 AS BIGINT) << (2 * (30 - {_LVL_SQL})))) AS cell_id, "
    f"{_LVL_SQL} AS lvl_in FROM orders"
)


# ---------------------------------------------------------------------------
# Spark query callables
# ---------------------------------------------------------------------------
def q_cellid_bitops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel (NumPy) level/parent/range/face/contains vs the SQL bit
    formulas (S2CellId.java:231-338) + unsigned Hilbert-order ranking."""
    df = _pseudo_cells_spark(spark, sf_dir)
    w = Window.orderBy(F.expr(biased_sql("cell_id")).asc(), F.col("point_id").asc())
    return df.select(
        "point_id",
        "cell_id",
        s2_level_udf("cell_id").alias("lvl"),
        s2_face_udf("cell_id").alias("face"),
        s2_parent_udf(F.col("cell_id"), F.least(F.lit(5), F.col("lvl_in"))).alias("parent5"),
        s2_range_min_udf("cell_id").alias("rmin"),
        s2_range_max_udf("cell_id").alias("rmax"),
        s2_contains_udf(
            s2_parent_udf(F.col("cell_id"), F.least(F.lit(5), F.col("lvl_in"))), F.col("cell_id")
        ).alias("in_parent"),
        F.row_number().over(w).alias("hilbert_rank"),
    )


_Q_CELLID_BITOPS_SQL = f"""
WITH p AS ({_PSEUDO_SQL})
SELECT point_id, cell_id,
  (30 - CAST(round(log2(cell_id & -cell_id) / 2.0) AS INT)) AS lvl,
  CAST((cell_id >> 61) & 7 AS INT) AS face,
  ((cell_id & -(CAST(1 AS BIGINT) << (2 * (30 - least(5, lvl_in)))))
    | (CAST(1 AS BIGINT) << (2 * (30 - least(5, lvl_in))))) AS parent5,
  (cell_id - ((cell_id & -cell_id) - 1)) AS rmin,
  (cell_id + ((cell_id & -cell_id) - 1)) AS rmax,
  TRUE AS in_parent,
  CAST(row_number() OVER (ORDER BY xor(cell_id, CAST({MIN_LONG} AS BIGINT)) ASC, point_id ASC) AS INT) AS hilbert_rank
FROM p
"""
# note: face via (>> 61) & 7 equals unsigned >> 61 for valid ids (top 3 bits <= 5)


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered spark.sql() function surface (functions/sql_api.py):
    every SQL-scalar s2_* function invoked BY NAME from raw SQL via CREATE
    TEMPORARY FUNCTION (inlined into codegen) — bit ops, unsigned-order
    bias, containment/intersection, haversine, geotag + anchor derivations,
    and the radius-level/metric helpers.  (The Arrow-UDF tier registered
    alongside — encode/decode/token/neighbors — is gated by cellid_token,
    encode_rollup, and cell_neighbors.)"""
    from s2_geometry_library_java_spark.functions.sql_api import register_sql_functions

    register_sql_functions(spark)
    _pseudo_cells_spark(spark, sf_dir).createOrReplaceTempView("pseudo_cells")
    # haversine feeds a RANK, not a raw output column: JVM Math.sin and
    # DuckDB libm differ by 1 ULP on some inputs, so raw doubles through
    # trig are not hash-comparable (same convention as the knn/pip gates).
    return spark.sql(
        """
        SELECT point_id, cell_id, lvl, face, parent5, rmin, rmax, in_parent, leaf,
               bias, isect_self, isect_far, glat, glng, alat, alng,
               rad_lvl, mw, aa,
               CAST(row_number() OVER (ORDER BY d0, point_id) AS INT) AS d0_rank
        FROM (
          SELECT point_id, cell_id,
                 s2_level(cell_id) AS lvl,
                 s2_face(cell_id) AS face,
                 s2_parent(cell_id, CAST(least(5, lvl_in) AS INT)) AS parent5,
                 s2_range_min(cell_id) AS rmin,
                 s2_range_max(cell_id) AS rmax,
                 s2_cell_contains(s2_parent(cell_id, CAST(least(5, lvl_in) AS INT)), cell_id) AS in_parent,
                 s2_is_leaf(cell_id) AS leaf,
                 s2_biased(cell_id) AS bias,
                 s2_cell_intersects(s2_parent(cell_id, CAST(least(5, lvl_in) AS INT)), cell_id) AS isect_self,
                 s2_cell_intersects(
                   s2_parent(cell_id, CAST(least(5, lvl_in) AS INT)),
                   s2_parent(cell_id, CAST(least(5, lvl_in) AS INT)) ^ shiftleft(CAST(1 AS BIGINT), 59)
                 ) AS isect_far,
                 s2_geotag_lat(point_id) AS glat,
                 s2_geotag_lng(point_id) AS glng,
                 s2_anchor_lat(cell_id) AS alat,
                 s2_anchor_lng(cell_id) AS alng,
                 s2_radius_level(0.001D * CAST(1 + point_id % 50 AS DOUBLE)) AS rad_lvl,
                 s2_min_width(CAST(least(5, lvl_in) AS INT)) AS mw,
                 s2_avg_area(CAST(least(5, lvl_in) AS INT)) AS aa,
                 s2_haversine_rad(s2_geotag_lat(point_id), s2_geotag_lng(point_id), 0.0D, 0.0D) AS d0
          FROM pseudo_cells
        )
        """
    )


def _sql_api_oracle() -> str:
    from s2_geometry_library_java_spark.kernel.metrics import AVG_AREA, MIN_WIDTH

    mw = f"CAST('{MIN_WIDTH.deriv!r}' AS DOUBLE)"
    aa = f"CAST('{AVG_AREA.deriv!r}' AS DOUBLE)"
    return f"""
WITH p AS ({_PSEUDO_SQL})
SELECT point_id, cell_id,
  (30 - CAST(round(log2(cell_id & -cell_id) / 2.0) AS INT)) AS lvl,
  CAST((cell_id >> 61) & 7 AS INT) AS face,
  ((cell_id & -(CAST(1 AS BIGINT) << (2 * (30 - least(5, lvl_in)))))
    | (CAST(1 AS BIGINT) << (2 * (30 - least(5, lvl_in))))) AS parent5,
  (cell_id - ((cell_id & -cell_id) - 1)) AS rmin,
  (cell_id + ((cell_id & -cell_id) - 1)) AS rmax,
  TRUE AS in_parent,
  ((cell_id & 1) = 1) AS leaf,
  xor(cell_id, (-9223372036854775807 - 1)) AS bias,
  TRUE AS isect_self,
  FALSE AS isect_far,
  {GEOTAG_LAT_SQL.format(key="point_id")} AS glat,
  {GEOTAG_LNG_SQL.format(key="point_id")} AS glng,
  (-90.0 + 180.0 * (CAST((cell_id >> 32) & 4294967295 AS DOUBLE) / 4294967296.0)) AS alat,
  (-180.0 + 360.0 * (CAST(cell_id & 4294967295 AS DOUBLE) / 4294967296.0)) AS alng,
  LEAST(29, GREATEST(0, CAST(FLOOR(LOG2({mw} /
    (CAST(0.001 AS DOUBLE) * (1 + point_id % 50)))) AS INT))) AS rad_lvl,
  {mw} * POWER(CAST(2 AS DOUBLE), CAST(1 - least(5, lvl_in) AS DOUBLE)) AS mw,
  {aa} * POWER(CAST(2 AS DOUBLE), CAST(2 * (1 - least(5, lvl_in)) AS DOUBLE)) AS aa,
  CAST(row_number() OVER (ORDER BY
    {haversine_sql(GEOTAG_LAT_SQL.format(key="point_id"), GEOTAG_LNG_SQL.format(key="point_id"), "0.0", "0.0")},
    point_id) AS INT) AS d0_rank
FROM p
"""


_Q_SQL_API_SQL = _sql_api_oracle()


def q_cellid_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token codec (S2CellId.java:439-498): kernel vs hex/rtrim arithmetic,
    and the round-trip back through fromToken."""
    df = _pseudo_cells_spark(spark, sf_dir)
    return df.select(
        "point_id",
        s2_token("cell_id").alias("token"),
        (s2_from_token(s2_token("cell_id")) == F.col("cell_id")).alias("roundtrip"),
    )


_Q_CELLID_TOKEN_SQL = f"""
WITH p AS ({_PSEUDO_SQL})
SELECT point_id, rtrim(printf('%016x', cell_id), '0') AS token, TRUE AS roundtrip FROM p
"""


def q_distinct_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-cardinality aggregate: exact count of distinct level-7
    ancestors per face (kernel UDFs vs SQL bit formulas)."""
    df = _pseudo_cells_spark(spark, sf_dir)
    return (
        df.select(s2_face_udf("cell_id").alias("face"), s2_parent_udf(F.col("cell_id"), F.least(F.lit(7), F.col("lvl_in"))).alias("p7"))
        .groupBy("face")
        .agg(F.countDistinct("p7").alias("n_cells"), F.count(F.lit(1)).alias("n_rows"))
    )


_Q_DISTINCT_CELLS_SQL = f"""
WITH p AS ({_PSEUDO_SQL})
SELECT CAST((cell_id >> 61) & 7 AS INT) AS face,
       count(DISTINCT ((cell_id & -(CAST(1 AS BIGINT) << (2 * (30 - least(7, lvl_in)))))
                        | (CAST(1 AS BIGINT) << (2 * (30 - least(7, lvl_in)))))) AS n_cells,
       count(*) AS n_rows
FROM p GROUP BY 1
"""


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: rollup(face, level) row counts over pseudo cells."""
    df = _pseudo_cells_spark(spark, sf_dir)
    return (
        df.select(s2_face_udf("cell_id").alias("face"), s2_level_udf("cell_id").alias("lvl"))
        .rollup("face", "lvl")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_Q_CELL_ROLLUP_SQL = f"""
WITH p AS ({_PSEUDO_SQL}),
 d AS (SELECT CAST((cell_id >> 61) & 7 AS INT) AS face,
              (30 - CAST(round(log2(cell_id & -cell_id) / 2.0) AS INT)) AS lvl
       FROM p)
SELECT face, lvl, count(*) AS n FROM d GROUP BY ROLLUP(face, lvl)
"""


def q_encode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Hilbert encode of geotagged points, rolled up by (face, coarse
    level-2 token); oracled by a pinned driver-side flat recomputation
    (_golden_encode_rollup_sql) plus the S2CellIdTest ports."""
    pts = with_cell_id(geotagged_points(spark, sf_dir))
    return (
        pts.withColumn("face", F.expr(face_sql("cell_id")))
        .withColumn("tile2", s2_token(F.expr(parent_sql("cell_id", 2))))
        .rollup("face", "tile2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("face", "tile2")
    )


def _pip_query(layers: list[Layer]):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        pts = geotagged_points(spark, sf_dir)
        m = pip_join(pts, layers)
        return m.select("point_id", "polygon_id")

    return fn


def _pip_oracle(layers: list[Layer]) -> str:
    arms = [
        f"SELECT point_id, '{l.polygon_id}' AS polygon_id FROM pts WHERE {l.sql_predicate('lat', 'lng')}"
        for l in layers
    ]
    return f"WITH pts AS ({GEOTAG_POINTS_SQL}) SELECT * FROM ({' UNION ALL '.join(arms)}) t"


def q_pip_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = geotagged_points(spark, sf_dir)
    m = pip_join(pts, ALL_LAYERS)
    return m.groupBy("polygon_id").agg(F.count(F.lit(1)).alias("n_points"))


_Q_PIP_COUNTS_SQL = (
    f"SELECT polygon_id, count(*) AS n_points FROM ({_pip_oracle(ALL_LAYERS)}) m GROUP BY polygon_id"
)


def q_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same join as pip_join_rect but through the shuffled prefix-partitioned
    interval join, the arm whose hot prefixes AQE's skew join splits (the
    one skew mechanism: static salting lost to it, BENCH/BASELINE.md) —
    must produce identical rows."""
    pts = geotagged_points(spark, sf_dir)
    m = pip_join(pts, RECT_LAYERS, broadcast_cells=False)
    return m.select("point_id", "polygon_id")


def q_pip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The beyond-broadcast arm, unsalted: prefix-partitioned interval join
    (SURVEY.md §4 round-4 note) over ALL layers — coarse-cell replication,
    the antimeridian wrap rect, and the face-5 polar cap all through the
    packed-BIGINT prefix equi-join with interval-containment residual."""
    pts = geotagged_points(spark, sf_dir)
    m = pip_join(pts, ALL_LAYERS, broadcast_cells=False)
    return m.select("point_id", "polygon_id")


# Constructor specs for ALL_LAYERS — the serializable layer dimension the
# fully distributed prefix arm builds its covering from ON EXECUTORS
# (covering_df_distributed -> prefix_candidates_df); must describe exactly
# the geometry of ALL_LAYERS so the dist arm's oracle is _pip_oracle(ALL_LAYERS).
ALL_LAYER_SPECS = [
    {"polygon_id": "r_eu", "kind": "rect", "lat_lo": 35.0, "lng_lo": -10.0, "lat_hi": 60.0, "lng_hi": 30.0},
    {"polygon_id": "r_wrap", "kind": "rect", "lat_lo": -20.0, "lng_lo": 160.0, "lat_hi": 20.0, "lng_hi": -160.0},
    {"polygon_id": "r_band", "kind": "rect", "lat_lo": -15.0, "lng_lo": -60.0, "lat_hi": 15.0, "lng_hi": 60.0},
    {"polygon_id": "c_nyc", "kind": "cap", "lat_deg": 40.7, "lng_deg": -74.0, "angle_deg": 18.0},
    {"polygon_id": "c_spole", "kind": "cap", "lat_deg": -90.0, "lng_deg": 0.0, "angle_deg": 25.0},
    {"polygon_id": "c_tokyo", "kind": "cap", "lat_deg": 35.7, "lng_deg": 139.7, "angle_deg": 12.0},
    {"polygon_id": "l_tri", "kind": "loop", "dsl": "0:0, 0:40, 35:20"},
    {"polygon_id": "p_hole", "kind": "polygon", "dsl": "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"},
]


def q_pip_prefix_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully DISTRIBUTED 100-TB arm (round-5 task 1): the covering is
    built executor-side by applyInPandas over the layer-spec dimension
    (covering_df_distributed), replicated to level-A prefixes in native
    sequence/explode SQL (prefix_cover_frame), probe-pruned by the auto
    rung (bounded dimension-side collect -> codegen IN-set below
    PREFIX_IN_FILTER_MAX distinct prefixes, broadcast left-semi beyond) —
    no covering row ever exists in driver Python.  Must emit exactly the
    pip_join_prefix rows (identical oracle)."""
    from s2_geometry_library_java_spark.operators.covering import JOIN_COVERING, covering_df_distributed

    cover = covering_df_distributed(spark, ALL_LAYER_SPECS, **JOIN_COVERING)
    pts = geotagged_points(spark, sf_dir)
    m = pip_join(pts, ALL_LAYERS, covering_frame=cover)
    return m.select("point_id", "polygon_id")


def q_pip_prefix_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed arm under the TERMINAL probe-prune rung: the
    covering-prefix set is summarized as a fixed-size Bloom bitmap
    (bloom_bitmap/bloom_prune — bit_or-aggregated words probed by broadcast
    word-lookup joins), the pruning posture for layer dimensions whose
    exact prefix set outgrows a broadcast.  pip_join escalates to that rung
    only past PREFIX_SEMI_PRUNE_MAX distinct prefixes, so this row composes
    the arm's private steps with the rung fixed.  False positives are
    removed by the exact prefix equi-join + interval residual, so this must
    emit exactly the pip_join_prefix rows (identical oracle)."""
    from s2_geometry_library_java_spark.operators.covering import JOIN_COVERING, covering_df_distributed
    from s2_geometry_library_java_spark.operators.pip_join import (
        _anchor_level,
        _prefix_join,
        prefix_cover_frame,
        refine_candidates,
    )

    cover = covering_df_distributed(spark, ALL_LAYER_SPECS, **JOIN_COVERING)
    pts = with_cell_id(geotagged_points(spark, sf_dir))
    level = _anchor_level(pts, None)
    cand = _prefix_join(pts, prefix_cover_frame(cover, level), "cell_id", level, "bloom")
    return refine_candidates(cand, ALL_LAYERS).select("point_id", "polygon_id")


def q_points_any_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: points inside at least one layer (§2.7 semi join)."""
    from s2_geometry_library_java_spark.operators.pip_join import pip_semi_join

    pts = geotagged_points(spark, sf_dir)
    return pip_semi_join(pts, ALL_LAYERS).select("point_id", "lat", "lng")


def q_points_no_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: points outside every layer (§2.7 anti join)."""
    from s2_geometry_library_java_spark.operators.pip_join import pip_semi_join

    pts = geotagged_points(spark, sf_dir)
    return pip_semi_join(pts, ALL_LAYERS, negate=True).select("point_id", "lat", "lng")


def _pip_exists_oracle(layers: list[Layer], negate: bool) -> str:
    pred = " OR ".join(f"({l.sql_predicate('lat', 'lng')})" for l in layers)
    if negate:
        pred = f"NOT ({pred})"
    return f"WITH pts AS ({GEOTAG_POINTS_SQL}) SELECT point_id, lat, lng FROM pts WHERE {pred}"


# Word -> layer gazetteer for the caption-extracted-regions leg: 8 of the 10
# synthetic caption vocabulary words name a layer; the other 2 are noise the
# inner dimension join must drop.
CAPTION_GAZETTEER = {
    "tile": "r_eu",
    "polygon": "r_wrap",
    "sphere": "r_band",
    "cell": "c_nyc",
    "hilbert": "c_spole",
    "face": "c_tokyo",
    "cover": "l_tri",
    "join": "p_hole",
}


def q_caption_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-extracted regions (the north star's second geotag leg,
    operators/captions.py): build the synthetic caption grammar natively
    over the geotagged points, parse the mention words back out
    (split + posexplode, zero Python), resolve them through the broadcast
    word->layer gazetteer, and validate each candidate with the anchor
    containment predicate (native CASE chain for rect/cap, parity kernel
    for loop/polygon).  Row-level output — the plan is shuffle-free."""
    from s2_geometry_library_java_spark.operators.captions import (
        CAPTION_VOCAB,
        caption_region_join,
    )

    pts = geotagged_points(spark, sf_dir)
    vocab = F.array(*[F.lit(w) for w in CAPTION_VOCAB])
    pid = F.col("point_id")
    cap = F.concat_ws(
        " ",
        F.lit("caption"),
        F.lpad(pid.cast("string"), 10, "0"),
        F.element_at(vocab, (F.pmod(pid, F.lit(10)) + F.lit(1)).cast("int")),
        F.element_at(vocab, (F.pmod(F.floor(pid / 10), F.lit(10)) + F.lit(1)).cast("int")),
    )
    imgs = pts.select(pid.alias("image_id"), cap.alias("caption"), "lat", "lng")
    m = caption_region_join(imgs, ALL_LAYERS, CAPTION_GAZETTEER)
    return m.select(F.col("image_id").alias("point_id"), "slot", "word", "polygon_id", "inside")


def _caption_regions_sql() -> str:
    from s2_geometry_library_java_spark.operators.captions import CAPTION_VOCAB

    vocab = "[" + ", ".join(f"'{w}'" for w in CAPTION_VOCAB) + "]"
    gaz = ", ".join(f"('{w}', '{p}')" for w, p in sorted(CAPTION_GAZETTEER.items()))
    arms = " ".join(
        f"WHEN '{l.polygon_id}' THEN ({l.sql_predicate('lat', 'lng')})"
        for l in ALL_LAYERS
        if l.polygon_id in set(CAPTION_GAZETTEER.values())
    )
    return f"""
WITH pts AS ({GEOTAG_POINTS_SQL}),
cap AS (SELECT point_id, lat, lng,
        concat('caption ', lpad(CAST(point_id AS VARCHAR), 10, '0'), ' ',
               ({vocab})[CAST(point_id % 10 AS INT) + 1], ' ',
               ({vocab})[CAST((point_id // 10) % 10 AS INT) + 1]) AS caption
        FROM pts),
tok AS (SELECT point_id, lat, lng, string_split(caption, ' ') AS t FROM cap),
men AS (SELECT point_id, lat, lng, CAST(0 AS INT) AS slot, t[3] AS word FROM tok
        UNION ALL
        SELECT point_id, lat, lng, CAST(1 AS INT) AS slot, t[4] AS word FROM tok),
gaz(word, polygon_id) AS (VALUES {gaz})
SELECT m.point_id, m.slot, m.word, g.polygon_id,
       CASE g.polygon_id {arms} END AS inside
FROM men m JOIN gaz g USING (word)
"""


def q_approx_distinct_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregate (§2.7): HyperLogLog++ distinct level-7 cells per
    face next to the exact count; the oracled claim is exactness of the exact
    column AND |approx - exact| <= max(1, 5% of exact) (estimator impls
    differ between engines, so the estimate itself is not hash-compared)."""
    df = _pseudo_cells_spark(spark, sf_dir)
    d = df.select(
        s2_face_udf("cell_id").alias("face"),
        s2_parent_udf(F.col("cell_id"), F.least(F.lit(7), F.col("lvl_in"))).alias("p7"),
    )
    agg = d.groupBy("face").agg(
        F.countDistinct("p7").alias("n_exact"),
        F.approx_count_distinct("p7", rsd=0.02).alias("_n_approx"),
    )
    ok = F.abs(F.col("_n_approx") - F.col("n_exact")) <= F.greatest(
        F.lit(1.0), F.lit(0.05) * F.col("n_exact")
    )
    return agg.select("face", "n_exact", ok.alias("approx_ok"))


_Q_APPROX_DISTINCT_SQL = f"""
WITH p AS ({_PSEUDO_SQL})
SELECT CAST((cell_id >> 61) & 7 AS INT) AS face,
       count(DISTINCT ((cell_id & -(CAST(1 AS BIGINT) << (2 * (30 - least(7, lvl_in)))))
                        | (CAST(1 AS BIGINT) << (2 * (30 - least(7, lvl_in)))))) AS n_exact,
       TRUE AS approx_ok
FROM p GROUP BY 1
"""


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing in the gate: synthesize 2000 image rows (bytes +
    caption + phash), decode through the fake codec, verify PSNR/caption
    invariants, roll up per fmt; oracled by a pinned flat recomputation
    (_golden_image_stats_sql)."""
    from s2_geometry_library_java_spark.operators.images import image_stats
    from s2_geometry_library_java_spark.sources.images import synthetic_images

    stats = image_stats(synthetic_images(spark, 2000, partitions=8))
    return (
        stats.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("psnr").alias("min_psnr"),
            F.sum(F.when(F.col("psnr") >= 40.0, 0).otherwise(1)).alias("psnr_violations"),
        )
        .orderBy("fmt")
    )


MOSAIC_N_IMAGES = 2000
MOSAIC_TILE_LEVEL = 3


def q_tile_mosaic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality fusion in ONE plan (the pyspark x image x S2 axes
    together): decode synthetic images through the batched fake codec,
    verify PSNR, geotag each image via its phash anchor (FIXTURES.md F1),
    Hilbert-encode, and roll the channel means up per level-3 S2 tile.
    Per-tile channel sums are fixed-point BIGINT micro-units (order-
    independent); min is order-independent for the psnr floor.  Oracled by
    a pinned driver-side numpy recompute over the identical codec + kernel
    code paths (_golden_tile_mosaic_sql)."""
    from s2_geometry_library_java_spark.operators.images import image_stats
    from s2_geometry_library_java_spark.plans.pipeline import encode_images
    from s2_geometry_library_java_spark.sources.images import synthetic_images

    stats = image_stats(
        synthetic_images(spark, MOSAIC_N_IMAGES, partitions=8), passthrough=("phash",)
    )
    enc = encode_images(stats).withColumn(
        "tile_id", F.expr(parent_sql("cell_id", MOSAIC_TILE_LEVEL))
    )
    return enc.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_images"),
        # floor(x*1e6 + 0.5), NOT round(): Spark rounds HALF_UP and numpy
        # HALF_EVEN, and channel means hit exact .5 micro-boundaries; the
        # explicit floor form is the same float64 ops on both gate sides.
        F.sum(F.floor(F.col("mean_r") * 1e6 + 0.5).cast("bigint")).alias("sum_r_micro"),
        F.sum(F.floor(F.col("mean_g") * 1e6 + 0.5).cast("bigint")).alias("sum_g_micro"),
        F.sum(F.floor(F.col("mean_b") * 1e6 + 0.5).cast("bigint")).alias("sum_b_micro"),
        F.round(F.min("psnr"), 6).alias("min_psnr"),
    )


def _golden_tile_mosaic_sql() -> str:
    """Driver-side recompute of the mosaic: same codec (image_stats_pandas),
    same anchor derivation, same kernel parent — pinned as typed VALUES."""
    from s2_geometry_library_java_spark.kernel import cellid as ck
    from s2_geometry_library_java_spark.operators.images import image_stats_pandas
    from s2_geometry_library_java_spark.sources.images import (
        images_pandas,
        phash_anchor_lat,
        phash_anchor_lng,
    )

    st = image_stats_pandas(images_pandas(0, MOSAIC_N_IMAGES), passthrough=("phash",))
    ph = st["phash"].to_numpy()
    cells = ck.from_latlng_degrees(phash_anchor_lat(ph), phash_anchor_lng(ph))
    st = st.assign(tile_id=ck.parent(cells, MOSAIC_TILE_LEVEL).view(np.int64))
    for c in ("r", "g", "b"):
        st[f"{c}_micro"] = np.floor(st[f"mean_{c}"].to_numpy() * 1e6 + 0.5).astype(np.int64)
    grp = (
        st.groupby("tile_id", sort=True)
        .agg(
            n_images=("tile_id", "size"),
            sum_r_micro=("r_micro", "sum"),
            sum_g_micro=("g_micro", "sum"),
            sum_b_micro=("b_micro", "sum"),
            min_psnr=("psnr", "min"),
        )
        .reset_index()
    )
    rows = [
        (int(t), int(n), int(r), int(g), int(b), round(float(p), 6))
        for t, n, r, g, b, p in grp.itertuples(index=False, name=None)
    ]
    return _values_sql(
        rows,
        "tile_id, n_images, sum_r_micro, sum_g_micro, sum_b_micro, min_psnr",
        casts={
            "tile_id": "BIGINT",
            "n_images": "BIGINT",
            "sum_r_micro": "BIGINT",
            "sum_g_micro": "BIGINT",
            "sum_b_micro": "BIGINT",
            "min_psnr": "DOUBLE",
        },
    )


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing in the gate (the images pattern applied to
    the round-2 audio stub): synthesize 2000 PCM rows, decode through the
    fake codec, extract windowed features, verify the SNR >= 40 dB
    invariant, roll up per fmt with ORDER-INDEPENDENT aggregates only
    (counts/int sums/float min-max — no distributed float sums, whose
    reduction order would diverge from the flat golden recompute)."""
    from s2_geometry_library_java_spark.operators.audio import audio_stats
    from s2_geometry_library_java_spark.sources.audio import synthetic_audio

    stats = audio_stats(synthetic_audio(spark, 2000, partitions=8))
    return (
        stats.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("snr").alias("min_snr"),
            F.sum(F.when(F.col("snr") >= 40.0, 0).otherwise(1)).alias("snr_violations"),
            F.sum("n_windows").alias("total_windows"),
            F.max("rms").alias("max_rms"),
            F.min("zcr").alias("min_zcr"),
            F.max("flux").alias("max_flux"),
            F.max("max_win_rms").alias("max_win_rms"),
        )
        .orderBy("fmt")
    )


def _golden_audio_stats_sql() -> str:
    """Flat recomputation of q_audio_stats' per-fmt rollup over the 2000
    deterministic synthetic audio rows — through the SAME batch-stats helper
    the Spark operator uses (identical FP operation order by construction)."""
    from s2_geometry_library_java_spark.operators.audio import audio_stats_pandas
    from s2_geometry_library_java_spark.sources.audio import audio_pandas

    stats = audio_stats_pandas(audio_pandas(0, 2000))
    rows = []
    for fmt, grp in sorted(stats.groupby("fmt"), key=lambda t: t[0]):
        sn = grp["snr"].to_numpy()
        rows.append(
            (
                str(fmt),
                len(grp),
                float(sn.min()),
                int((sn < 40.0).sum()),
                int(grp["n_windows"].sum()),
                float(grp["rms"].max()),
                float(grp["zcr"].min()),
                float(grp["flux"].max()),
                float(grp["max_win_rms"].max()),
            )
        )
    return _values_sql(
        rows,
        "fmt, n, min_snr, snr_violations, total_windows, max_rms, min_zcr, max_flux, max_win_rms",
        casts={"n": "BIGINT", "snr_violations": "BIGINT", "total_windows": "BIGINT"},
    )


VIDEO_EVERY_N = 4


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-modality plumbing in the gate (the last stub made real):
    synthesize 1000 frame-concatenated videos, sample every 4th frame,
    decode + verify the per-frame PSNR >= 40 dB invariant, roll up per fmt
    with order-independent aggregates (same convention as image/audio)."""
    from s2_geometry_library_java_spark.operators.video import video_frame_stats
    from s2_geometry_library_java_spark.sources.video import synthetic_videos

    stats = video_frame_stats(synthetic_videos(spark, 1000, partitions=8), every_n=VIDEO_EVERY_N)
    return (
        stats.groupBy("fmt")
        .agg(
            F.countDistinct("video_id").alias("n_videos"),
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.min("psnr").alias("min_psnr"),
            F.sum(F.when(F.col("psnr") >= 40.0, 0).otherwise(1)).alias("psnr_violations"),
            F.max("mean_all").alias("max_mean"),
            F.min("frame_idx").alias("min_frame_idx"),
            F.max("frame_idx").alias("max_frame_idx"),
        )
        .orderBy("fmt")
    )


def _golden_video_frames_sql() -> str:
    """Flat recomputation of q_video_frames' rollup over the 1000
    deterministic videos through the SAME batch helper as the operator."""
    from s2_geometry_library_java_spark.operators.video import video_frame_stats_pandas
    from s2_geometry_library_java_spark.sources.video import videos_pandas

    stats = video_frame_stats_pandas(videos_pandas(0, 1000), every_n=VIDEO_EVERY_N)
    rows = []
    for fmt, grp in sorted(stats.groupby("fmt"), key=lambda t: t[0]):
        ps = grp["psnr"].to_numpy()
        rows.append(
            (
                str(fmt),
                int(grp["video_id"].nunique()),
                len(grp),
                float(ps.min()),
                int((ps < 40.0).sum()),
                float(grp["mean_all"].max()),
                int(grp["frame_idx"].min()),
                int(grp["frame_idx"].max()),
            )
        )
    return _values_sql(
        rows,
        "fmt, n_videos, n_frames_sampled, min_psnr, psnr_violations, max_mean, min_frame_idx, max_frame_idx",
        casts={
            "n_videos": "BIGINT",
            "n_frames_sampled": "BIGINT",
            "psnr_violations": "BIGINT",
            "min_frame_idx": "INTEGER",
            "max_frame_idx": "INTEGER",
        },
    )


def q_tile_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covering join -> level-5 tile manifests (C5 denormalize bit math);
    oracled by pinned VALUES where DuckDB evaluates membership + tile bit
    math + tokens over kernel-encoded cells (_golden_tile_manifest_sql)."""
    pts = geotagged_points(spark, sf_dir)
    m = pip_join(pts, NATIVE_LAYERS)
    return tile_manifest(m, tile_level=5)


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queries flow in as a DataFrame — no driver-side collect; the operator
    is one declarative cell-bucket join (I4 PointIndex blueprint)."""
    pts = geotagged_points(spark, sf_dir)
    res = knn_join(
        pts, geotagged_queries(spark, sf_dir, limit=KNN_NQ), KNN_K, n_queries=KNN_NQ
    )
    return res.select(
        F.col("query_id").cast("long").alias("query_id"), "point_id", "rank"
    )


RADIUS_RAD = 0.12  # ~765 km; 2r well under MIN_WIDTH(0), level from the metric


def q_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius query (PointIndex queryCap mode): all points within RADIUS_RAD
    of each query, via the level-derived vertex-neighbor bucket join."""
    from s2_geometry_library_java_spark.operators.knn import radius_join

    pts = geotagged_points(spark, sf_dir)
    res = radius_join(pts, geotagged_queries(spark, sf_dir, limit=KNN_NQ), RADIUS_RAD)
    return res.select(F.col("query_id").cast("long").alias("query_id"), "point_id")


_Q_RADIUS_SQL = f"""
WITH pts AS ({GEOTAG_POINTS_SQL}),
 qs AS ({GEOTAG_QUERIES_SQL.format(limit=KNN_NQ)})
SELECT qs.query_id, pts.point_id
FROM qs CROSS JOIN pts
WHERE {haversine_sql('qs.qlat', 'qs.qlng', 'pts.lat', 'pts.lng')} <= {RADIUS_RAD}
"""


_Q_KNN_SQL = f"""
WITH pts AS ({GEOTAG_POINTS_SQL}),
 qs AS ({GEOTAG_QUERIES_SQL.format(limit=KNN_NQ)}),
 d AS (
   SELECT qs.query_id, pts.point_id,
          {haversine_sql('qs.qlat', 'qs.qlng', 'pts.lat', 'pts.lng')} AS dist
   FROM qs CROSS JOIN pts),
 r AS (
   SELECT query_id, point_id,
          CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, point_id ASC) AS INT) AS rank
   FROM d)
SELECT query_id, point_id, rank FROM r WHERE rank <= {KNN_K}
"""


# ---------------------------------------------------------------------------
# Covering / neighbor goldens (deterministic driver-side ops; the oracle is
# the pinned golden VALUES — determinism per S2RegionCovererTest.java:102-105)
# ---------------------------------------------------------------------------
_GOLDEN_LAYERS = [
    cap_layer("g_cap", 10.0, 20.0, 5.0),
    rect_layer("g_rect", -30.0, 100.0, -10.0, 140.0),
    loop_layer("g_loop", "45:-100, 45:-60, 70:-80"),
]


def _golden_covering_rows() -> list[tuple]:
    out = []
    for pid, cid, lvl, _rmin, _rmax, interior in covering_rows(_GOLDEN_LAYERS, max_cells=8):
        token = ck.to_token(np.array([cid], dtype=np.int64).view(np.uint64))[0]
        out.append((pid, token, lvl, interior))
    return out


def q_covering_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.createDataFrame(
        covering_rows(_GOLDEN_LAYERS, max_cells=8),
        "polygon_id string, cell_id long, level int, range_min long, range_max long, is_interior boolean",
    )
    return df.select("polygon_id", s2_token("cell_id").alias("token"), "level", "is_interior")


def _values_sql(rows: list[tuple], cols: str, casts: dict[str, str] | None = None) -> str:
    """Pin rows as a typed VALUES relation.

    ``casts`` maps column name -> SQL type; wrapped literals force the DuckDB
    side onto the exact dtype Spark produces (bare ints parse as INTEGER, so a
    BIGINT aggregate column needs the cast or the driver's typed value-hash
    fails — the round-1 event_sessions lesson).
    """
    names = [c.strip() for c in cols.split(",")]
    casts = casts or {}

    def lit(v, col):
        if v is None or (isinstance(v, float) and v != v):
            s = "NULL"
        elif isinstance(v, (bool, np.bool_)):
            s = "TRUE" if v else "FALSE"
        elif isinstance(v, str):
            s = "'" + v.replace("'", "''") + "'"
        elif isinstance(v, (float, np.floating)):
            # plain decimal literals parse as DECIMAL in DuckDB; route the
            # repr through a string->DOUBLE cast for strtod semantics
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        else:
            s = repr(int(v)) if isinstance(v, np.integer) else repr(v)
        t = casts.get(col)
        return f"CAST({s} AS {t})" if t else s

    vals = ", ".join(
        "(" + ", ".join(lit(v, c) for v, c in zip(row, names)) + ")" for row in rows
    )
    return f"SELECT * FROM (VALUES {vals}) AS t({cols})"


# --------------------------------------------------------------------------
# P12/P13 gate: loop area + true centroid through the Arrow UDF vs the same
# kernel evaluated flat on the driver (golden VALUES).
# --------------------------------------------------------------------------
_AREA_LOOPS = [
    ("tri", "0:0, 0:40, 35:20"),
    ("polar", "80:0, 80:120, 80:-120"),
    ("concave", "0:0, 0:30, 10:15, 20:30, 20:0, 10:8"),
    ("sliver", "10:10, 10:10.5, 10.52:10.25"),
]


def _area_loop_rows() -> list[tuple]:
    from s2_geometry_library_java_spark.geometry.text_format import make_loop

    rows = []
    for name, dsl in _AREA_LOOPS:
        loop = make_loop(dsl)
        area, c = loop.get_area_centroid(True)
        verts = [[float(x) for x in p] for p in loop.vertices]
        rows.append((name, verts, float(area), float(c[0]), float(c[1]), float(c[2])))
    return rows


def q_loop_area_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.functions.udfs import s2_loop_area_centroid_udf

    df = spark.createDataFrame(
        [(n, v) for n, v, *_ in _area_loop_rows()], "loop_id string, verts array<array<double>>"
    )
    ac = s2_loop_area_centroid_udf(F.col("verts"))
    return df.select(
        "loop_id",
        ac.getField("area").alias("area"),
        ac.getField("cx").alias("cx"),
        ac.getField("cy").alias("cy"),
        ac.getField("cz").alias("cz"),
    )


# --------------------------------------------------------------------------
# Polyline gate: interpolate + project + nearest-edge + distance through an
# Arrow UDF vs the same kernel flat on the driver (golden VALUES).
# --------------------------------------------------------------------------
_POLYLINE_DSL = "0:0, 0:10, 10:20, 20:20, 25:30"
_POLYLINE_PROBES = [
    (0.0, "1:1"), (0.1, "5:15"), (0.25, "-3:7"), (0.5, "12:21"),
    (0.77, "30:30"), (1.0, "21:24"),
]


def _polyline_rows() -> list[tuple]:
    from s2_geometry_library_java_spark.geometry.text_format import make_point, parse_vertices
    from s2_geometry_library_java_spark.geometry.polyline import S2Polyline

    line = S2Polyline(parse_vertices(_POLYLINE_DSL))
    rows = []
    for frac, probe_dsl in _POLYLINE_PROBES:
        p = make_point(probe_dsl)
        ip = line.interpolate(frac)
        pr_ = line.project(p)
        rows.append(
            (
                float(frac),
                probe_dsl,
                float(ip[0]), float(ip[1]), float(ip[2]),
                float(pr_[0]), float(pr_[1]), float(pr_[2]),
                int(line.get_nearest_edge_index(p)),
                float(line.get_distance(p)),
            )
        )
    return rows


_POLYLINE_COLS = "frac, probe, ix, iy, iz, px, py, pz, nearest_edge, dist"


def q_polyline_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.functions.udfs import s2_polyline_ops_udf

    df = spark.createDataFrame(
        [(float(f), d) for f, d in _POLYLINE_PROBES], "frac double, probe string"
    )
    r = s2_polyline_ops_udf(F.lit(_POLYLINE_DSL), F.col("frac"), F.col("probe"))
    return df.select(
        "frac", "probe",
        *[r.getField(c).alias(c) for c in ("ix", "iy", "iz", "px", "py", "pz", "nearest_edge", "dist")],
    )


_NEIGHBOR_TOKENS = ["1", "3", "5", "7", "9", "b", "89c25c", "2ef59bd352b93ac3"]


def _golden_neighbor_rows() -> list[tuple]:
    ids = ck.from_token(_NEIGHBOR_TOKENS)
    out = []
    for tok, cid in zip(_NEIGHBOR_TOKENS, ids):
        lvl = int(ck.level(np.array([cid]))[0])
        nbr_lvl = min(30, lvl + 1)
        _, nbrs = ck.get_all_neighbors(np.array([cid], dtype=np.uint64), nbr_lvl)
        for t in sorted(set(ck.to_token(nbrs))):
            out.append((tok, t))
    return out


def q_cell_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getAllNeighbors at level+1 for fixed cells (S2CellId.java:640-682)."""
    df = spark.createDataFrame([(t,) for t in _NEIGHBOR_TOKENS], "token string")
    cell = s2_from_token(F.col("token"))
    nbrs = s2_all_neighbors_udf(cell, F.least(F.lit(30), s2_level_udf(cell) + F.lit(1)))
    return (
        df.withColumn("nbr", F.explode(nbrs))
        .select("token", s2_token("nbr").alias("nbr_token"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Edge-crossing join (the S2EdgeIndex analog, operators/edge_join.py).
# Edges derive from o_orderkey inside a 10x10-degree box; the oracle states
# proper crossings via the same triple-product sign arithmetic the kernel's
# fast path uses (S2.java:248-264) — valid for generic-position data.
# ---------------------------------------------------------------------------
_EDGE_CTE = (
    "SELECT o_orderkey AS edge_id, "
    "cos((10.0 + 10.0 * (((o_orderkey * 2246822519 + 1013904223) % 4294967296) / 4294967296.0)) * 0.017453292519943295) * cos((5.0 + 10.0 * (((o_orderkey * 2654435761) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS ax, "
    "sin((10.0 + 10.0 * (((o_orderkey * 2246822519 + 1013904223) % 4294967296) / 4294967296.0)) * 0.017453292519943295) * cos((5.0 + 10.0 * (((o_orderkey * 2654435761) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS ay, "
    "sin((5.0 + 10.0 * (((o_orderkey * 2654435761) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS az, "
    "cos((10.5 + 10.0 * (((o_orderkey * 3266489917 + 668265263) % 4294967296) / 4294967296.0)) * 0.017453292519943295) * cos((5.5 + 10.0 * (((o_orderkey * 2654435789 + 374761393) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS bx, "
    "sin((10.5 + 10.0 * (((o_orderkey * 3266489917 + 668265263) % 4294967296) / 4294967296.0)) * 0.017453292519943295) * cos((5.5 + 10.0 * (((o_orderkey * 2654435789 + 374761393) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS by, "
    "sin((5.5 + 10.0 * (((o_orderkey * 2654435789 + 374761393) % 4294967296) / 4294967296.0)) * 0.017453292519943295) AS bz "
    "FROM orders WHERE o_orderkey % 13 = 0"
)


def q_edge_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.operators.edge_join import crossing_join

    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders")
    edges = spark.sql(_EDGE_CTE)
    # crossing > 0 keeps only proper crossings, matching the oracle's sign
    # test by construction (crossing == 0 shared-vertex pairs can't appear in
    # the triple-product SQL; the synthetic edges are generic-position anyway)
    return crossing_join(edges).filter(F.col("crossing") > 0)


_Q_EDGE_CROSSINGS_SQL = f"""
WITH e AS ({_EDGE_CTE}),
 p AS (
  SELECT a.edge_id AS id_a, b.edge_id AS id_b,
    -((a.ay * a.bz - a.az * a.by) * b.ax + (a.az * a.bx - a.ax * a.bz) * b.ay + (a.ax * a.by - a.ay * a.bx) * b.az) AS acb,
     ((a.ay * a.bz - a.az * a.by) * b.bx + (a.az * a.bx - a.ax * a.bz) * b.by + (a.ax * a.by - a.ay * a.bx) * b.bz) AS bda,
    -((b.ay * b.bz - b.az * b.by) * a.bx + (b.az * b.bx - b.ax * b.bz) * a.by + (b.ax * b.by - b.ay * b.bx) * a.bz) AS cbd,
     ((b.ay * b.bz - b.az * b.by) * a.ax + (b.az * b.bx - b.ax * b.bz) * a.ay + (b.ax * b.by - b.ay * b.bx) * a.az) AS dac
  FROM e a JOIN e b ON a.edge_id < b.edge_id)
SELECT id_a, id_b, CAST(1 AS INT) AS crossing
FROM p WHERE acb * bda > 0 AND acb * cbd > 0 AND acb * dac > 0
"""


# ---------------------------------------------------------------------------
# Cell-union set ops + metric calibration (C4/C6/C7, K22) — deterministic
# driver-side ops pinned by golden VALUES (verified against reference-test
# ports under tests/).
# ---------------------------------------------------------------------------
def _setop_unions():
    from s2_geometry_library_java_spark.geometry import S2CellUnion, S2RegionCoverer

    cov = S2RegionCoverer(max_cells=12)
    u1 = cov.get_covering_union(cap_layer("a", 20.0, 30.0, 8.0).region)
    u2 = cov.get_covering_union(cap_layer("b", 24.0, 34.0, 8.0).region)
    ex = S2CellUnion(u1.ids.copy())
    ex.expand_level(4)
    # C8 slice (S2CellUnion.java:246-264): the covering restricted to one
    # cell — taken at the level-3 ancestor of u1's first cell so the slice
    # is a proper non-empty subset.
    sl = u1.intersection_with_cell(ck.parent(u1.ids[:1], 3)[0])
    return [
        ("union", S2CellUnion.union_of(u1, u2)),
        ("intersection", S2CellUnion.intersection_of(u1, u2)),
        ("expand_l4", ex),
        ("slice_l3", sl),
    ]


def _setop_rows() -> list[tuple]:
    rows = []
    for op, u in _setop_unions():
        for tok in ck.to_token(u.ids):
            rows.append((op, tok))
    return rows


def q_cellunion_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(_setop_rows(), "op string, token string")


def _metric_rows() -> list[tuple]:
    from s2_geometry_library_java_spark.kernel import metrics as m

    rows = []
    for lv in range(0, 31):
        rows.append(
            (
                lv,
                float(m.MIN_WIDTH.get_value(lv)),
                float(m.MAX_WIDTH.get_value(lv)),
                float(m.AVG_AREA.get_value(lv)),
                int(m.MIN_WIDTH.get_max_level(m.MIN_WIDTH.get_value(lv))),
                int(m.MIN_WIDTH.get_min_level(m.MIN_WIDTH.get_value(lv))),
            )
        )
    return rows


def q_metric_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _metric_rows(),
        "level int, min_width double, max_width double, avg_area double, max_level_rt int, min_level_rt int",
    )


# ---------------------------------------------------------------------------
# Documents: dedup + text analysis
# ---------------------------------------------------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


_Q_DEDUP_EXACT_SQL = (
    "SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies "
    "FROM documents GROUP BY md5(text)"
)


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.minhash_signatures(load_table(spark, sf_dir, "documents"))
    return sigs.select("doc_id", F.posexplode("sig").alias("hash_idx", "minhash"))


_Q_MINHASH_SIGS_SQL = f"""
WITH sh AS (SELECT doc_id, {dedup.shingles_duck('text')} AS shingles FROM documents),
 hs AS (SELECT doc_id, list_transform(shingles, s -> {dedup.hash61_duck('s')}) AS hs FROM sh),
 sig AS (SELECT doc_id, {dedup.minhash_sig_duck('hs')} AS sig FROM hs)
SELECT doc_id, CAST(u.i - 1 AS INT) AS hash_idx, sig[u.i] AS minhash
FROM sig, (SELECT unnest(range(1, {len(dedup.MINHASH_COEFFS)} + 1)) AS i) u
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_neardup_pairs(load_table(spark, sf_dir, "documents"), threshold=0.35)


_ROWS_PER_BAND = len(dedup.MINHASH_COEFFS) // dedup.LSH_BANDS
# The MinHash-LSH CTE chain, shared by the pairs gate and the clusters /
# collapse gates (which run connected components over the same pairs).
_MINHASH_CHAIN_SQL = f"""
 sh AS (SELECT doc_id, {dedup.shingles_duck('text')} AS shingles FROM documents),
 hs AS (SELECT doc_id, shingles, list_transform(shingles, s -> {dedup.hash61_duck('s')}) AS hs FROM sh),
 sig AS (SELECT doc_id, shingles, {dedup.minhash_sig_duck('hs')} AS sig FROM hs),
 bands AS (
   SELECT doc_id, b.band,
     md5(array_to_string(list_transform(
       list_slice(sig, b.band * {_ROWS_PER_BAND} + 1, b.band * {_ROWS_PER_BAND} + {_ROWS_PER_BAND}),
       x -> cast(x as varchar)), ',')) AS band_key
   FROM sig, (SELECT unnest(range(0, {dedup.LSH_BANDS})) AS band) b),
 cand AS (
   SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
   FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
 j AS (
   SELECT c.id_a, c.id_b,
     round(len(list_intersect(sa.shingles, sb.shingles))
           / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles))) AS DOUBLE), 9) AS jaccard
   FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b)
"""

_Q_MINHASH_PAIRS_SQL = f"""
WITH{_MINHASH_CHAIN_SQL}
SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.35
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash-LSH pairs -> distributed
    connected components (large-star/small-star) -> (doc_id, cluster_id)
    over the whole corpus, cluster_id = component-min doc id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_neardup_pairs(docs, threshold=0.35)
    return dedup.neardup_clusters(pairs, docs)


# The oracle computes the same components with a recursive CTE: every doc
# seeds its own label, labels flow along (symmetrized) pair edges until the
# UNION fixpoint, min reachable label = component min = cluster id.
_CLUSTERS_CHAIN_SQL = f"""{_MINHASH_CHAIN_SQL},
 pairs AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.35),
 edges AS (SELECT id_a AS ea, id_b AS eb FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
 comp(node, label) AS (
   SELECT doc_id, doc_id FROM documents
   UNION
   SELECT e.eb, c.label FROM comp c JOIN edges e ON e.ea = c.node),
 clusters AS (SELECT node AS doc_id, min(label) AS cluster_id FROM comp GROUP BY node)
"""

_Q_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE{_CLUSTERS_CHAIN_SQL}
SELECT doc_id, cluster_id FROM clusters
"""


def q_neardup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse each near-dup cluster to its keeper row (the cluster-min doc)
    annotated with the member count; singletons keep n_members = 1."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_neardup_pairs(docs, threshold=0.35)
    clusters = dedup.neardup_clusters(pairs, docs)
    return dedup.collapse_neardups(docs, clusters).select(
        "doc_id", "lang", "n_chars", "n_members"
    )


_Q_NEARDUP_COLLAPSE_SQL = f"""
WITH RECURSIVE{_CLUSTERS_CHAIN_SQL},
 sizes AS (SELECT cluster_id, count(*) AS n_members FROM clusters GROUP BY cluster_id)
SELECT d.doc_id, d.lang, d.n_chars, s.n_members
FROM documents d JOIN sizes s ON s.cluster_id = d.doc_id
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(load_table(spark, sf_dir, "documents"))


_Q_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id, {dedup.token_hashes_duck('text')} AS ths FROM documents)
SELECT doc_id, {dedup.simhash_duck('ths')} AS simhash FROM t
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_neardup_pairs(load_table(spark, sf_dir, "documents"), max_hamming=8)


_Q_SIMHASH_PAIRS_SQL = f"""
WITH t AS (SELECT doc_id, {dedup.token_hashes_duck('text')} AS ths FROM documents),
 f AS (SELECT doc_id, {dedup.simhash_duck('ths')} AS simhash FROM t)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM f a JOIN f b ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (inverted-index join; the
    deterministic sibling of the MinHash-LSH gate).  max_df=None: the
    full-domain exactness gate."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.35, max_df=None
    )


# The capped gate's df cap must BITE at gate scale to prove anything: sf0.01
# gram document frequencies top out at 7 (99th pct 4), so 4 actually drops
# grams while the production default (dedup.NGRAM_MAX_DF) wouldn't.
NGJ_CAP_DF = 4


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-gram-capped variant (the production default semantics):
    grams in more than NGJ_CAP_DF docs are pruned, making jaccard a
    documented lower bound; the oracle applies the identical df filter, so
    the gate proves exactness on the capped domain."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.35, max_df=NGJ_CAP_DF
    )


_NGJ_RATIO = "round(CAST(i.n_common AS DOUBLE) / CAST(sa.n + sb.n - i.n_common AS DOUBLE), 9)"


def _ngram_jaccard_sql(max_df: int | None = None) -> str:
    cap = f" HAVING count(*) <= {max_df}" if max_df is not None else ""
    capped_posts = (
        f", pc AS (SELECT p.doc_id, p.gh FROM p JOIN (SELECT gh FROM p GROUP BY gh{cap}) f USING (gh))"
        if max_df is not None
        else ""
    )
    src = "pc" if max_df is not None else "p"
    return f"""
WITH g AS (SELECT doc_id, {dedup.word_ngrams_duck('text')} AS grams FROM documents),
 s AS (SELECT doc_id, len(grams) AS n FROM g),
 p0 AS (SELECT doc_id, unnest(grams) AS gram FROM g),
 p AS (SELECT doc_id, md5(gram) AS gh FROM p0){capped_posts},
 i AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
       FROM {src} a JOIN {src} b ON a.gh = b.gh AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT i.id_a, i.id_b, i.n_common, {_NGJ_RATIO} AS jaccard
FROM i JOIN s sa ON sa.doc_id = i.id_a JOIN s sb ON sb.doc_id = i.id_b
WHERE {_NGJ_RATIO} >= 0.35
"""


_Q_NGRAM_JACCARD_SQL = _ngram_jaccard_sql()


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_profile(load_table(spark, sf_dir, "documents"))


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile aggregates (§2.7): exact p50/p90/p99 of event value per
    type, plus the approx_percentile scale path pinned within 2% of the
    exact anchor (sketch internals differ between engines, so the estimate
    itself is bound-checked, not hash-compared — the approx_distinct
    pattern).  At corpus scale the exact form is the oracle-only anchor;
    approx_percentile (GK sketch, mergeable partials) is the plan you run."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("_a50"),
        F.max("value").alias("_vmax"),
        F.min("value").alias("_vmin"),
    )
    ok = F.abs(F.col("_a50") - F.col("p50")) <= 0.02 * (F.col("_vmax") - F.col("_vmin"))
    return agg.select("event_type", "p50", "p90", "p99", ok.alias("approx_ok"))


_Q_VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       TRUE AS approx_ok
FROM events GROUP BY event_type
"""


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-level repetition metrics (duplicate-word /
    top-word / duplicate-bigram fractions) — the corpus-quality filter
    companion to q_text_profile."""
    return text.text_repetition(load_table(spark, sf_dir, "documents"))


def _quality_repetition_sql() -> str:
    cols = ["doc_id"]
    for name, e in text.repetition_exprs("duck").items():
        cols.append(f"round({e}, 9) AS {name}" if name.startswith("frac_") else f"{e} AS {name}")
    return "SELECT " + ", ".join(cols) + " FROM documents"


# Deterministic eval split for the decontamination gate: 1-in-41 docs form
# the "benchmark"; the rest are the training corpus scanned for overlap.
DECONTAM_EVAL_MOD = 41


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination: training docs sharing any word
    trigram with the deterministic 1-in-41 eval split, with per-doc
    contaminated-gram counts and ratios."""
    docs = load_table(spark, sf_dir, "documents")
    return decontam.ngram_contamination(
        docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD != 0),
        docs.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0),
    )


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup over geotagged events: step distances in
    fixed-point nano-radians (order-independent integer sums) plus the
    level-0 long-step count — many-polylines S2Polyline measures."""
    return trajectory.trajectory_stats(load_table(spark, sf_dir, "events"))


# geo_neardup gate: both-axes near-dup (spatial radius AND phash Hamming).
# The oracle is a TRUE brute all-pairs self-join in DuckDB, so the gate
# subsets to point_id % 3 == 0 to keep the oracle O((n/3)^2) at sf0.01.
GEO_NEARDUP_RADIUS = 0.03
GEO_NEARDUP_HAMMING = 4
GEO_NEARDUP_MOD = 3
_PHASH_SQL = "((point_id * 40503) % 65536)"  # 16-bit, BIGINT-exact in both engines


def q_geo_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatially-blocked perceptual near-dup pairs (operators/geodedup.py):
    bucket join at the radius-derived level + K21 one-ring, native
    haversine + bit_count refine — no all-pairs anywhere."""
    from s2_geometry_library_java_spark.operators.geodedup import geo_neardup_pairs

    pts = (
        with_cell_id(
            geotagged_points(spark, sf_dir).filter(F.col("point_id") % GEO_NEARDUP_MOD == 0)
        )
        .withColumn("phash", (F.col("point_id") * F.lit(40503)) % F.lit(65536))
    )
    return geo_neardup_pairs(pts, GEO_NEARDUP_RADIUS, GEO_NEARDUP_HAMMING)


def q_geo_neardup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket salted path of geo_neardup_pairs (round-5 task 4):
    left salt classes packed into the bucket key, ring edges replicated per
    class, right side exploded — must emit bit-identical pairs to the
    unsalted plan, gated by the same brute all-pairs oracle."""
    from s2_geometry_library_java_spark.operators.geodedup import geo_neardup_pairs

    pts = (
        with_cell_id(
            geotagged_points(spark, sf_dir).filter(F.col("point_id") % GEO_NEARDUP_MOD == 0)
        )
        .withColumn("phash", (F.col("point_id") * F.lit(40503)) % F.lit(65536))
    )
    return geo_neardup_pairs(pts, GEO_NEARDUP_RADIUS, GEO_NEARDUP_HAMMING, salt=4)


def q_geo_neardup_salted_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-ONLY salting (round-5 follow-on to the 32M A/B): buckets above
    salt_threshold rows are salted and their 9-neighborhood replicated;
    the cold corpus keeps the unsalted single-shuffle plan; the disjoint
    pair streams union to the exact unsalted output.  Same brute all-pairs
    oracle as geo_neardup — the union/threshold machinery must be invisible
    in the result."""
    from s2_geometry_library_java_spark.operators.geodedup import geo_neardup_pairs

    pts = (
        with_cell_id(
            geotagged_points(spark, sf_dir).filter(F.col("point_id") % GEO_NEARDUP_MOD == 0)
        )
        .withColumn("phash", (F.col("point_id") * F.lit(40503)) % F.lit(65536))
    )
    return geo_neardup_pairs(
        pts, GEO_NEARDUP_RADIUS, GEO_NEARDUP_HAMMING, salt=4, salt_threshold=16
    )


def _oracle_geo_neardup_sql() -> str:
    """Brute all-pairs recompute: every candidate-generation decision in the
    plan (blocking level, neighbor ring, pair dedup) is independently checked
    because the oracle never blocks at all."""
    from s2_geometry_library_java_spark.functions.native import haversine_sql

    hav = haversine_sql("a.lat", "a.lng", "b.lat", "b.lng")
    return f"""
WITH pts AS (
  SELECT point_id, lat, lng, {_PHASH_SQL} AS phash
  FROM ({GEOTAG_POINTS_SQL}) WHERE point_id % {GEO_NEARDUP_MOD} = 0
), pairs AS (
  SELECT a.point_id AS id_lo, b.point_id AS id_hi,
         {hav} AS dist,
         CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
  FROM pts a JOIN pts b ON a.point_id < b.point_id
)
SELECT id_lo, id_hi, CAST(round(dist * 1e9) AS BIGINT) AS dist_nrad, hamming
FROM pairs
WHERE dist <= {GEO_NEARDUP_RADIUS!r} AND hamming <= {GEO_NEARDUP_HAMMING}
"""


# simplify_traj gate: 0.8 rad tolerance — geotagged fixture trajectories are
# globe-scattered, so a road-scale tolerance would keep everything; 0.8 rad
# forces real elimination while every trace still keeps its endpoints.
SIMPLIFY_TOL_RAD = 0.8


def q_simplify_traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical Douglas-Peucker per user trajectory (operators/simplify.py):
    one groupBy(user) Arrow hop, vectorized P9 farthest-point scans inside."""
    from s2_geometry_library_java_spark.operators.simplify import simplify_trajectories

    return simplify_trajectories(load_table(spark, sf_dir, "events"), SIMPLIFY_TOL_RAD)


def _golden_simplify_traj_sql() -> str:
    """Independent recompute: plain recursive descent (the textbook DP shape)
    instead of the operator's iterative stack — the gate pins the distributed
    grouping/ordering plumbing AND that both control flows keep identical
    vertex sets."""
    import duckdb

    from s2_geometry_library_java_spark.functions.native import (
        GEOTAG_LAT_SQL,
        GEOTAG_LNG_SQL,
    )
    from s2_geometry_library_java_spark.kernel import predicates as pr

    con = duckdb.connect()
    try:
        pdf = con.execute(
            f"""SELECT user_id, event_id,
                       {GEOTAG_LAT_SQL.format(key='event_id')} AS lat,
                       {GEOTAG_LNG_SQL.format(key='event_id')} AS lng
                FROM read_parquet('{_GATE_SF}/events.parquet')
                ORDER BY user_id, ts, event_id"""
        ).df()
    finally:
        con.close()
    rows: list[tuple] = []
    for uid, grp in pdf.groupby("user_id", sort=True):
        grp = grp.reset_index(drop=True)
        xyz = ck.latlng_degrees_to_xyz(
            grp["lat"].to_numpy(np.float64), grp["lng"].to_numpy(np.float64)
        )
        keep = np.zeros(len(grp), dtype=bool)
        keep[0] = keep[-1] = True

        def rec(i: int, j: int) -> None:
            if j <= i + 1:
                return
            d = pr.edge_distance(xyz[i + 1 : j], xyz[i][None, :], xyz[j][None, :])
            k = i + 1 + int(np.argmax(d))
            if d[k - i - 1] > SIMPLIFY_TOL_RAD:
                keep[k] = True
                rec(i, k)
                rec(k, j)

        rec(0, len(grp) - 1)
        for seq in np.nonzero(keep)[0]:
            rows.append(
                (
                    int(uid),
                    int(seq),
                    int(grp["event_id"].iloc[seq]),
                    float(grp["lat"].iloc[seq]),
                    float(grp["lng"].iloc[seq]),
                )
            )
    return _values_sql(
        rows,
        "user_id, seq, event_id, lat, lng",
        casts={"user_id": "BIGINT", "seq": "BIGINT", "event_id": "BIGINT"},
    )


def q_bounding_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user bounding cap (operators/caps.py): centroid axis from
    order-independent fixed-point vector sums, radius = exact max angle
    back to each point — the distributed S2Cap.addPoint/getCapBound."""
    return caps.bounding_caps(load_table(spark, sf_dir, "events"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every event annotated with the latest
    same-or-earlier 'error' event of its user (tagged-union sort-fill —
    one shuffle, no range explode).  The right side is pre-deduped per
    (user, ts) as the operator contract requires; DuckDB's native
    ASOF JOIN states the oracle."""
    from s2_geometry_library_java_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    right = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("event_id"), F.expr("max_by(value, event_id)").alias("value"))
    )
    return asof_join(ev.select("event_id", "user_id", "ts"), right, "user_id", payload_cols=["event_id", "value"])


_Q_ASOF_SQL = """
WITH r AS (SELECT user_id, ts, max(event_id) AS event_id, max_by(value, event_id) AS value
           FROM events WHERE event_type = 'error' GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.ts,
       r.ts AS asof_ts, r.event_id AS asof_event_id, r.value AS asof_value
FROM events l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval-overlap join: every event paired with every
    30-minute incident window (opened by each 'error' event of the same
    user) that contains it — bucketed equi-join + exact refine, never a
    per-key nested-loop (operators/interval_join.py)."""
    from s2_geometry_library_java_spark.operators.interval_join import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    pairs = interval_overlap_join(ev.select("event_id", "user_id", "ts"), iv)
    return pairs.select("event_id", "interval_id")


_Q_INTERVAL_JOIN_SQL = """
WITH iv AS (SELECT user_id, event_id AS interval_id, ts AS start_ts,
                   ts + INTERVAL 30 MINUTE AS end_ts
            FROM events WHERE event_type = 'error')
SELECT e.event_id, i.interval_id
FROM events e JOIN iv i
  ON e.user_id = i.user_id AND e.ts >= i.start_ts AND e.ts <= i.end_ts
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution time rollup (minute/hour/day) in
    one GROUPING SETS pass; value sums are fixed-point BIGINT micro-units
    so partial-agg order can't move the result."""
    from s2_geometry_library_java_spark.operators.asof import time_rollup

    return time_rollup(load_table(spark, sf_dir, "events"))


def _time_rollup_oracle_sql() -> str:
    from s2_geometry_library_java_spark.operators.asof import time_rollup_sql

    return time_rollup_sql()


def _text_profile_sql() -> str:
    cols = ["doc_id", f"{text.langid_case('duck')} AS lang_guess"]
    for name, e in text.token_count_exprs("duck").items():
        cols.append(f"CAST({e} AS INT) AS {name}" if name != "n_chars" else f"CAST({e} AS INT) AS {name}")
    for name, e in text.quality_exprs("duck").items():
        cols.append(f"round({e}, 9) AS {name}")
    for name, e in text.fingerprint_exprs("duck").items():
        cols.append(f"{e} AS {name}")
    return "SELECT " + ", ".join(cols) + " FROM documents"


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
SAMPLE_FRACTION = 0.25
SHARD_BUDGET_TOKENS = 2000
SHARD_BUCKETS = 16


def q_sample_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dataset splits + an independent salted sample flag —
    stateless per-row hash arithmetic (no rand(), no shuffle), the
    lineage-stable train/val/test separation a 10^12-row corpus needs.
    Returned per-row so the oracle pins every assignment exactly."""
    from s2_geometry_library_java_spark.operators import prep

    docs = load_table(spark, sf_dir, "documents")
    out = prep.assign_splits(docs, SPLIT_WEIGHTS, "doc_id")
    return out.select(
        "doc_id",
        "split",
        F.expr(prep.sample_filter_sql(SAMPLE_FRACTION, "doc_id", salt=7)).alias("in_sample"),
    )


def _sample_splits_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep

    return (
        f"SELECT doc_id, {prep.split_case_sql(SPLIT_WEIGHTS, 'doc_id')} AS split, "
        f"{prep.sample_filter_sql(SAMPLE_FRACTION, 'doc_id', salt=7)} AS in_sample "
        f"FROM documents"
    )


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment via the two-stage cumsum (per-bucket
    windows + broadcast exclusive offsets — no global sort); the oracle
    recomputes it as the single global window the operator avoids."""
    from s2_geometry_library_java_spark.operators import prep

    return prep.shard_by_token_budget(
        load_table(spark, sf_dir, "documents"),
        SHARD_BUDGET_TOKENS,
        n_buckets=SHARD_BUCKETS,
    )


def _token_shards_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep

    return prep.shard_oracle_sql(
        "documents", SHARD_BUDGET_TOKENS, n_buckets=SHARD_BUCKETS
    )


PACK_CONTEXT_LEN = 512
MIXTURE_FRACTIONS = {
    # testdata sources are src0..src19; a mixture that exercises full-keep,
    # heavy and light downsampling, and implicit drop (absent sources)
    "src0": 1.0,
    "src1": 0.75,
    "src2": 0.5,
    "src3": 0.25,
    "src4": 0.1,
    "src5": 1.0,
    "src6": 0.6,
    "src7": 0.4,
}


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-slice sequence packing metadata (GPT pretraining
    recipe: docs concatenate in deterministic order, fixed context_len
    slices, docs may span boundaries) via the two-stage cumsum; the oracle
    recomputes it as the single global window the operator avoids."""
    from s2_geometry_library_java_spark.operators import prep

    return prep.pack_concat_slices(
        load_table(spark, sf_dir, "documents"), PACK_CONTEXT_LEN, n_buckets=SHARD_BUCKETS
    )


def _sequence_pack_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep

    return prep.pack_oracle_sql("documents", PACK_CONTEXT_LEN, n_buckets=SHARD_BUCKETS)


def q_materialize_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assembled fixed-context training sequences (the trainer-facing
    output of the packing metadata).  Shuffle bill: one doc-sized
    exchange (the bucket window, text carried through — no corpus join),
    one bounded totals agg, one token-sized seq_id agg; per-sequence
    state bounded by context_len."""
    from s2_geometry_library_java_spark.operators import prep

    return prep.materialize_sequences(
        load_table(spark, sf_dir, "documents"), PACK_CONTEXT_LEN, n_buckets=SHARD_BUCKETS
    )


def _materialize_sequences_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep

    return prep.materialize_oracle_sql("documents", PACK_CONTEXT_LEN, n_buckets=SHARD_BUCKETS)


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture downsampling: per-source deterministic hash-threshold
    keep fractions (the applied form of temperature reweighting — mixture
    math over the bounded domain-count table in temperature_fractions,
    gated in pytest; the corpus sees one codegen'd filter, no shuffle)."""
    from s2_geometry_library_java_spark.operators import prep

    docs = load_table(spark, sf_dir, "documents")
    return prep.stratified_sample(docs, MIXTURE_FRACTIONS).select("doc_id", "source")


def _domain_mixture_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep

    return (
        f"SELECT doc_id, source FROM documents "
        f"WHERE {prep.stratified_case_sql(MIXTURE_FRACTIONS)}"
    )


STREAM_N_KEYS = 20000
STREAM_BASE_EPOCH = 1_760_000_040  # divisible by 60: window starts align cleanly
STREAM_TILE_LEVEL = 3
STREAM_WINDOW_S = 60


def _stream_points_input(spark: SparkSession) -> DataFrame:
    """Bounded deterministic (ts, key) stream shared by the streaming
    gates: ts is a pure function of key, so every golden oracle can
    recompute the final state driver-side."""
    indir = "/tmp/s2gate_stream_input"
    if not os.path.exists(os.path.join(indir, "_SUCCESS")):
        spark.range(STREAM_N_KEYS).select(
            F.timestamp_seconds(
                F.lit(STREAM_BASE_EPOCH) + (F.col("id") % F.lit(600))
            ).alias("ts"),
            F.col("id").alias("key"),
        ).coalesce(4).write.mode("overwrite").parquet(indir)
    return spark.readStream.schema("ts timestamp, key long").parquet(indir)


def q_stream_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, fully oracled: the watermarked streaming tile
    rollup (streaming/encode_stream.py) run to completion over a bounded
    deterministic input with trigger=availableNow + complete output mode —
    the final state is exactly the batch GROUP BY, so the stream gets a
    golden oracle instead of the usual rows-only pass.  Input rows are
    (ts, key) with ts a pure function of key; the pipeline geotags, runs
    the K23 encode UDF inside the micro-batch plan, parents to tiles
    (native bit math) and windows by event time."""
    import uuid

    from s2_geometry_library_java_spark.streaming.encode_stream import streaming_tile_counts

    stream = _stream_points_input(spark)
    agg = streaming_tile_counts(
        stream,
        tile_level=STREAM_TILE_LEVEL,
        window=f"{STREAM_WINDOW_S} seconds",
        watermark="120 seconds",
    )
    name = f"stream_tile_gate_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").cast("long").alias("win_start"),
        F.col("tile_id"),
        F.col("n"),
    )


def _golden_stream_tile_sql() -> str:
    """Driver-side recompute of the final streaming state: same geotag
    arithmetic, same encode kernel, same parent bit math, same epoch-aligned
    window floor — pinned as typed VALUES."""
    import pandas as pd

    from s2_geometry_library_java_spark.kernel import cellid as ck

    keys = np.arange(STREAM_N_KEYS, dtype=np.int64)
    lat = -90.0 + 180.0 * (((keys * 2654435761) % 4294967296).astype(np.float64) / 4294967296.0)
    lng = -180.0 + 360.0 * (((keys * 2246822519 + 1013904223) % 4294967296).astype(np.float64) / 4294967296.0)
    tiles = ck.parent(ck.from_latlng_degrees(lat, lng), STREAM_TILE_LEVEL).view(np.int64)
    ts = STREAM_BASE_EPOCH + (keys % 600)
    win = (ts // STREAM_WINDOW_S) * STREAM_WINDOW_S
    pdf = pd.DataFrame({"win_start": win, "tile_id": tiles})
    grp = pdf.groupby(["win_start", "tile_id"], sort=True).size().reset_index(name="n")
    rows = [(int(w), int(t), int(c)) for w, t, c in grp.itertuples(index=False, name=None)]
    return _values_sql(
        rows,
        "win_start, tile_id, n",
        casts={"win_start": "BIGINT", "tile_id": "BIGINT", "n": "BIGINT"},
    )


def q_stream_geofence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofence (streaming/geofence_stream.py), fully oracled:
    windowed per-fence hit counts over the bounded deterministic (ts, key)
    stream with availableNow + complete mode, so the final state equals the
    batch recompute pinned by the golden oracle."""
    import uuid

    from s2_geometry_library_java_spark.streaming.geofence_stream import streaming_geofence_counts

    agg = streaming_geofence_counts(
        _stream_points_input(spark),
        NATIVE_LAYERS,
        window=f"{STREAM_WINDOW_S} seconds",
        watermark="120 seconds",
    )
    name = f"stream_geofence_gate_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(
        F.col("win.start").cast("long").alias("win_start"),
        F.col("polygon_id"),
        F.col("n"),
    )


def _golden_stream_geofence_sql() -> str:
    """Driver-side recompute of the final geofence state: identical geotag
    arithmetic and membership formulas (Layer.contains_points), identical
    epoch-aligned window floor — pinned as typed VALUES."""
    import pandas as pd

    keys = np.arange(STREAM_N_KEYS, dtype=np.int64)
    lat = -90.0 + 180.0 * (((keys * 2654435761) % 4294967296).astype(np.float64) / 4294967296.0)
    lng = -180.0 + 360.0 * (((keys * 2246822519 + 1013904223) % 4294967296).astype(np.float64) / 4294967296.0)
    win = ((STREAM_BASE_EPOCH + (keys % 600)) // STREAM_WINDOW_S) * STREAM_WINDOW_S
    frames = []
    for layer in NATIVE_LAYERS:
        mask = layer.contains_points(lat, lng)
        frames.append(pd.DataFrame({"win_start": win[mask], "polygon_id": layer.polygon_id}))
    pdf = pd.concat(frames, ignore_index=True)
    grp = pdf.groupby(["win_start", "polygon_id"], sort=True).size().reset_index(name="n")
    rows = [(int(w), str(p), int(c)) for w, p, c in grp.itertuples(index=False, name=None)]
    return _values_sql(
        rows,
        "win_start, polygon_id, n",
        casts={"win_start": "BIGINT", "n": "BIGINT"},
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful streaming exact-dedup (applyInPandasWithState), fully
    oracled: the sf documents table streams through as ONE micro-batch
    (single input file + availableNow), so the first-occurrence output is
    exactly the batch GROUP BY — keeper = min doc_id, n_new_copies = the
    full per-hash count.  Content is the same 32-char prefix fingerprint
    as corpus_prep so the dedup actually bites."""
    import uuid

    from s2_geometry_library_java_spark.streaming.dedup_stream import streaming_exact_dedup

    indir = f"/tmp/s2gate_stream_docs_{os.path.basename(os.path.normpath(sf_dir))}"
    if not os.path.exists(os.path.join(indir, "_SUCCESS")):
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.expr(f"substring(text, 1, {PREP_FP_LEN})").alias("content")
        ).coalesce(1).write.mode("overwrite").parquet(indir)
    stream = spark.readStream.schema("doc_id long, content string").parquet(indir)
    name = f"stream_dedup_gate_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _stream_dedup_sql() -> str:
    return (
        f"SELECT md5(substr(text, 1, {PREP_FP_LEN})) AS content_hash, "
        f"min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_new_copies "
        f"FROM documents GROUP BY 1"
    )


PREP_QUALITY_MIN = 0.55
PREP_FP_LEN = 32


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data prep pipeline in one gate: quality filter
    (native scoring) -> exact near-dup collapse on a prefix fingerprint
    (keeper = min doc_id) -> deterministic split assignment -> per-split
    rollup.  Every stage is a §2.8 operator; the oracle restates the whole
    chain in SQL, so the gate proves the COMPOSITION, not just the parts."""
    from s2_geometry_library_java_spark.operators import prep
    from s2_geometry_library_java_spark.operators.text import quality_exprs

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.filter(F.expr(f"{quality_exprs('spark')['quality_score']} >= {PREP_QUALITY_MIN}"))
    keepers = (
        kept.groupBy(F.md5(F.expr(f"substring(text, 1, {PREP_FP_LEN})")).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )
    return (
        prep.assign_splits(keepers, SPLIT_WEIGHTS, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_dups").alias("n_source_rows"),
            F.sum("doc_id").alias("sum_keeper_id"),
        )
        .orderBy("split")
    )


def _corpus_prep_sql() -> str:
    from s2_geometry_library_java_spark.operators import prep
    from s2_geometry_library_java_spark.operators.text import quality_exprs

    qs = quality_exprs("duck")["quality_score"]
    split_case = prep.split_case_sql(SPLIT_WEIGHTS, "doc_id")
    return f"""
WITH kept AS (SELECT doc_id, text FROM documents WHERE {qs} >= {PREP_QUALITY_MIN}),
 k AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dups
       FROM kept GROUP BY md5(substr(text, 1, {PREP_FP_LEN}))),
 s AS (SELECT doc_id, n_dups, {split_case} AS split FROM k)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_dups) AS BIGINT) AS n_source_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_keeper_id
FROM s GROUP BY split ORDER BY split
"""


# ---------------------------------------------------------------------------
# Embeddings: similarity search + near-dup
# ---------------------------------------------------------------------------
def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.cosine_topk(load_table(spark, sf_dir, "embeddings"), n_queries=ANN_NQ, k=ANN_K)


_COS_DUCK = (
    "(list_dot_product(q.qvec, e.emb) / "
    "(sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(e.emb, e.emb))))"
)
_Q_ANN_COSINE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 q AS (SELECT vec_id AS query_id, emb AS qvec FROM e WHERE vec_id < {ANN_NQ}),
 c AS (SELECT q.query_id, e.vec_id, {_COS_DUCK} AS sim
       FROM e CROSS JOIN q WHERE e.vec_id != q.query_id),
 r AS (SELECT query_id, vec_id,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS INT) AS rank,
        round(sim, 9) AS sim
       FROM c)
SELECT query_id, vec_id, rank, sim FROM r WHERE rank <= {ANN_K}
"""


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH ANN, gated through its deterministic recall
    companion: the approximate top-k itself can't hash-match an oracle, but
    its per-query recall against the exact brute top-k is an exact,
    recomputable number — the golden oracle recomputes the identical
    pipeline single-process (ann.lsh_recall_local)."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    return ann.lsh_recall(emb, dim=dim, n_queries=ANN_NQ, k=ANN_K)


def _golden_lsh_recall_rows() -> list[tuple]:
    import duckdb

    con = duckdb.connect()
    try:
        pdf = con.execute(
            f"SELECT vec_id, embedding FROM read_parquet('{_GATE_SF}/embeddings.parquet') "
            "ORDER BY vec_id"
        ).df()
    finally:
        con.close()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ann.lsh_recall_local(M, ids, n_queries=ANN_NQ, k=ANN_K)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN; probed at n_probe == n_lists the candidate
    set is the full corpus, so the result is EXACT and shares the brute
    cosine oracle — the gate covers the IVF plan shape, pytest pins the
    approximate regime's recall."""
    return ann.ivf_cosine_topk(
        load_table(spark, sf_dir, "embeddings"), n_queries=ANN_NQ, k=ANN_K, n_lists=16, n_probe=16
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC ANN with exact re-rank; at shortlist=None
    every ADC candidate survives to the exact re-rank, so the result is
    EXACT and shares the brute cosine oracle — the gate covers the
    codebook-train / encode / LUT-scan / re-rank plan shape, pytest pins
    the approximate regime's recall-vs-shortlist curve
    (tests/test_ann_pq.py)."""
    return ann.pq_cosine_topk(
        load_table(spark, sf_dir, "embeddings"), n_queries=ANN_NQ, k=ANN_K, shortlist=None
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (coarse cells prune rows, PQ codes prune bytes,
    exact re-rank); at n_probe == n_lists and shortlist=None every row
    survives both pruners so the result is EXACT and shares the brute
    oracle; pytest pins the approximate regime (tests/test_ann_pq.py)."""
    return ann.ivfpq_cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        n_queries=ANN_NQ,
        k=ANN_K,
        n_lists=16,
        n_probe=16,
        shortlist=None,
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ann.embedding_neardup(load_table(spark, sf_dir, "embeddings"), threshold=NEARDUP_TAU)


_Q_EMBED_NEARDUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 q AS (SELECT vec_id AS query_id, emb AS qvec FROM e),
 c AS (SELECT q.query_id AS id_a, e.vec_id AS id_b, {_COS_DUCK} AS sim
       FROM e CROSS JOIN q WHERE q.query_id < e.vec_id)
SELECT id_a, id_b, round(sim, 9) AS sim FROM c WHERE sim >= {NEARDUP_TAU}
"""


def q_embed_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the embedding corpus: the
    centroid-blocked exact cosine pairs feed the same distributed
    connected-components collapse as the text path (one operator, both
    modalities)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = ann.embedding_neardup(emb, threshold=NEARDUP_TAU)
    return dedup.neardup_clusters(pairs, emb, id_col="vec_id")


_Q_EMBED_CLUSTERS_SQL = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
 q AS (SELECT vec_id AS query_id, emb AS qvec FROM e),
 c AS (SELECT q.query_id AS id_a, e.vec_id AS id_b, {_COS_DUCK} AS sim
       FROM e CROSS JOIN q WHERE q.query_id < e.vec_id),
 pairs AS (SELECT id_a, id_b FROM c WHERE sim >= {NEARDUP_TAU}),
 edg AS (SELECT id_a AS ea, id_b AS eb FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
 comp(node, label) AS (
   SELECT vec_id, vec_id FROM embeddings
   UNION
   SELECT g.eb, cc.label FROM comp cc JOIN edg g ON g.ea = cc.node)
SELECT node AS vec_id, min(label) AS cluster_id FROM comp GROUP BY node
"""


# ---------------------------------------------------------------------------
# Events: sessionization (window functions beyond ranking)
# ---------------------------------------------------------------------------
SESSION_GAP_MS = 30 * 60 * 1000


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ms", "event_id")
    ses = (
        # ts is TIMESTAMP_NTZ; the tz-cast offset is constant over the data
        # range, so session gaps (differences) are tz-independent.
        ev.withColumn("ms", F.unix_millis(F.col("ts").cast("timestamp")))
        .withColumn("prev_ms", F.lag("ms").over(w))
        .withColumn(
            "new_sess",
            F.when(F.col("prev_ms").isNull() | (F.col("ms") - F.col("prev_ms") > SESSION_GAP_MS), 1).otherwise(0),
        )
    )
    return ses.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events")
    )


_Q_EVENT_SESSIONS_SQL = f"""
WITH x AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
  FROM events),
 s AS (
  SELECT user_id,
         CASE WHEN prev_ms IS NULL OR ms - prev_ms > {SESSION_GAP_MS} THEN 1 ELSE 0 END AS new_sess
  FROM x)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Golden oracles for the encode-dependent queries (VERDICT r01 item 2).
#
# The Hilbert encode itself has no independent SQL statement, but each of
# these queries is DETERMINISTIC at the gate scale, so the oracle is a
# single-process driver-side recomputation pinned as typed VALUES — the same
# trust model as `covering_golden`: DuckDB evaluates the SQL-statable part
# (geotag arithmetic, rect/cap membership, tile bit math, token formatting)
# while the NumPy kernel supplies only the encode, checking the entire
# distributed plumbing (Arrow UDF batching, joins, rollup, aggregation)
# against a flat local evaluation.
# ---------------------------------------------------------------------------
_GATE_SF = "/root/testdata/sf0.01"  # the driver's fixed correctness scale


def _gate_cells_pdf():
    """(point_id, lat, lng, cell_id) at the gate scale: DuckDB evaluates the
    geotag SQL (probed bit-identical to Spark's exprs), the kernel encodes."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW orders AS SELECT * FROM read_parquet('{_GATE_SF}/orders.parquet')"
        )
        pdf = con.execute(GEOTAG_POINTS_SQL).df()
    finally:
        con.close()
    cid = ck.from_latlng_degrees(
        pdf["lat"].to_numpy(dtype=np.float64), pdf["lng"].to_numpy(dtype=np.float64)
    )
    pdf["cell_id"] = cid.view(np.int64)
    return pdf


# snap_roads gate: three long fixture "roads" and a ~0.02 rad (~127 km)
# snap radius.  Vertices via the test DSL; lines stay driver-side objects.
SNAP_RADIUS_RAD = 0.02
SNAP_LINES_DSL = {
    "road_a": "-40:-120, -10:-60, 20:0, 50:60",
    "road_b": "35:-10, 10:25, -15:60",
    "road_c": "60:-170, 55:-120, 45:-70, 30:-30",
}


def _snap_lines():
    from s2_geometry_library_java_spark.geometry.polyline import S2Polyline
    from s2_geometry_library_java_spark.geometry.text_format import parse_vertices

    return {k: S2Polyline(parse_vertices(v)) for k, v in SNAP_LINES_DSL.items()}


def q_snap_roads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded snap-to-polyline (operators/snap.py): every fact point
    within 0.02 rad of a fixture road, with the nearest road and the exact
    P9 distance in nano-radians.  Broadcast candidate buckets from the
    flood-fill covering + K21 ring; the fact side never shuffles."""
    from s2_geometry_library_java_spark.operators.snap import snap_join

    pts = with_cell_id(geotagged_points(spark, sf_dir))
    return snap_join(pts, _snap_lines(), SNAP_RADIUS_RAD)


def _golden_snap_roads_sql() -> str:
    """Kernel recompute: exact P9 distance of every gate point to every
    line, radius filter, (dist, line_id) argmin — no covering involved, so
    the candidate generation's completeness is independently checked."""
    from s2_geometry_library_java_spark.kernel import predicates as pr

    pdf = _gate_cells_pdf()
    x = ck.latlng_degrees_to_xyz(
        pdf["lat"].to_numpy(np.float64), pdf["lng"].to_numpy(np.float64)
    )
    lines = _snap_lines()
    max_nrad = int(np.floor(SNAP_RADIUS_RAD * 1e9 + 0.5))
    best_d = np.full(len(pdf), np.iinfo(np.int64).max, dtype=np.int64)
    best_l = np.full(len(pdf), "", dtype=object)
    for lid in sorted(lines):
        a, b = lines[lid].vertices[:-1], lines[lid].vertices[1:]
        d = np.min(
            np.stack([pr.edge_distance(x, a[k][None, :], b[k][None, :]) for k in range(len(a))]),
            axis=0,
        )
        nrad = np.floor(d * 1e9 + 0.5).astype(np.int64)
        better = nrad < best_d  # strict: ties keep the earlier (sorted) line id
        best_d = np.where(better, nrad, best_d)
        best_l = np.where(better, lid, best_l)
    keep = best_d <= max_nrad
    ids = pdf["point_id"].to_numpy()[keep]
    rows = [
        (int(p), str(l), int(dn)) for p, l, dn in zip(ids, best_l[keep], best_d[keep])
    ]
    return _values_sql(
        rows, "point_id, line_id, dist_nrad", casts={"point_id": "BIGINT", "dist_nrad": "BIGINT"}
    )


# adaptive_tiles gate: split any cell holding >150 of the ~15k gate points,
# between levels 1 and 8 — deep enough that several hot city-cells split
# more than once while ocean cells stay coarse.
AT_CAP = 150
AT_MIN_LEVEL = 1
AT_MAX_LEVEL = 8


def q_adaptive_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-balanced quadtree tiling (operators/adaptive.py): one fact
    shuffle to the max-level grid, then level-wise rollup + hot-parent
    broadcast joins entirely on the aggregated grid."""
    from s2_geometry_library_java_spark.operators.adaptive import adaptive_tiles

    pts = with_cell_id(geotagged_points(spark, sf_dir))
    return adaptive_tiles(pts, AT_CAP, AT_MIN_LEVEL, AT_MAX_LEVEL)


def _golden_adaptive_tiles_sql() -> str:
    """Independent top-down recompute: recursive split walk from the
    min-level cells, versus the plan's bottom-up level-join — same tiles
    must fall out of both directions."""
    pdf = _gate_cells_pdf()
    grid = ck.parent(pdf["cell_id"].to_numpy().view(np.uint64), AT_MAX_LEVEL)
    counts: dict[int, dict[int, int]] = {AT_MAX_LEVEL: {}}
    for c in grid.view(np.int64):
        counts[AT_MAX_LEVEL][int(c)] = counts[AT_MAX_LEVEL].get(int(c), 0) + 1
    children: dict[int, dict[int, list[int]]] = {}
    for lvl in range(AT_MAX_LEVEL - 1, AT_MIN_LEVEL - 1, -1):
        counts[lvl], children[lvl] = {}, {}
        kids = np.fromiter(counts[lvl + 1], dtype=np.int64)
        pars = ck.parent(kids.view(np.uint64), lvl).view(np.int64)
        for kid, par in zip(kids, pars):
            counts[lvl][int(par)] = counts[lvl].get(int(par), 0) + counts[lvl + 1][int(kid)]
            children[lvl].setdefault(int(par), []).append(int(kid))
    rows: list[tuple] = []

    def walk(cell: int, lvl: int) -> None:
        n = counts[lvl][cell]
        if n <= AT_CAP or lvl == AT_MAX_LEVEL:
            rows.append((cell, lvl, n, n > AT_CAP))
        else:
            for kid in children[lvl][cell]:
                walk(kid, lvl + 1)

    for cell in sorted(counts[AT_MIN_LEVEL]):
        walk(cell, AT_MIN_LEVEL)
    return _values_sql(
        rows,
        "tile_id, level, n, overflow",
        casts={"tile_id": "BIGINT", "level": "INTEGER", "n": "BIGINT"},
    )


DENSITY_LEVEL = 4


def q_density_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-smoothed grid density (K21 at scale): count points per
    level-4 cell, then each populated cell smears its count onto itself and
    its distinct K21 neighbors; smooth_n = the 3x3-neighborhood total.  The
    9x explode runs on the AGGREGATED grid (|cells| rows), never the fact
    table, so the smear costs two small shuffles regardless of corpus size."""
    pts = with_cell_id(geotagged_points(spark, sf_dir))
    c = pts.groupBy(F.expr(parent_sql("cell_id", DENSITY_LEVEL)).alias("cell4")).agg(
        F.count(F.lit(1)).alias("n")
    )
    contrib = c.select(
        F.explode(
            F.concat(
                F.array(F.col("cell4")),
                F.array_distinct(s2_all_neighbors_udf(F.col("cell4"), F.lit(DENSITY_LEVEL))),
            )
        ).alias("tgt"),
        "n",
    )
    smear = contrib.groupBy("tgt").agg(F.sum("n").alias("smooth_n"))
    return c.join(smear, c.cell4 == smear.tgt).select(
        F.col("cell4").alias("cell_id"), "n", "smooth_n"
    )


def _golden_density_smooth_sql() -> str:
    """Kernel recompute of the smear: same counts, same K21 neighbor sets
    (deduped per cell exactly like the array_distinct in the plan)."""
    import pandas as pd

    pdf = _gate_cells_pdf()
    cells4 = ck.parent(pdf["cell_id"].to_numpy().view(np.uint64), DENSITY_LEVEL).view(np.int64)
    counts = pd.Series(cells4).value_counts()
    uniq = counts.index.to_numpy(dtype=np.int64)
    rows_idx, nbrs = ck.get_all_neighbors(uniq.view(np.uint64), DENSITY_LEVEL)
    smear: dict[int, int] = {}
    for i, cell in enumerate(uniq):
        n = int(counts[cell])
        tgts = {int(cell)} | {int(v) for v in nbrs[rows_idx == i].view(np.int64)}
        for t in tgts:
            smear[t] = smear.get(t, 0) + n
    rows = [(int(cell), int(counts[cell]), smear[int(cell)]) for cell in uniq]
    return _values_sql(
        rows,
        "cell_id, n, smooth_n",
        casts={"cell_id": "BIGINT", "n": "BIGINT", "smooth_n": "BIGINT"},
    )


# layout_prune gate: the level-2 cell 0x1100000000000000 (face 0, near
# lat 10 / lng 20) and its K14 descendant range — positive int64 on both
# ends, so the signed BETWEEN pushed to parquet is order-correct.
LAYOUT_N_FILES = 16
LAYOUT_RANGE_MIN = 1152921504606846977
LAYOUT_RANGE_MAX = 1297036692682702847


def q_layout_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-locality storage layout (operators/layout.py): write the
    encoded fact points range-partitioned + sorted by cell_id, then scan
    one level-2 cell's descendant range.  The BETWEEN reaches the parquet
    reader as a pushed filter and only row groups whose footer [min, max]
    intersects the range are touched (prunability pinned in
    tests/test_layout.py); this gate pins that the pruned scan returns
    EXACTLY the right rows (golden recompute via the kernel)."""
    from s2_geometry_library_java_spark.operators.layout import (
        read_cell_range,
        write_hilbert_layout,
    )

    path = f"/tmp/s2gate_layout_{os.path.basename(os.path.normpath(sf_dir))}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        pts = with_cell_id(geotagged_points(spark, sf_dir)).select("point_id", "cell_id")
        write_hilbert_layout(pts, path, n_files=LAYOUT_N_FILES)
    hits = read_cell_range(spark, path, LAYOUT_RANGE_MIN, LAYOUT_RANGE_MAX)
    return hits.select("point_id", "cell_id")


def _golden_layout_prune_sql() -> str:
    """Kernel recompute of the probe range's members over the gate points."""
    pdf = _gate_cells_pdf()
    cid = pdf["cell_id"].to_numpy()
    mask = (cid >= LAYOUT_RANGE_MIN) & (cid <= LAYOUT_RANGE_MAX)
    rows = [
        (int(p), int(c))
        for p, c in zip(pdf["point_id"].to_numpy()[mask], cid[mask])
    ]
    return _values_sql(
        rows, "point_id, cell_id", casts={"point_id": "BIGINT", "cell_id": "BIGINT"}
    )


def _golden_encode_rollup_sql() -> str:
    import pandas as pd

    pdf = _gate_cells_pdf()
    cid = pdf["cell_id"].to_numpy().view(np.uint64)
    d = pd.DataFrame(
        {
            "face": (cid >> np.uint64(61)).astype(np.int64),
            "tile2": ck.to_token(ck.parent(cid, 2)),
        }
    )
    rows: list[tuple] = []
    for (f, t), n in d.groupby(["face", "tile2"]).size().items():
        rows.append((int(f), str(t), int(n)))
    for f, n in d.groupby("face").size().items():
        rows.append((int(f), None, int(n)))
    rows.append((None, None, len(d)))
    return _values_sql(
        rows, "face, tile2, n", casts={"face": "INTEGER", "tile2": "VARCHAR", "n": "BIGINT"}
    )


def _golden_tile_manifest_sql() -> str:
    """Membership via the layers' DuckDB predicates (independent of the
    covering join), tile bit math + token via pure SQL over kernel cells."""
    import duckdb

    pdf = _gate_cells_pdf()
    lsb5 = 1 << (2 * (30 - 5))
    arms = " UNION ALL ".join(
        f"SELECT cell_id, '{l.polygon_id}' AS polygon_id FROM pc WHERE {l.sql_predicate('lat', 'lng')}"
        for l in NATIVE_LAYERS
    )
    sql = f"""
    WITH m AS ({arms}),
     t AS (SELECT ((cell_id & -{lsb5}) | {lsb5}) AS tile_id, polygon_id, cell_id FROM m)
    SELECT rtrim(printf('%016x', tile_id), '0') AS tile_token, polygon_id,
           CAST(count(*) AS BIGINT) AS n_images,
           min(cell_id) AS min_cell, max(cell_id) AS max_cell
    FROM t GROUP BY 1, 2
    """
    con = duckdb.connect()
    try:
        con.register("pc", pdf)
        out = con.execute(sql).df()
    finally:
        con.close()
    rows = [
        (str(r.tile_token), str(r.polygon_id), int(r.n_images), int(r.min_cell), int(r.max_cell))
        for r in out.itertuples(index=False)
    ]
    return _values_sql(
        rows,
        "tile_token, polygon_id, n_images, min_cell, max_cell",
        casts={"n_images": "BIGINT", "min_cell": "BIGINT", "max_cell": "BIGINT"},
    )


def _golden_image_stats_sql() -> str:
    """Flat recomputation of q_image_stats' per-fmt rollup over the 2000
    deterministic synthetic images — through the SAME batch-stats helper the
    Spark operator uses (identical FP operation order by construction)."""
    from s2_geometry_library_java_spark.operators.images import image_stats_pandas
    from s2_geometry_library_java_spark.sources.images import images_pandas

    stats = image_stats_pandas(images_pandas(0, 2000))
    rows = []
    for fmt, grp in sorted(stats.groupby("fmt"), key=lambda t: t[0]):
        ps = grp["psnr"].to_numpy()
        rows.append((str(fmt), len(ps), float(ps.min()), int((ps < 40.0).sum())))
    return _values_sql(
        rows,
        "fmt, n, min_psnr, psnr_violations",
        casts={"n": "BIGINT", "psnr_violations": "BIGINT"},
    )


# ---------------------------------------------------------------------------
# Polygon boolean ops (B5/B6) + relation matrix (P16 wedge semantics) gates:
# DSL fixtures from S2PolygonTest.java:31-74; the distributed path assembles
# and clips inside mapInPandas (operators/polyops.py), the oracle is the
# same row builder flat on the driver as typed VALUES.
# ---------------------------------------------------------------------------
_NEAR0 = "-1:0, 0:1, 1:0, 0:-1;"
_NEAR1 = "-1:-1, -1:0, -1:1, 0:1, 1:1, 1:0, 1:-1, 0:-1;"
_NEAR2 = "5:-2, -2:5, -1:-2;"
_NEAR3 = "6:-3, -3:6, -2:-2;"
_FAR0 = "0:179, 1:180, 0:-179, 2:-180;"
_FAR1 = "0:179, -1:179, 1:180, -1:-179, 0:-179, 3:-178, 2:-180, 3:178;"
_ADJ0 = "0:1, 1:1, 2:1, 2:0, 1:0, 0:0;"
_ADJ1 = "0:2, 1:2, 2:2, 2:1.01, 1:0.99, 0:1.01;"
_UNADJ = "10:10, 11:10, 12:10, 12:9, 11:9, 10:9;"
_RECT_A = "0:10, 0:20, 10:20, 10:10;"
_RECT_B = "5:15, 5:25, 15:25, 15:15;"
_HOLEY = "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35;"

_BOOLOP_CASES = [
    ("near01", "intersection", _NEAR0, _NEAR1),
    ("near01", "union", _NEAR0, _NEAR1),
    ("rect_overlap", "intersection", _RECT_A, _RECT_B),
    ("rect_overlap", "union", _RECT_A, _RECT_B),
    ("adjacent", "union", _ADJ0, _ADJ1),
    ("disjoint", "intersection", _ADJ0, _UNADJ),
    ("disjoint", "destructive_union", _ADJ0, _UNADJ),
    ("holey_rect", "intersection", _HOLEY, _RECT_A),
    ("holey_rect", "union", _HOLEY, _RECT_A),
]

_RELATION_PAIRS = [
    ("near10_near30", _NEAR0 + _NEAR1, _NEAR3 + _NEAR0),
    ("near10_near32", _NEAR0 + _NEAR1, _NEAR2 + _NEAR3),
    ("near32_near10", _NEAR2 + _NEAR3, _NEAR0 + _NEAR1),
    ("near10_far11", _NEAR0 + _NEAR1, _FAR1 + _FAR0),
    ("rects", _RECT_A, _RECT_B),
    ("adj", _ADJ0, _ADJ1),
    ("disjoint", _ADJ0, _UNADJ),
    ("holey_inner", _HOLEY, _NEAR2),
    ("holey_rect", _HOLEY, _RECT_A),
]


def q_polygon_boolops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.operators.polyops import polygon_boolops

    df = spark.createDataFrame(
        _BOOLOP_CASES, "case_id string, op string, dsl_a string, dsl_b string"
    )
    return polygon_boolops(df.repartition(4))


def q_polygon_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.operators.polyops import polygon_relations

    df = spark.createDataFrame(_RELATION_PAIRS, "pair_id string, dsl_a string, dsl_b string")
    return polygon_relations(df.repartition(4))


def _golden_boolop_sql() -> str:
    import pandas as pd

    from s2_geometry_library_java_spark.operators.polyops import BOOLOP_COLUMNS, boolop_rows_pandas

    pdf = boolop_rows_pandas(
        pd.DataFrame(_BOOLOP_CASES, columns=["case_id", "op", "dsl_a", "dsl_b"])
    )
    rows = [tuple(r) for r in pdf.itertuples(index=False)]
    return _values_sql(
        rows,
        ", ".join(BOOLOP_COLUMNS),
        casts={"loop_idx": "INTEGER", "depth": "INTEGER", "seq": "INTEGER"},
    )


def _golden_relation_sql() -> str:
    import pandas as pd

    from s2_geometry_library_java_spark.operators.polyops import (
        RELATION_COLUMNS,
        relation_rows_pandas,
    )

    pdf = relation_rows_pandas(
        pd.DataFrame(_RELATION_PAIRS, columns=["pair_id", "dsl_a", "dsl_b"])
    )
    rows = [tuple(r) for r in pdf.itertuples(index=False)]
    return _values_sql(rows, ", ".join(RELATION_COLUMNS))


# ---------------------------------------------------------------------------
# Raster -> vector gate: closed boundary rings of a deterministic two-layer
# tile raster (an L-block with a 2-tile hole on face 2, plus a strip crossing
# the face-0/face-1 seam).  The distributed path is edge-explode + anti-join
# cancellation + per-layer ring chaining (operators/vectorize.py); the golden
# VALUES recompute the cancellation independently with plain Python sets.
# ---------------------------------------------------------------------------
_VEC_LEVEL = 7


def _vectorize_fixture_rows() -> list[tuple[str, int, int, int]]:
    rows = [
        ("hole", 2, x, y)
        for x in range(40, 46)
        for y in range(40, 45)
        if (x, y) not in {(42, 42), (43, 42)}
    ]
    n = 1 << _VEC_LEVEL
    rows += [("seam", 0, n - 1, y) for y in range(20, 24)]
    rows += [("seam", 1, 0, y) for y in range(20, 24)]
    return rows


def q_boundary_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from s2_geometry_library_java_spark.operators.vectorize import boundary_rings, raster_df

    return boundary_rings(raster_df(spark, _vectorize_fixture_rows()), _VEC_LEVEL)


def _golden_boundary_rows() -> list[tuple]:
    import pandas as pd

    from s2_geometry_library_java_spark.operators import vectorize as vz

    s = _VEC_LEVEL + 1
    edges: list[tuple[str, int, int]] = []
    for layer, f, x, y in _vectorize_fixture_rows():
        def k(px: int, py: int) -> int:
            return (f << (2 * s)) + (px << s) + py

        vs = [k(x, y), k(x + 1, y), k(x + 1, y + 1), k(x, y + 1)]
        edges.extend((layer, vs[i], vs[(i + 1) % 4]) for i in range(4))
    eset = set(edges)
    boundary = [(l, a, b) for (l, a, b) in edges if (l, b, a) not in eset]
    out: list[tuple] = []
    for layer in sorted({l for l, _, _ in boundary}):
        pdf = pd.DataFrame(
            [(l, a, b) for l, a, b in boundary if l == layer],
            columns=["layer_id", "ka", "kb"],
        )
        out.extend(vz._chain_rings(_VEC_LEVEL, pdf).itertuples(index=False, name=None))
    return [(str(l), int(r), int(q), float(la), float(ln)) for l, r, q, la, ln in out]


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encode + covering join + refinement on sf0.001."""
    pts = geotagged_points(spark, "/root/testdata/sf0.001")
    return pip_join(pts, ALL_LAYERS).select("point_id", "lat", "lng", "cell_id", "polygon_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry, ordered for the driver's CORRECTNESS capture window.

    The driver records the first 50 entries (dict order) in
    CORRECTNESS_r{N}.json; the registry holds more than 50, so entries
    ROTATE on a two-round schedule (VERDICT round 4, "Next round" #2):

    - Round N: positions 1..50 get driver rows; positions 51+ sit out.
    - Round N+1: the sat-out block moves to the FRONT of the dict (plus any
      new queries), and enough round-N-certified entries move behind the
      window to make room.  Every entry is therefore driver-certified in at
      least one of any two consecutive rounds, and
      scripts/check_driver_contract.py runs the identical oracle over ALL
      entries regardless of position (its full-coverage artifact is
      committed per round as BENCH/r{N}_contract_full.txt).

    Round-5 ordering: the 21 queries outside the r4 window (cellid/token
    bit ops, pip rect/cap/counts, semi/anti, sig-side dedup queries,
    text/metric/percentile/polyline, bounding_caps, dedup_exact) lead, then
    the nine NEW round-5 queries (pip_join_prefix_dist,
    pip_join_prefix_bloom, geo_neardup_salted, geo_neardup_salted_hot,
    ann_pq, sequence_pack, domain_mixture, ann_ivfpq,
    materialize_sequences), then 20 r4-certified entries;
    the r4-certified entries behind the window (caption_regions, streams,
    ANN/embedding block, polygon assembly, modalities, time-series)
    re-enter the window in round 6 by the same rule.
    """
    return {
        # --- rotated IN: outside the r4 window, driver-certified r3 (and by
        # --- the committed full contract runs at the r4 + r5 HEADs) ---
        "cellid_bitops": q_cellid_bitops,
        "cellid_token": q_cellid_token,
        "distinct_cells": q_distinct_cells,
        "cell_rollup": q_cell_rollup,
        "pip_join_rect": _pip_query(RECT_LAYERS),
        "pip_join_cap": _pip_query(CAP_LAYERS),
        "pip_counts": q_pip_counts,
        "points_in_any_layer": q_points_any_layer,
        "points_in_no_layer": q_points_no_layer,
        "approx_distinct_cells": q_approx_distinct_cells,
        "minhash_sigs": q_minhash_sigs,
        "neardup_clusters": q_neardup_clusters,
        "simhash": q_simhash,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "text_profile": q_text_profile,
        "value_percentiles": q_value_percentiles,
        "metric_levels": q_metric_levels,
        "cell_neighbors": q_cell_neighbors,
        "polyline_ops": q_polyline_ops,
        "dedup_exact": q_dedup_exact,
        "bounding_caps": q_bounding_caps,
        # --- NEW in round 5 ---
        "pip_join_prefix_dist": q_pip_prefix_dist,
        "pip_join_prefix_bloom": q_pip_prefix_bloom,
        "geo_neardup_salted": q_geo_neardup_salted,
        "geo_neardup_salted_hot": q_geo_neardup_salted_hot,
        "ann_pq": q_ann_pq,
        "sequence_pack": q_sequence_pack,
        "domain_mixture": q_domain_mixture,
        "ann_ivfpq": q_ann_ivfpq,
        "materialize_sequences": q_materialize_sequences,
        # --- r4-certified entries kept in-window (operator-family spread) ---
        "sql_api": q_sql_api,
        "encode_rollup": q_encode_rollup,
        "pip_join_poly": _pip_query(POLY_LAYERS),
        "pip_join_range": _pip_query(NATIVE_LAYERS),
        "pip_join_stab": _pip_query(ALL_LAYERS),
        "pip_join_salted": q_pip_salted,
        "pip_join_prefix": q_pip_prefix,
        "knn": q_knn,
        "radius_join": q_radius_join,
        "geo_neardup": q_geo_neardup,
        "covering_golden": q_covering_golden,
        "edge_crossings": q_edge_crossings,
        "cellunion_setops": q_cellunion_setops,
        "loop_area_centroid": q_loop_area_centroid,
        "tile_manifest": q_tile_manifest,
        "layout_prune": q_layout_prune,
        "density_smooth": q_density_smooth,
        "snap_roads": q_snap_roads,
        "adaptive_tiles": q_adaptive_tiles,
        "minhash_pairs": q_minhash_pairs,
        "neardup_collapse": q_neardup_collapse,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "quality_repetition": q_quality_repetition,
        "decontaminate": q_decontaminate,
        "trajectory_stats": q_trajectory_stats,
        # --- rotated BEHIND the window (r4-green; back in-window round 6) ---
        "caption_regions": q_caption_regions,
        "simplify_traj": q_simplify_traj,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "time_rollup": q_time_rollup,
        "sample_splits": q_sample_splits,
        "token_shards": q_token_shards,
        "corpus_prep": q_corpus_prep,
        "stream_tile_counts": q_stream_tile_counts,
        "stream_geofence": q_stream_geofence,
        "stream_dedup": q_stream_dedup,
        "ann_cosine": q_ann_cosine,
        "ann_ivf": q_ann_ivf,
        "ann_lsh_recall": q_ann_lsh_recall,
        "embed_neardup": q_embed_neardup,
        "embed_clusters": q_embed_clusters,
        "event_sessions": q_event_sessions,
        "boundary_rings": q_boundary_rings,
        "polygon_boolops": q_polygon_boolops,
        "polygon_relations": q_polygon_relations,
        "image_stats": q_image_stats,
        "tile_mosaic": q_tile_mosaic,
        "audio_stats": q_audio_stats,
        "video_frames": q_video_frames,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cellid_bitops": _Q_CELLID_BITOPS_SQL,
        "cellid_token": _Q_CELLID_TOKEN_SQL,
        "sql_api": _Q_SQL_API_SQL,
        "distinct_cells": _Q_DISTINCT_CELLS_SQL,
        "cell_rollup": _Q_CELL_ROLLUP_SQL,
        "encode_rollup": _golden_encode_rollup_sql(),
        "tile_manifest": _golden_tile_manifest_sql(),
        "layout_prune": _golden_layout_prune_sql(),
        "density_smooth": _golden_density_smooth_sql(),
        "snap_roads": _golden_snap_roads_sql(),
        "adaptive_tiles": _golden_adaptive_tiles_sql(),
        "image_stats": _golden_image_stats_sql(),
        "tile_mosaic": _golden_tile_mosaic_sql(),
        "audio_stats": _golden_audio_stats_sql(),
        "video_frames": _golden_video_frames_sql(),
        "pip_join_rect": _pip_oracle(RECT_LAYERS),
        "pip_join_cap": _pip_oracle(CAP_LAYERS),
        "pip_join_range": _pip_oracle(NATIVE_LAYERS),
        "pip_join_stab": _pip_oracle(ALL_LAYERS),
        "pip_join_poly": _pip_oracle(POLY_LAYERS),
        "pip_counts": _Q_PIP_COUNTS_SQL,
        "pip_join_salted": _pip_oracle(RECT_LAYERS),
        "pip_join_prefix": _pip_oracle(ALL_LAYERS),
        "pip_join_prefix_dist": _pip_oracle(ALL_LAYERS),
        "pip_join_prefix_bloom": _pip_oracle(ALL_LAYERS),
        "ann_pq": _Q_ANN_COSINE_SQL,
        "sequence_pack": _sequence_pack_sql(),
        "domain_mixture": _domain_mixture_sql(),
        "ann_ivfpq": _Q_ANN_COSINE_SQL,
        "materialize_sequences": _materialize_sequences_sql(),
        "geo_neardup_salted": _oracle_geo_neardup_sql(),
        "geo_neardup_salted_hot": _oracle_geo_neardup_sql(),
        "points_in_any_layer": _pip_exists_oracle(ALL_LAYERS, negate=False),
        "points_in_no_layer": _pip_exists_oracle(ALL_LAYERS, negate=True),
        "caption_regions": _caption_regions_sql(),
        "approx_distinct_cells": _Q_APPROX_DISTINCT_SQL,
        "knn": _Q_KNN_SQL,
        "radius_join": _Q_RADIUS_SQL,
        "covering_golden": _values_sql(
            _golden_covering_rows(), "polygon_id, token, level, is_interior"
        ),
        "cell_neighbors": _values_sql(_golden_neighbor_rows(), "token, nbr_token"),
        "loop_area_centroid": _values_sql(
            [(n, a, cx, cy, cz) for n, _v, a, cx, cy, cz in _area_loop_rows()],
            "loop_id, area, cx, cy, cz",
        ),
        "polyline_ops": _values_sql(
            _polyline_rows(), _POLYLINE_COLS, casts={"nearest_edge": "INTEGER"}
        ),
        "edge_crossings": _Q_EDGE_CROSSINGS_SQL,
        "cellunion_setops": _values_sql(_setop_rows(), "op, token"),
        "metric_levels": _values_sql(
            _metric_rows(),
            "level, min_width, max_width, avg_area, max_level_rt, min_level_rt",
        ),
        "dedup_exact": _Q_DEDUP_EXACT_SQL,
        "minhash_sigs": _Q_MINHASH_SIGS_SQL,
        "minhash_pairs": _Q_MINHASH_PAIRS_SQL,
        "neardup_clusters": _Q_NEARDUP_CLUSTERS_SQL,
        "neardup_collapse": _Q_NEARDUP_COLLAPSE_SQL,
        "simhash": _Q_SIMHASH_SQL,
        "simhash_pairs": _Q_SIMHASH_PAIRS_SQL,
        "ngram_jaccard": _Q_NGRAM_JACCARD_SQL,
        "ngram_jaccard_capped": _ngram_jaccard_sql(NGJ_CAP_DF),
        "text_profile": _text_profile_sql(),
        "value_percentiles": _Q_VALUE_PERCENTILES_SQL,
        "quality_repetition": _quality_repetition_sql(),
        "decontaminate": decontam.ngram_contamination_sql(
            f"doc_id % {DECONTAM_EVAL_MOD} <> 0", f"doc_id % {DECONTAM_EVAL_MOD} = 0"
        ),
        "trajectory_stats": trajectory.trajectory_stats_sql(),
        "bounding_caps": caps.bounding_caps_sql(),
        "simplify_traj": _golden_simplify_traj_sql(),
        "geo_neardup": _oracle_geo_neardup_sql(),
        "asof_join": _Q_ASOF_SQL,
        "interval_join": _Q_INTERVAL_JOIN_SQL,
        "time_rollup": _time_rollup_oracle_sql(),
        "sample_splits": _sample_splits_sql(),
        "token_shards": _token_shards_sql(),
        "corpus_prep": _corpus_prep_sql(),
        "stream_tile_counts": _golden_stream_tile_sql(),
        "stream_geofence": _golden_stream_geofence_sql(),
        "stream_dedup": _stream_dedup_sql(),
        "ann_cosine": _Q_ANN_COSINE_SQL,
        "ann_ivf": _Q_ANN_COSINE_SQL,
        "ann_lsh_recall": _values_sql(
            _golden_lsh_recall_rows(),
            "query_id, n_hits, recall",
            casts={"query_id": "BIGINT", "n_hits": "INTEGER"},
        ),
        "embed_neardup": _Q_EMBED_NEARDUP_SQL,
        "embed_clusters": _Q_EMBED_CLUSTERS_SQL,
        "event_sessions": _Q_EVENT_SESSIONS_SQL,
        "boundary_rings": _values_sql(
            _golden_boundary_rows(),
            "layer_id, ring_id, seq, vlat, vlng",
            casts={"ring_id": "INTEGER", "seq": "INTEGER"},
        ),
        "polygon_boolops": _golden_boolop_sql(),
        "polygon_relations": _golden_relation_sql(),
    }
