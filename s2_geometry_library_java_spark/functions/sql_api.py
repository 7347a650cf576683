"""``spark.sql()`` surface — every cell-id op callable by NAME from SQL.

``register_sql_functions(spark)`` installs two tiers so a reference user can
drive the engine from plain SQL, not only the DataFrame builders:

1. **SQL scalar functions** (``CREATE OR REPLACE TEMPORARY FUNCTION ...
   RETURN <expr>``) for the pure bit-arithmetic ops.  Spark inlines the body
   into the calling query at analysis time, so these constant-fold, push
   down, and execute inside WholeStageCodegen.  The cell-id, unsigned-order,
   anchor, geotag and haversine bodies are the very ``native.py`` texts the
   engine operators parse, so the SQL surface and the operators run one
   formula each: S2CellId.java:231-338 (level/parent/range),
   S2CellId.java:897-899 (unsigned order via sign-bit flip) and
   S2LatLng.java:180-205 (haversine, bit-identical to the NumPy kernel).

2. **Arrow-vectorized pandas UDFs** (``spark.udf.register``) for the trig +
   Hilbert-table kernels SQL cannot express: encode, decode, token codec,
   neighbor expansion.

Registration is idempotent (CREATE OR REPLACE / re-register).  All names are
``s2_``-prefixed to avoid builtin collisions.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from s2_geometry_library_java_spark.functions import native
from s2_geometry_library_java_spark.kernel import metrics as _metrics

_MIN_WIDTH_DERIV = _metrics.MIN_WIDTH.deriv  # sqrt(2)/3 (S2Projections quadratic)
_AVG_AREA_DERIV = _metrics.AVG_AREA.deriv  # pi/6


def _sql_scalar_defs() -> list[tuple[str, str]]:
    # unsigned-order ends of each argument's leaf range
    lo = {c: native.biased_sql(native.range_min_sql(c)) for c in "ab"}
    hi = {c: native.biased_sql(native.range_max_sql(c)) for c in "ab"}
    return [
        # --- cell-id bit arithmetic (WholeStageCodegen after inlining) ---
        ("s2_parent(cell BIGINT, level INT) RETURNS BIGINT", native.parent_sql("cell", "level")),
        ("s2_range_min(cell BIGINT) RETURNS BIGINT", native.range_min_sql("cell")),
        ("s2_range_max(cell BIGINT) RETURNS BIGINT", native.range_max_sql("cell")),
        ("s2_level(cell BIGINT) RETURNS INT", native.level_sql("cell")),
        ("s2_face(cell BIGINT) RETURNS INT", native.face_sql("cell")),
        ("s2_is_leaf(cell BIGINT) RETURNS BOOLEAN", native.is_leaf_sql("cell")),
        # unsigned-order sort key (flip the sign bit; total order matches
        # the reference's unsignedLongLessThan)
        ("s2_biased(cell BIGINT) RETURNS BIGINT", native.biased_sql("cell")),
        (
            "s2_cell_contains(a BIGINT, b BIGINT) RETURNS BOOLEAN",
            native.in_range_sql("b", native.range_min_sql("a"), native.range_max_sql("a")),
        ),
        (
            "s2_cell_intersects(a BIGINT, b BIGINT) RETURNS BOOLEAN",
            f"({lo['b']} <= {hi['a']}) AND ({lo['a']} <= {hi['b']})",
        ),
        # --- spherical distance & deterministic geotag derivation ---
        (
            "s2_haversine_rad(lat1 DOUBLE, lng1 DOUBLE, lat2 DOUBLE, lng2 DOUBLE) RETURNS DOUBLE",
            native.haversine_sql("lat1", "lng1", "lat2", "lng2"),
        ),
        # valid over the full 64-bit key domain (wrap-free hash split, see
        # native._hash32_sql)
        ("s2_geotag_lat(key BIGINT) RETURNS DOUBLE", native.geotag_lat_sql("key")),
        ("s2_geotag_lng(key BIGINT) RETURNS DOUBLE", native.geotag_lng_sql("key")),
        # phash -> anchor lat/lng (FIXTURES.md F1, the images-pipeline
        # geotag derivation; bit slicing, valid over the full 64-bit domain)
        ("s2_anchor_lat(phash BIGINT) RETURNS DOUBLE", native.anchor_lat_sql("phash")),
        ("s2_anchor_lng(phash BIGINT) RETURNS DOUBLE", native.anchor_lng_sql("phash")),
        # the radius-join bucket level: MIN_WIDTH.get_max_level(2r) capped at
        # 29 (operators/knn.py).  The kernel takes frexp(q)'s exponent of
        # the rounded quotient q = deriv/r (S2.java:206-218); libm LOG2 can
        # be off by one when q sits within an ulp of a power of two, which
        # would bucket one level too fine and silently drop in-radius join
        # rows — so the FLOOR(LOG2) guess is corrected by exact comparisons
        # of q against POWER(2, guess[+1]) (IEEE division and power-of-two
        # compares are bit-deterministic across Spark/DuckDB/NumPy).
        (
            "s2_radius_level(r DOUBLE) RETURNS INT",
            f"CASE WHEN r <= 0.0D THEN 29 ELSE "
            f"LEAST(29, GREATEST(0, "
            f"CAST(FLOOR(LOG2({_MIN_WIDTH_DERIV!r}D / r)) AS INT) "
            f"+ (CASE WHEN {_MIN_WIDTH_DERIV!r}D / r >= POWER(2.0D, "
            f"CAST(FLOOR(LOG2({_MIN_WIDTH_DERIV!r}D / r)) AS INT) + 1) THEN 1 "
            f"WHEN {_MIN_WIDTH_DERIV!r}D / r < POWER(2.0D, "
            f"CAST(FLOOR(LOG2({_MIN_WIDTH_DERIV!r}D / r)) AS INT)) THEN -1 "
            f"ELSE 0 END))) END",
        ),
        # S2LatLng fixed-point codecs (S2LatLng.java:43-57, S1Angle.java:
        # 31-41,109-121): decode multiplies by 1E-k like the reference
        # (S1Angle.java:113-116), encode is Java Math.round == floor(x+0.5)
        # — both pure codegen arithmetic, bit-identical to kernel
        # from_e5/to_e5 and any DuckDB twin.
        ("s2_from_e5(e BIGINT) RETURNS DOUBLE", "CAST(e AS DOUBLE) * 1.0E-5D"),
        ("s2_from_e6(e BIGINT) RETURNS DOUBLE", "CAST(e AS DOUBLE) * 1.0E-6D"),
        ("s2_from_e7(e BIGINT) RETURNS DOUBLE", "CAST(e AS DOUBLE) * 1.0E-7D"),
        (
            "s2_to_e5(deg DOUBLE) RETURNS BIGINT",
            "CAST(FLOOR(deg * 1.0E5D + 0.5D) AS BIGINT)",
        ),
        (
            "s2_to_e6(deg DOUBLE) RETURNS BIGINT",
            "CAST(FLOOR(deg * 1.0E6D + 0.5D) AS BIGINT)",
        ),
        (
            "s2_to_e7(deg DOUBLE) RETURNS BIGINT",
            "CAST(FLOOR(deg * 1.0E7D + 0.5D) AS BIGINT)",
        ),
        # level metrics (S2.java:141-221): POWER(2, n) and the multiply are
        # exact binary scalings, bit-identical to the kernel's math.ldexp
        (
            "s2_min_width(level INT) RETURNS DOUBLE",
            f"{_MIN_WIDTH_DERIV!r}D * POWER(CAST(2 AS DOUBLE), CAST(1 - level AS DOUBLE))",
        ),
        (
            "s2_avg_area(level INT) RETURNS DOUBLE",
            f"{_AVG_AREA_DERIV!r}D * POWER(CAST(2 AS DOUBLE), CAST(2 * (1 - level) AS DOUBLE))",
        ),
    ]


def register_sql_functions(spark: SparkSession) -> None:
    """Install the full s2_* function surface into the session catalog."""
    for signature, body in _sql_scalar_defs():
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {signature} RETURN {body}")

    from s2_geometry_library_java_spark.functions import udfs

    for name, fn in [
        ("s2_cell_from_latlng", udfs.s2_cell_id),  # full Hilbert encode (K23)
        ("s2_cell_from_latlng_at_level", udfs.s2_cell_id_at_level),
        ("s2_cell_lat", udfs.s2_cell_to_lat),  # decode (K10)
        ("s2_cell_lng", udfs.s2_cell_to_lng),
        ("s2_token", udfs.s2_token),  # token codec (K18)
        ("s2_from_token", udfs.s2_from_token),
        ("s2_vertex_neighbors", udfs.s2_vertex_neighbors_udf),  # K20
        ("s2_all_neighbors", udfs.s2_all_neighbors_udf),  # K21
    ]:
        spark.udf.register(name, fn)
