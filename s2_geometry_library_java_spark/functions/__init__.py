"""Spark-facing S2 function surface.

Two tiers, chosen by where the math can run:

- **Native column expressions** (``*_expr``): pure bit/trig arithmetic that
  Catalyst can codegen JVM-side — parent/range_min/range_max/level/face on the
  64-bit id (S2CellId.java:231-338 bit formulas), the signed-bias unsigned
  compare (S2CellId.java:897-899, realized as ``XOR Long.MIN_VALUE`` so ANSI
  overflow never triggers), the hex token codec's encode side, deterministic
  geotag derivation, and haversine.
  These keep the 10^12-row hot path inside WholeStageCodegen with zero Python.

- **Vectorized pandas UDFs** (``s2_cell_id`` …): the Hilbert encode/decode,
  which needs the 1024-entry lookup-table gather (S2CellId.java:691-803) —
  one Arrow batch in, a handful of NumPy ufunc calls, one batch out; no
  per-row Python.  The ``s2_token``/``s2_from_token`` UDFs remain the SQL
  surface of the token codec; engine operators tokenize with ``token_expr``.
"""

from s2_geometry_library_java_spark.functions.udfs import (
    s2_cell_id,
    s2_cell_id_at_level,
    s2_cell_to_lat,
    s2_cell_to_lng,
    s2_token,
    s2_from_token,
    s2_level_udf,
)
from s2_geometry_library_java_spark.functions.native import (
    MIN_LONG,
    biased,
    parent_expr,
    range_min_expr,
    range_max_expr,
    level_expr,
    face_expr,
    is_leaf_expr,
    token_expr,
    ancestors_expr,
    geotag_lat_expr,
    geotag_lng_expr,
    haversine_expr,
    haversine_sql,
    xyz_exprs,
    xyz_sql,
    GEOTAG_LAT_SQL,
    GEOTAG_LNG_SQL,
)

__all__ = [
    "s2_cell_id",
    "s2_cell_id_at_level",
    "s2_cell_to_lat",
    "s2_cell_to_lng",
    "s2_token",
    "s2_from_token",
    "s2_level_udf",
    "MIN_LONG",
    "biased",
    "parent_expr",
    "range_min_expr",
    "range_max_expr",
    "level_expr",
    "face_expr",
    "is_leaf_expr",
    "token_expr",
    "ancestors_expr",
    "geotag_lat_expr",
    "geotag_lng_expr",
    "haversine_expr",
    "haversine_sql",
    "xyz_exprs",
    "xyz_sql",
    "GEOTAG_LAT_SQL",
    "GEOTAG_LNG_SQL",
]
