"""Spark-facing S2 function surface.

Two tiers, chosen by where the math can run:

- **Native formulas** (``functions.native``, ``*_sql``): the pure bit/trig
  arithmetic Catalyst can codegen JVM-side — parent/range_min/range_max/
  level/face on the 64-bit id (S2CellId.java:231-338 bit formulas), the
  signed-bias unsigned compare (S2CellId.java:897-899, realized as
  ``XOR Long.MIN_VALUE`` so ANSI overflow never triggers), the hex token
  codec's encode side, the phash anchor and geotag derivations, and
  haversine.  Each is written once, as Spark SQL text: operators parse it
  with ``F.expr`` and ``sql_api`` registers the same text as the ``s2_*``
  SQL functions.  These keep the 10^12-row hot path inside
  WholeStageCodegen with zero Python.

- **Vectorized pandas UDFs** (``s2_cell_id`` …): the Hilbert encode/decode,
  which needs the 1024-entry lookup-table gather (S2CellId.java:691-803) —
  one Arrow batch in, a handful of NumPy ufunc calls, one batch out; no
  per-row Python.  The ``s2_token``/``s2_from_token`` UDFs remain the SQL
  surface of the token codec; engine operators tokenize with ``token_sql``.
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

__all__ = [
    "s2_cell_id",
    "s2_cell_id_at_level",
    "s2_cell_to_lat",
    "s2_cell_to_lng",
    "s2_token",
    "s2_from_token",
    "s2_level_udf",
]
