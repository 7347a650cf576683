"""Native (JVM/codegen) column expressions for S2 cell-id arithmetic.

Every formula here is the bit-exact Spark-SQL image of a reference method:

- ``parent_expr``     — S2CellId.parent(level): ``(id & -lsb) | lsb``
                        (S2CellId.java:334-338)
- ``range_min_expr``  — S2CellId.rangeMin(): ``id - (lsb - 1)``
                        (S2CellId.java:302-304)
- ``range_max_expr``  — S2CellId.rangeMax(): ``id + (lsb - 1)``
                        (S2CellId.java:306-308)
- ``level_expr``      — S2CellId.level() via position of lowest set bit
                        (S2CellId.java:231-260); log2 of an exact power of two
                        rounded, never truncated, because Spark's LOG2 is
                        ln(x)/ln(2) with ~1e-13 noise at the top bits
- ``token_expr``      — S2CellId.toToken(): lower-case 16-digit hex with
                        trailing zeros stripped, id 0 -> ``"X"``
                        (S2CellId.java:439-498), bit-exact with
                        ``kernel.cellid.to_token``
- ``biased``          — the unsigned-order compare trick: XOR the sign bit
                        instead of adding Long.MIN_VALUE (same total order as
                        S2CellId.java:897-899, no ANSI overflow)

Keeping these native means the join hot paths — the prefix join's
level-A key, the range join's biased compares, edge_join's ancestors
explode — run entirely in WholeStageCodegen with zero Python.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

MIN_LONG = -0x8000000000000000
MAX_LEVEL = 30


def _lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def biased(cell_id: Column) -> Column:
    """Order-preserving signed image of the unsigned id (flip the sign bit)."""
    return cell_id.bitwiseXOR(F.lit(MIN_LONG))


def parent_expr(cell_id: Column, level: int) -> Column:
    lsb = _lsb_for_level(level)
    return cell_id.bitwiseAND(F.lit(-lsb)).bitwiseOR(F.lit(lsb))


def range_min_expr(cell_id: Column) -> Column:
    lsb = cell_id.bitwiseAND(-cell_id)
    return cell_id - (lsb - F.lit(1))


def range_max_expr(cell_id: Column) -> Column:
    lsb = cell_id.bitwiseAND(-cell_id)
    return cell_id + (lsb - F.lit(1))


def level_expr(cell_id: Column) -> Column:
    lsb = cell_id.bitwiseAND(-cell_id)
    return (F.lit(MAX_LEVEL) - F.round(F.log2(lsb.cast("double")) / F.lit(2.0))).cast("int")


def face_expr(cell_id: Column) -> Column:
    """Top 3 bits as unsigned face index (S2CellId.java:218)."""
    return F.shiftrightunsigned(cell_id, 61).cast("int")


def token_expr(cell_id: Column) -> Column:
    """S2CellId.toToken() as codegen string functions.  ``hex`` of a BIGINT
    prints the two's-complement bit pattern without leading zeros, so the
    negative face-4/5 ids come out as their full unsigned 16 digits; the
    left pad restores the leading zeros of faces 0-1 before the trailing
    zeros are stripped."""
    hex16 = F.lpad(F.lower(F.hex(cell_id)), 16, "0")
    return F.when(cell_id == F.lit(0), F.lit("X")).otherwise(F.rtrim(hex16, F.lit("0")))


def is_leaf_expr(cell_id: Column) -> Column:
    return cell_id.bitwiseAND(F.lit(1)) == F.lit(1)


def ancestors_expr(cell_id: Column, levels: list[int]) -> Column:
    """Array of ancestors at the given levels — the O7 multi-level equi-join
    rewrite (S2EdgeIndex.getEdgesInParentCells, S2EdgeIndex.java:422-441):
    exploding this array turns a BETWEEN range join into an equi-join
    (operators.edge_join)."""
    return F.array(*[parent_expr(cell_id, lv) for lv in sorted(set(levels))])


# ---------------------------------------------------------------------------
# Deterministic geotag derivation (FIXTURES.md F1/F7): anchor lat/lng as a
# pure integer-arithmetic function of a key column, identical in Spark and
# DuckDB so oracle SQL can reproduce it exactly.
# ---------------------------------------------------------------------------
_LAT_MULT = 2654435761  # Knuth multiplicative hash constants
_LNG_MULT = 2246822519
_LNG_ADD = 1013904223
_TWO32 = 4294967296

# The hash is (key * MULT [+ ADD]) mod 2^32, but a bare BIGINT multiply wraps
# for |key| > ~3.47e9 (2^63 / 2654435761) — an error under ANSI mode and a
# negative remainder otherwise.  Since only (key mod 2^32) matters, mask the
# key to its low 32 bits, split 16/16, and recombine mod 2^32: every
# intermediate stays below 65535 * MULT + 2^32 ~ 1.8e14, wrap-free over the
# FULL 64-bit key domain.  All ops are exact integer arithmetic, so the final
# double tail (the only inexact part) is bit-identical to the old formula for
# every previously-valid key, and to the DuckDB oracle text below.


def _hash32_expr(key: Column, mult: int, add: int) -> Column:
    k32 = key.bitwiseAND(F.lit(_TWO32 - 1))
    k_hi = F.shiftrightunsigned(k32, 16)
    k_lo = k32.bitwiseAND(F.lit(65535))
    h = (k_hi * F.lit(mult)).bitwiseAND(F.lit(65535)) * F.lit(65536) + k_lo * F.lit(
        mult
    ) + F.lit(add)
    return h.bitwiseAND(F.lit(_TWO32 - 1))


def geotag_lat_expr(key: Column) -> Column:
    h = _hash32_expr(key, _LAT_MULT, 0)
    return F.lit(-90.0) + F.lit(180.0) * (h.cast("double") / F.lit(float(_TWO32)))


def geotag_lng_expr(key: Column) -> Column:
    h = _hash32_expr(key, _LNG_MULT, _LNG_ADD)
    return F.lit(-180.0) + F.lit(360.0) * (h.cast("double") / F.lit(float(_TWO32)))


def _hash32_sql(key: str, mult: int, add: int) -> str:
    """The same wrap-free split in portable SQL (parses in Spark and DuckDB:
    only & , * , + , CAST/FLOOR and float division)."""
    k32 = f"({key} & 4294967295)"
    k_hi = f"CAST(FLOOR({k32} / 65536.0) AS BIGINT)"
    k_lo = f"({k32} & 65535)"
    return (
        f"(((({k_hi} * {mult}) & 65535) * 65536 + {k_lo} * {mult} + {add})"
        f" & 4294967295)"
    )


GEOTAG_LAT_SQL = (
    "(-90.0 + 180.0 * (" + _hash32_sql("{key}", _LAT_MULT, 0) + " / 4294967296.0))"
)
GEOTAG_LNG_SQL = (
    "(-180.0 + 360.0 * ("
    + _hash32_sql("{key}", _LNG_MULT, _LNG_ADD)
    + " / 4294967296.0))"
)


# ---------------------------------------------------------------------------
# Haversine distance (S2LatLng.getDistance, S2LatLng.java:180-205) as a native
# expression. The expression tree — deg * D2R literal, sin half-angles, then
# 2*atan2(sqrt(x), sqrt(max(0,1-x))) — is kept IDENTICAL to
# kernel.predicates.haversine_radians and to HAVERSINE_SQL (DuckDB oracle)
# so all three produce bit-identical doubles.
# ---------------------------------------------------------------------------
_D2R = math.pi / 180.0
_D2R_LIT = repr(_D2R)  # '0.017453292519943295' — round-trips exactly


def haversine_expr(lat1_deg: Column, lng1_deg: Column, lat2_deg: Column, lng2_deg: Column) -> Column:
    """Distance in radians on the unit sphere from degree columns."""
    d2r = F.lit(_D2R)
    lat1 = lat1_deg * d2r
    lat2 = lat2_deg * d2r
    dlat = F.sin(F.lit(0.5) * (lat2 - lat1))
    dlng = F.sin(F.lit(0.5) * (lng2_deg * d2r - lng1_deg * d2r))
    x = dlat * dlat + dlng * dlng * F.cos(lat1) * F.cos(lat2)
    return F.lit(2.0) * F.atan2(F.sqrt(x), F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - x)))


_HAV_X_SQL = (
    "(sin(0.5 * ({lat2} * {d2r} - {lat1} * {d2r})) * sin(0.5 * ({lat2} * {d2r} - {lat1} * {d2r})) "
    "+ sin(0.5 * ({lng2} * {d2r} - {lng1} * {d2r})) * sin(0.5 * ({lng2} * {d2r} - {lng1} * {d2r})) "
    "* cos({lat1} * {d2r}) * cos({lat2} * {d2r}))"
)


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """DuckDB/ANSI SQL text computing the same haversine expression tree."""
    x = _HAV_X_SQL.format(lat1=lat1, lng1=lng1, lat2=lat2, lng2=lng2, d2r=_D2R_LIT)
    return f"(2.0 * atan2(sqrt({x}), sqrt(greatest(0.0, 1.0 - {x}))))"


def xyz_exprs(lat_deg: Column, lng_deg: Column) -> tuple[Column, Column, Column]:
    """Unit-vector xyz from degrees (S2LatLng.toPoint, S2LatLng.java:169-174)."""
    d2r = F.lit(_D2R)
    phi = lat_deg * d2r
    theta = lng_deg * d2r
    cosphi = F.cos(phi)
    return F.cos(theta) * cosphi, F.sin(theta) * cosphi, F.sin(phi)


def xyz_sql(lat: str, lng: str) -> tuple[str, str, str]:
    """SQL text (Spark and DuckDB) for the same xyz expression tree as ``xyz_exprs``."""
    d = _D2R_LIT
    return (
        f"(cos({lng} * {d}) * cos({lat} * {d}))",
        f"(sin({lng} * {d}) * cos({lat} * {d}))",
        f"(sin({lat} * {d}))",
    )
