"""Native (JVM/codegen) S2 formulas, each written once as Spark SQL text.

Every function returns Spark SQL text over column references (or any
parenthesized SQL expression).  Operators parse it with ``F.expr`` — one
py4j call per expression, where a PySpark Column tree costs one or more per
node — and ``sql_api`` registers the same text as its ``s2_*`` SQL function
bodies, so the join hot paths (the prefix join's level-A key, the range
join's biased compares, edge_join's ancestors explode) run in
WholeStageCodegen with zero Python.  Each is the bit-exact image of a
reference method:

- ``parent_sql``, ``range_min_sql``, ``range_max_sql``: S2CellId.parent /
  rangeMin / rangeMax, ``(id & -lsb) | lsb`` and ``id -/+ (lsb - 1)``
  (S2CellId.java:302-338)
- ``level_sql``: S2CellId.level() from the lowest set bit
  (S2CellId.java:231-260); log2 of an exact power of two is rounded, never
  truncated, because Spark's LOG2 is ln(x)/ln(2) with ~1e-13 noise
- ``face_sql``: the top 3 bits (S2CellId.java:218)
- ``token_sql``: S2CellId.toToken() (S2CellId.java:439-498), bit-exact with
  ``kernel.cellid.to_token``
- ``biased_sql``: XOR the sign bit, the unsigned order of
  S2CellId.java:897-899 without ANSI overflow; ``in_range_sql`` is
  S2CellUnion.contains' interval test in that order
- ``anchor_*_sql`` / ``geotag_*_sql``: the phash anchor and key-hash geotag
  lat/lng (FIXTURES.md F1/F7)
- ``haversine_sql`` / ``xyz_sql``: S2LatLng.getDistance / toPoint
  (S2LatLng.java:169-205), read alike by Spark and DuckDB

Spark SQL rules that keep these bit-identical to the NumPy kernels:

- a bare decimal literal parses as DECIMAL, so double literals carry a
  ``D`` suffix or are exact (``haversine_sql``/``xyz_sql`` are shared with
  DuckDB, which has no suffix: their literals are exact or round-trip
  through Spark's decimal-to-double cast);
- never divide a BIGINT by a bare decimal literal (decimal division is one
  ulp off the double tree): cast to DOUBLE and divide by a ``D`` literal;
- token trimming is ``TRIM(TRAILING '0' FROM ...)``: the two-argument
  ``rtrim`` takes (trim string, string), the reverse of PySpark's.

``GEOTAG_LAT_SQL``/``GEOTAG_LNG_SQL`` are the DuckDB oracle's own text.
"""

from __future__ import annotations

import math
import re

MAX_LEVEL = 30
MIN_LONG = -0x8000000000000000
# Long.MIN_VALUE as a Spark BIGINT literal: the sign bit
SIGN_BIT = f"{MIN_LONG}L"

# A column reference F.col and F.expr read the same way: dotted parts, each
# a plain identifier or backtick-quoted (`` escapes a backtick).
_PART = r"(?:[A-Za-z_][A-Za-z0-9_]*|`(?:[^`]|``)+`)"
COLUMN_REF = re.compile(rf"{_PART}(?:\.{_PART})*")


def col_ref(name: str) -> str:
    """SQL text naming the column ``F.col(name)`` names: a plain, dotted or
    backtick-quoted reference as is, any other name backtick-quoted."""
    if COLUMN_REF.fullmatch(name):
        return name
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """A Spark SQL string literal holding exactly ``s`` (backslash escapes,
    Spark's default string-literal parsing)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def in_set_sql(col: str, values) -> str:
    """``col IN (v1, ...)`` over integers, parsed once where ``Column.isin``
    makes one py4j literal per value; Spark plans it as an INSET hash set.
    An empty set is ``false``."""
    if not values:
        return "false"
    return f"{col} IN ({', '.join(str(int(v)) for v in values)})"


def _lsb(level: int | str) -> str:
    """The lowest set bit of a level-``level`` id: a literal for an int
    level, else a shift of the level expression."""
    if isinstance(level, int):
        return str(1 << (2 * (MAX_LEVEL - level)))
    return f"shiftleft(1L, 2 * ({MAX_LEVEL} - {level}))"


def biased_sql(cell: str) -> str:
    """Order-preserving signed image of the unsigned id (flip the sign bit)."""
    return f"({cell} ^ {SIGN_BIT})"


def in_range_sql(cell: str, lo: str, hi: str) -> str:
    """``lo <= cell <= hi`` in unsigned order."""
    b = biased_sql(cell)
    return f"({b} >= {biased_sql(lo)} AND {b} <= {biased_sql(hi)})"


def parent_sql(cell: str, level: int | str) -> str:
    lsb = _lsb(level)
    return f"(({cell} & -{lsb}) | {lsb})"


def _lowest_bit(cell: str) -> str:
    return f"({cell} & -{cell})"


def range_min_sql(cell: str) -> str:
    return f"({cell} - ({_lowest_bit(cell)} - 1))"


def range_max_sql(cell: str) -> str:
    return f"({cell} + ({_lowest_bit(cell)} - 1))"


def level_sql(cell: str) -> str:
    return f"CAST({MAX_LEVEL} - round(log2(CAST({_lowest_bit(cell)} AS DOUBLE)) / 2.0D) AS INT)"


def face_sql(cell: str) -> str:
    return f"CAST(shiftrightunsigned({cell}, 61) AS INT)"


def is_leaf_sql(cell: str) -> str:
    return f"(({cell} & 1) = 1)"


def token_sql(cell: str) -> str:
    """S2CellId.toToken().  ``hex`` of a BIGINT prints the two's-complement
    bit pattern without leading zeros, so the negative face-4/5 ids come
    out as their full unsigned 16 digits; the left pad restores the leading
    zeros of faces 0-1 before the trailing zeros are stripped."""
    return (
        f"CASE WHEN {cell} = 0 THEN 'X' "
        f"ELSE TRIM(TRAILING '0' FROM lpad(lower(hex({cell})), 16, '0')) END"
    )


def ancestors_sql(cell: str, levels: list[int]) -> str:
    """Array of ancestors at the given levels — the O7 multi-level equi-join
    rewrite (S2EdgeIndex.getEdgesInParentCells, S2EdgeIndex.java:422-441):
    exploding this array turns a BETWEEN range join into an equi-join
    (operators.edge_join)."""
    return f"array({', '.join(parent_sql(cell, lv) for lv in sorted(set(levels)))})"


# ---------------------------------------------------------------------------
# Deterministic point derivations (FIXTURES.md F1/F7): lat/lng as a pure
# integer-arithmetic function of a BIGINT column, so oracle SQL can
# reproduce it exactly.
# ---------------------------------------------------------------------------
def _lat_of(u32: str) -> str:
    """An unsigned 32-bit value scaled to a latitude in [-90, 90)."""
    return f"(-90.0D + 180.0D * (CAST({u32} AS DOUBLE) / 4294967296.0D))"


def _lng_of(u32: str) -> str:
    """An unsigned 32-bit value scaled to a longitude in [-180, 180)."""
    return f"(-180.0D + 360.0D * (CAST({u32} AS DOUBLE) / 4294967296.0D))"


def anchor_lat_sql(phash: str) -> str:
    return _lat_of(f"shiftrightunsigned({phash}, 32)")


def anchor_lng_sql(phash: str) -> str:
    return _lng_of(f"{phash} & 4294967295")


_LAT_MULT = 2654435761  # Knuth multiplicative hash constants
_LNG_MULT = 2246822519
_LNG_ADD = 1013904223

# The hash is (key * MULT [+ ADD]) mod 2^32, but a bare BIGINT multiply wraps
# for |key| > ~3.47e9 (2^63 / 2654435761) — an error under ANSI mode and a
# negative remainder otherwise.  Since only (key mod 2^32) matters, split the
# key's low 32 bits 16/16 and recombine mod 2^32: every intermediate stays
# below 65535 * MULT + 2^32 ~ 1.8e14, wrap-free over the FULL 64-bit key
# domain.  The integer stage is exact, so the double tail (the only inexact
# part) is bit-identical to the DuckDB oracle text below for every key.


def _hash32_sql(key: str, mult: int, add: int) -> str:
    h = f"((shiftrightunsigned({key} & 4294967295, 16) * {mult}) & 65535) * 65536 + ({key} & 65535) * {mult}"
    if add:
        h += f" + {add}"
    return f"(({h}) & 4294967295)"


def geotag_lat_sql(key: str) -> str:
    return _lat_of(_hash32_sql(key, _LAT_MULT, 0))


def geotag_lng_sql(key: str) -> str:
    return _lng_of(_hash32_sql(key, _LNG_MULT, _LNG_ADD))


def _hash32_duckdb(key: str, mult: int, add: int) -> str:
    """The same wrap-free split in DuckDB SQL (only & , * , + , CAST/FLOOR
    and float division)."""
    k32 = f"({key} & 4294967295)"
    k_hi = f"CAST(FLOOR({k32} / 65536.0) AS BIGINT)"
    k_lo = f"({k32} & 65535)"
    return (
        f"(((({k_hi} * {mult}) & 65535) * 65536 + {k_lo} * {mult} + {add})"
        f" & 4294967295)"
    )


GEOTAG_LAT_SQL = (
    "(-90.0 + 180.0 * (" + _hash32_duckdb("{key}", _LAT_MULT, 0) + " / 4294967296.0))"
)
GEOTAG_LNG_SQL = (
    "(-180.0 + 360.0 * ("
    + _hash32_duckdb("{key}", _LNG_MULT, _LNG_ADD)
    + " / 4294967296.0))"
)


# ---------------------------------------------------------------------------
# Haversine distance and unit vectors, read alike by Spark and DuckDB.  The
# haversine tree — deg * D2R literal, sin half-angles, then
# 2*atan2(sqrt(x), sqrt(max(0,1-x))) — is kept IDENTICAL to
# kernel.predicates.haversine_radians so both produce bit-identical doubles.
# ---------------------------------------------------------------------------
_D2R_LIT = repr(math.pi / 180.0)  # '0.017453292519943295' — round-trips exactly

_HAV_X_SQL = (
    "(sin(0.5 * ({lat2} * {d2r} - {lat1} * {d2r})) * sin(0.5 * ({lat2} * {d2r} - {lat1} * {d2r})) "
    "+ sin(0.5 * ({lng2} * {d2r} - {lng1} * {d2r})) * sin(0.5 * ({lng2} * {d2r} - {lng1} * {d2r})) "
    "* cos({lat1} * {d2r}) * cos({lat2} * {d2r}))"
)


def haversine_sql(lat1: str, lng1: str, lat2: str, lng2: str) -> str:
    """Distance in radians on the unit sphere from degree columns."""
    x = _HAV_X_SQL.format(lat1=lat1, lng1=lng1, lat2=lat2, lng2=lng2, d2r=_D2R_LIT)
    return f"(2.0 * atan2(sqrt({x}), sqrt(greatest(0.0, 1.0 - {x}))))"


def xyz_sql(lat: str, lng: str) -> tuple[str, str, str]:
    """Unit-vector x, y, z from degree columns."""
    d = _D2R_LIT
    return (
        f"(cos({lng} * {d}) * cos({lat} * {d}))",
        f"(sin({lng} * {d}) * cos({lat} * {d}))",
        f"(sin({lat} * {d}))",
    )
