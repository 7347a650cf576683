"""The spatial assign/refine join: point-in-region at DataFrame scale.

Three candidate-generation arms, each an image of a reference index query.
``pip_join`` picks one from its inputs: choose_strategy weighs the covering
size and the ``n_rows`` hint between the two broadcast arms, and a layer
side the caller cannot broadcast (``broadcast_cells=False``, or a
``covering_frame``) takes the shuffled arm.

- **range join** ("range", assign_candidates):
  ``biased(cell_id) BETWEEN biased(range_min) AND biased(range_max)``
  against a broadcast covering — literally S2CellUnion.contains
  (S2CellUnion.java:160-178) with the unsigned-compare bias of
  S2CellId.java:897-899.  Broadcast-only: Catalyst executes a non-equi join
  as BNLJ, which is fine for a small layer side and wrong otherwise.

- **interval-stab** ("stab"): the same S2CellUnion.contains
  binary search, but *actually executed as a binary search*: the
  covering's disjoint-per-layer [range_min, range_max] intervals are
  flattened driver-side into a sorted boundary array whose segments each
  carry the set of covering rows containing them; one vectorized
  ``np.searchsorted`` per fact batch maps each leaf id to its segment (an
  int32), and a broadcast equi-join on the segment id expands to
  candidates.  O(log B) per row instead of the BNLJ's O(B), and no
  fact-side row amplification; raw points are encoded and stabbed in the
  same Arrow hop.  No shuffle, so hot cells cannot skew anything.
  Broadcast-only like "range".

- **prefix-partitioned interval join** (``broadcast_cells=False``, the
  100-TB arm, also chosen for a covering too big to broadcast): the
  parent-cell probe of S2EdgeIndex.getEdgesInParentCells
  (S2EdgeIndex.java:422-441) collapsed to ONE level-A ancestor key per
  probe row (no fan-out), the covering replicated to the same prefixes, a
  shuffled hash equi-join on the packed BIGINT prefix with exact interval
  containment as the residual condition, plus a pre-shuffle prune of probe
  rows outside every covering prefix (IN-set literal while small,
  broadcast left-semi beyond, fixed-size Bloom bitmap once the exact prefix
  set itself outgrows a comfortable broadcast).  Two forms share one join
  body (_prefix_join) and differ only in how they replicate the covering
  and learn its prefix set: ``prefix_candidates`` takes the driver-resident
  covering list; ``prefix_candidates_df`` (``pip_join(covering_frame=...)``)
  takes a covering DataFrame — e.g. built on executors by
  covering_df_distributed — and keeps replication + pruning entirely
  DataFrame-native for huge layer dimensions.  A hot prefix is AQE's to
  split (OptimizeSkewedJoin), the one skew mechanism.

Every arm encodes each fact row exactly once: the engine's encode
projections use nondeterministic twins of the encode UDFs (functions.udfs),
so Catalyst cannot push the prefix prune below them and re-run the UDF.

Refinement then applies the exact membership predicate only to candidates
from non-interior covering cells (O5): natively for rect/cap layers, through
the vectorized edge-crossing-parity kernel (S2Loop.java:624-654 via
kernel.predicates.loop_crossing_parity) in one pandas UDF for loop/polygon
layers.  Covering cells of one region are disjoint (normalized,
S2CellUnion.java:561-618), so no point matches a region twice — the join
emits no duplicates by construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, IntegerType, LongType, StructField, StructType

from s2_geometry_library_java_spark.functions.native import (
    COLUMN_REF,
    col_ref,
    in_range_sql,
    in_set_sql,
    parent_sql,
    sql_string,
)
from s2_geometry_library_java_spark.functions.udfs import _s2_cell_id_once
from s2_geometry_library_java_spark.operators.covering import COVERING_SCHEMA, JOIN_COVERING, covering_rows
from s2_geometry_library_java_spark.operators.layers import Layer
from s2_geometry_library_java_spark.session import local_frame


def with_cell_id(points: DataFrame, lat_col: str = "lat", lng_col: str = "lng", cell_col: str = "cell_id") -> DataFrame:
    """Encode stage: add the leaf cell id (K23 kernel, one Arrow hop).

    The coalesce is a runtime no-op (the kernel never yields null) but marks
    the column non-null to Catalyst: otherwise a range/equi join on it
    infers an IsNotNull constraint and pushes a filter that RE-EVALUATES the
    encode UDF a second time on the whole fact side (observed: two
    ArrowEvalPython encode stages in the BETWEEN-join plan).  The UDF is the
    nondeterministic encode twin for the same reason: no filter derived
    from cell_id (the prefix prune) is pushed below this projection.  The
    price is that no other filter is pushed below it either, so filter the
    points before encoding them, not after."""
    if cell_col in points.columns:
        return points
    return points.withColumn(
        cell_col, F.coalesce(_s2_cell_id_once(F.col(lat_col), F.col(lng_col)), F.lit(0))
    )


def assign_candidates(
    points: DataFrame,
    polygon_cells: DataFrame,
    cell_col: str = "cell_id",
) -> DataFrame:
    """Candidate (point, polygon) pairs via the broadcast range join (see
    module docstring); keeps all point columns plus ``polygon_id`` and
    ``is_interior``.  ``polygon_cells`` is a COVERING_SCHEMA frame."""
    cells = polygon_cells.select(
        F.col("polygon_id"),
        F.col("range_min").alias("_rmin"),
        F.col("range_max").alias("_rmax"),
        F.col("is_interior"),
    )
    cond = F.expr(in_range_sql(col_ref(cell_col), "_rmin", "_rmax"))
    return points.join(F.broadcast(cells), cond, "inner").drop("_rmin", "_rmax")


_U64_BIAS = np.uint64(1) << np.uint64(63)


def _stab_structure(rows: list[tuple]) -> tuple[np.ndarray, list[tuple]]:
    """Flatten covering intervals into (sorted uint64 segment boundaries,
    [(segment, polygon_id, is_interior), ...]).

    Segment s spans [bounds[s], bounds[s+1]) in biased (unsigned-order)
    space; every interval endpoint is a boundary, so an interval covers a
    segment iff it covers the segment's start, and the covered segments form
    one contiguous span per interval.  A leaf id's containing intervals are
    exactly its segment's list.  Driver cost is O(N log B + output)."""
    rmin = np.array([r[3] for r in rows], dtype=np.int64).view(np.uint64) ^ _U64_BIAS
    rmax = np.array([r[4] for r in rows], dtype=np.int64).view(np.uint64) ^ _U64_BIAS
    u64_max = np.uint64(0xFFFFFFFFFFFFFFFF)
    bset = {0}
    for lo, hi in zip(rmin, rmax):
        bset.add(int(lo))
        if hi != u64_max:  # end+1 would wrap; the last segment is open-ended
            bset.add(int(hi) + 1)
    bounds = np.array(sorted(bset), dtype=np.uint64)
    # Every interval endpoint is a boundary, so interval j covers exactly the
    # contiguous segment span [searchsorted(rmin_j), searchsorted(rmax_j,
    # right)-1] — O(N log B + output) driver cost, no pairwise scan.
    lo_seg = np.searchsorted(bounds, rmin, side="left")
    hi_seg = np.searchsorted(bounds, rmax, side="right") - 1
    seg_rows: list[tuple] = []
    for j, r in enumerate(rows):
        for s in range(int(lo_seg[j]), int(hi_seg[j]) + 1):
            seg_rows.append((int(s), r[0], r[5]))
    return bounds, seg_rows


_CELL_SEG_TYPE = StructType(
    [StructField("cell", LongType(), False), StructField("seg", IntegerType(), False)]
)


def stab_candidates(
    points: DataFrame,
    covering: list[tuple],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
) -> DataFrame:
    """Candidate pairs via the vectorized S2CellUnion.contains binary search
    (see module docstring).  Keeps all point columns plus ``cell_col``,
    ``polygon_id`` and ``is_interior``; points outside every covering
    interval drop out in the broadcast equi-join (inner, same semantics as
    the other strategies).

    One Arrow hop either way: pre-encoded points (``cell_col`` present)
    send their 8-byte id through ``seg_of`` and get the int32 segment back;
    raw points send (lat, lng) through ``cell_seg``, which encodes and
    stabs in one pass and returns (cell_id, segment) together."""
    bounds, seg_rows = _stab_structure(covering)

    def seg(ids: np.ndarray) -> np.ndarray:
        return (np.searchsorted(bounds, ids ^ _U64_BIAS, side="right") - 1).astype(np.int32)

    if cell_col in points.columns:

        @pandas_udf(IntegerType())
        def seg_of(cid: pd.Series) -> pd.Series:
            return pd.Series(seg(cid.to_numpy(dtype=np.int64).view(np.uint64)))

        pts, seg_col = points, seg_of(F.col(cell_col))
    else:
        from s2_geometry_library_java_spark.kernel import cellid as ck

        @pandas_udf(_CELL_SEG_TYPE)
        def cell_seg(lat_s: pd.Series, lng_s: pd.Series) -> pd.DataFrame:
            ids = ck.from_latlng_degrees(
                lat_s.to_numpy(dtype=np.float64), lng_s.to_numpy(dtype=np.float64)
            )
            return pd.DataFrame({"cell": ids.view(np.int64), "seg": seg(ids)})

        pts = (
            points.withColumn("_cs", cell_seg(F.col(lat_col), F.col(lng_col)))
            .withColumn(cell_col, F.col("_cs.cell"))
            .withColumn("_seg", F.col("_cs.seg"))
            .drop("_cs")
        )
        seg_col = F.col("_seg")
    seg_df = local_frame(
        points.sparkSession, seg_rows, "_seg int, polygon_id string, is_interior boolean"
    )
    # coalesce marks _seg non-null so the join's inferred IsNotNull doesn't
    # re-evaluate the UDF (same Catalyst trap as with_cell_id).
    pts = pts.withColumn("_seg", F.coalesce(seg_col, F.lit(-1)))
    return pts.join(F.broadcast(seg_df), "_seg", "inner").drop("_seg")


# Above this many DISTINCT covering prefixes the probe pre-filter switches
# from a codegen'd IN-set literal (cheapest while the analyzed plan stays
# small — Spark folds the list into a hash set, but plan text and driver-side
# literal handling get heavy well before the old 32k cap) to a broadcast
# LEFT SEMI join on the distinct-prefix frame: still zero-Python, still
# executed on the probe scan stage BEFORE the shuffle, and with no plan-size
# blowup at any covering size — the middle rung between the literal list and
# the Bloom bitmap below.  Pruning therefore never turns off.
PREFIX_IN_FILTER_MAX = 4096

# The broadcast-semi rung holds while the EXACT distinct-prefix set is
# comfortably broadcastable; past this many keys the set is ~10s of MB on
# the wire and several× that in each executor's LongHashedRelation, so the
# auto rung escalates to the final form: a FIXED-SIZE Bloom bitmap whose
# broadcast cost is independent of prefix cardinality (<= m/64 longs, and
# only words with a set bit exist as rows).  Spark 4 does not register
# bloom_filter_agg/might_contain in SQL, so the bitmap is built from
# first principles with bit_or aggregation (bloom_bitmap) and probed with
# broadcast word-lookups + bit tests (bloom_prune) — pure codegen, no
# Python.  Bloom false positives only cost shuffle bytes: every surviving
# row still meets the exact prefix equi-join + interval residual, so the
# match set is bit-identical across all three rungs.
PREFIX_SEMI_PRUNE_MAX = 1 << 20

# Bloom geometry: m bits, k seeded xxhash64 probes.  At the worst-case
# populated-prefix bound (6*4^10 ≈ 6.3M level-10 prefixes, PREFIX_LEVEL_CAP)
# m=2^26 gives fpp = (1 - e^(-k*n/m))^k ≈ 2.9%; at the PREFIX_SEMI_PRUNE_MAX
# crossover (n ≈ 1M) fpp ≈ 0.09%.  Bitmap ≤ 2^20 (word, bits) rows ≈ 8 MB
# broadcast worst case — and exactly k·n/64-ish rows when the covering is
# small, because empty words are never materialized.
PREFIX_BLOOM_BITS = 1 << 26
PREFIX_BLOOM_HASHES = 2

# Anchor-level bounds for the prefix join: the floor is the A/B-measured
# local[32] setting; the cap bounds the coarse-cell replication (4^(A-L)
# rows per covering cell coarser than A) and the worst-case populated-prefix
# count (6*4^10 ~ 6.3M), for derived and explicit levels alike.
PREFIX_LEVEL_FLOOR = 4
PREFIX_LEVEL_CAP = 10


def choose_prefix_level(shuffle_partitions: int) -> int:
    """Anchor level A for prefix_candidates, derived from the shuffle width.

    Reducer-key cardinality must comfortably exceed the shuffle partition
    count or reducers sit idle; aim for ~8 worst-case prefix keys per
    partition (6*4^A level-A cells).  local[32] -> the measured floor 4;
    a 1000-executor cluster at ~2000 shuffle partitions -> 6, matching the
    replication-vs-cardinality trade in the prefix_candidates docstring."""
    target = 8 * shuffle_partitions
    level = PREFIX_LEVEL_FLOOR
    while level < PREFIX_LEVEL_CAP and 6 * (4 ** level) < target:
        level += 1
    return level


def _validate_prefix_level(prefix_level: int) -> None:
    """Anchor level must lie in 0..PREFIX_LEVEL_CAP.  Below 0 the lsb bit
    math shifts by a negative amount (a cryptic runtime error at best); above
    the cap a coarse covering cell replicates to 4^(A-L) prefixes — the
    eight-layer benchmark covering, which holds a level-0 cell, replicates
    to 62,226,689 rows at A=12 and 995,627,024 at A=14."""
    if not 0 <= prefix_level <= PREFIX_LEVEL_CAP:
        raise ValueError(
            f"prefix_level must be between 0 and {PREFIX_LEVEL_CAP} "
            f"(PREFIX_LEVEL_CAP), got {prefix_level}"
        )


def _anchor_level(points: DataFrame, prefix_level: int | None) -> int:
    """The prefix join's anchor level: ``prefix_level`` when given, else
    derived from spark.sql.shuffle.partitions (choose_prefix_level) — so the
    same call scales from the laptop to the cluster.  Validated."""
    if prefix_level is None:
        try:
            parts = int(points.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):  # e.g. "auto" under some AQE configs
            parts = 200
        prefix_level = choose_prefix_level(parts)
    _validate_prefix_level(prefix_level)
    return prefix_level


def _prefix_cover_rows(rows: list[tuple], prefix_level: int) -> list[tuple]:
    """Replicate covering rows to their level-``prefix_level`` prefix cells.

    A covering cell at level >= prefix_level maps to exactly ONE prefix (its
    level-A ancestor, S2CellId.parent formula); a coarser cell spans
    4^(A - level) level-A descendants (siblings are 2*lsb_A apart starting at
    range_min + lsb_A - 1, S2CellId.java:302-338) and is replicated to each —
    driver-side, bounded by the covering size x 4^A.  Returns
    ``(prefix, polygon_id, range_min, range_max, is_interior)`` tuples; a
    probe row matches at most one replica (its own prefix), so the join emits
    no duplicates."""
    lsb_a = 1 << (2 * (30 - prefix_level))
    out: list[tuple] = []
    for pid, cid, level, rmin, rmax, interior in rows:
        lsb = cid & -cid
        if level >= prefix_level:
            out.append(((cid & -lsb_a) | lsb_a, pid, rmin, rmax, interior))
        else:
            first = cid - lsb + lsb_a
            step = 2 * lsb_a
            for i in range(lsb // lsb_a):
                out.append((first + i * step, pid, rmin, rmax, interior))
    return out


def _prefix_join(
    points: DataFrame,
    pref: DataFrame,
    cell_col: str,
    prefix_level: int,
    prune: list[int] | str,
) -> DataFrame:
    """The join body both prefix forms share.

    ``pref`` is the covering replicated to its level-``prefix_level``
    prefixes, columns ``(_pfx, polygon_id, _rmin, _rmax, is_interior)``.
    Each probe row gets its own level-A ancestor ``_pfx`` (native bit math,
    no fan-out), and the two sides meet in a shuffled HASH equi-join on the
    packed BIGINT prefix with the exact interval containment
    ``biased(cell) BETWEEN biased(range_min) AND biased(range_max)``
    (S2CellUnion.contains, S2CellUnion.java:160-178) as the residual.  A
    hot prefix (a city-sized layer stack) is AQE's OptimizeSkewedJoin's to
    split: static salting measured +62% on uniform and +32% on skewed data
    at 128M rows, where AQE's skew join won 2.3-2.6x (BENCH/BASELINE.md).

    Probe rows outside every covering prefix are dropped on the probe scan
    stage, before the shuffle.  ``prune`` is either the sorted prefix list
    itself — a codegen'd IN-set literal — or a rung name: ``"semi"``, a
    broadcast left semi on the distinct prefixes; ``"bloom"``, a fixed-size
    Bloom bitmap (bloom_bitmap / bloom_prune)."""
    cell = col_ref(cell_col)
    pts = points.withColumn("_pfx", F.expr(parent_sql(cell, prefix_level)))
    if not isinstance(prune, str):
        pts = pts.filter(F.expr(in_set_sql("_pfx", prune)))
    elif prune == "semi":
        pts = pts.join(F.broadcast(pref.select("_pfx").distinct()), "_pfx", "left_semi")
    else:
        # bit_or makes the duplicate prefixes in pref harmless, so no
        # distinct() shuffle
        pts = bloom_prune(pts, bloom_bitmap(pref.select("_pfx"), "_pfx"), "_pfx")

    cover = pref.withColumnRenamed("_pfx", "_ckey")
    # hash, not the default sort-merge: sorting a fact-sized probe side
    # spilled and dominated the r4 128M leg (>600 s per rep vs 177.7 s)
    out = pts.join(
        cover.hint("shuffle_hash"),
        F.expr(f"_pfx = _ckey AND {in_range_sql(cell, '_rmin', '_rmax')}"),
        "inner",
    )
    return out.drop("_pfx", "_ckey", "_rmin", "_rmax")


def prefix_candidates(
    points: DataFrame,
    rows: list[tuple],
    cell_col: str = "cell_id",
    prefix_level: int | None = None,
) -> DataFrame:
    """Candidate pairs via the PREFIX-PARTITIONED interval join — the
    100-TB arm when the layer side is too big to broadcast — over a
    driver-resident covering list.

    The fact side is shuffled ONCE, compactly: one level-A ancestor key per
    probe row, not one per covering level (such an ancestor explode
    measured 177.7 s at the 128M bench even hash-joined).  The covering is
    replicated driver-side to the same level-A prefixes (_prefix_cover_rows);
    the join itself is _prefix_join.  Because the prefix set is known
    driver-side at no Spark job, the probe prune is the IN-set literal up to
    PREFIX_IN_FILTER_MAX distinct prefixes and the broadcast semi beyond
    (at local[4] the IN-set job ran 2.91 s against 3.28 s through the semi
    and 3.13 s through prefix_candidates_df's eager "auto" rung).

    ``prefix_level`` trades reducer-key cardinality (6*4^A populated cells
    max) against coarse-cell replication (4^(A-L) per covering cell below
    A); 4 suits local[32], 6-8 a 1000-executor cluster — when None it is
    derived from the shuffle width (_anchor_level)."""
    prefix_level = _anchor_level(points, prefix_level)
    pref_rows = _prefix_cover_rows(rows, prefix_level)
    pref = local_frame(
        points.sparkSession,
        pref_rows,
        "_pfx bigint, polygon_id string, _rmin bigint, _rmax bigint, is_interior boolean",
    )
    prefixes = sorted({r[0] for r in pref_rows})
    prune = prefixes if len(prefixes) <= PREFIX_IN_FILTER_MAX else "semi"
    return _prefix_join(points, pref, cell_col, prefix_level, prune)


def prefix_cover_frame(cover: DataFrame, prefix_level: int) -> DataFrame:
    """DataFrame-native image of ``_prefix_cover_rows``: replicate covering
    rows to their level-``prefix_level`` prefixes ENTIRELY in codegen'd SQL,
    so a covering built on executors (covering_df_distributed) never funnels
    through driver Python on its way into the prefix join.

    Bit identities (all from the S2CellId formulas already in
    functions/native.py): a covering cell at level >= A has one prefix, its
    level-A ancestor ``(id & -lsb_A) | lsb_A`` (S2CellId.java:334-338); a
    coarser cell spans its ``lsb/lsb_A`` level-A descendants, which are an
    arithmetic progression — first ``id - lsb + lsb_A``, last
    ``id + lsb - lsb_A``, step ``2*lsb_A`` (sibling spacing,
    S2CellId.java:302-338) — generated with ``sequence()`` + ``explode()``.
    Input: the COVERING_SCHEMA frame; output columns
    ``(_pfx, polygon_id, _rmin, _rmax, is_interior)``."""
    _validate_prefix_level(prefix_level)
    lsb_a = 1 << (2 * (30 - prefix_level))
    lsb = "(cell_id & -cell_id)"
    # CaseWhen codegen evaluates only the taken branch, so the sequence's
    # first>last case never executes for deeper-than-A cells
    pfx = (
        f"CASE WHEN {lsb} <= {lsb_a} THEN array({parent_sql('cell_id', prefix_level)}) "
        f"ELSE sequence(cell_id - {lsb} + {lsb_a}, cell_id + {lsb} - {lsb_a}, {2 * lsb_a}) END"
    )
    return cover.select(
        F.explode(F.expr(pfx)).alias("_pfx"),
        F.col("polygon_id"),
        F.col("range_min").alias("_rmin"),
        F.col("range_max").alias("_rmax"),
        F.col("is_interior"),
    )


def _bloom_hash(col: Column, seed: int, m_bits: int) -> Column:
    """Hash ``col`` into [0, m_bits) — xxhash64 over (value, seed-literal),
    so each seed yields an independent hash function (the literal changes
    the hashed tuple; xxhash64's own seed is fixed)."""
    return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))


def bloom_bitmap(
    keys: DataFrame,
    key_col: str,
    m_bits: int = PREFIX_BLOOM_BITS,
    k: int = PREFIX_BLOOM_HASHES,
) -> DataFrame:
    """An m-bit Bloom bitmap of ``keys[key_col]`` as a ``(_w, _bits)`` frame:
    word index = hash >> 6, ``_bits`` = bit_or of ``1 << (hash & 63)`` over
    every key and every one of the k seeds.  Duplicated keys are free
    (bit_or is idempotent), so callers need not pay a distinct() first.
    Rows exist only for words with at least one set bit — a small key set
    yields a small bitmap automatically, a huge one caps at m/64 rows."""
    h = F.explode(
        F.array(*[_bloom_hash(F.col(key_col), s, m_bits) for s in range(k)])
    ).alias("_h")
    return (
        keys.select(h)
        .select(
            F.shiftright("_h", 6).alias("_w"),
            # SQL-form shiftleft: the PySpark wrapper takes only literal
            # shift amounts, the SQL function takes a column
            F.expr("shiftleft(1L, int(_h & 63))").alias("_b"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_b").alias("_bits"))
    )


def bloom_prune(
    df: DataFrame,
    bitmap: DataFrame,
    col: str,
    m_bits: int = PREFIX_BLOOM_BITS,
    k: int = PREFIX_BLOOM_HASHES,
) -> DataFrame:
    """Drop rows whose ``col`` is DEFINITELY absent from the bitmap's key
    set: k broadcast word-lookups (inner hash join on the word index — a
    missing word is a Bloom negative) each followed by a codegen'd bit
    test.  Never drops a true key; may keep false positives, which the
    caller's exact join removes.  ``m_bits``/``k`` must match the values
    the bitmap was built with.  Executes on the probe scan stage, before
    any shuffle — the same placement as the IN-set and semi rungs.

    All k lookups join the SAME bitmap frame (per-seed names live only in
    probe-side hash columns), so the k build sides canonicalize equal and
    the bitmap aggregation materializes + broadcasts ONCE — statically via
    ReuseExchange, or through AQE's stage cache at runtime (pinned by a
    plan test)."""
    out = df
    for s in range(k):
        hcol, wcol = f"_bh{s}", f"_bw{s}"
        out = out.withColumn(hcol, _bloom_hash(F.col(col), s, m_bits)).withColumn(
            wcol, F.shiftright(F.col(hcol), 6)
        )
        out = (
            out.join(F.broadcast(bitmap), out[wcol] == bitmap["_w"], "inner")
            .filter(F.expr(f"(_bits & shiftleft(1L, int({hcol} & 63))) != 0"))
            .drop(hcol, wcol, "_w", "_bits")
        )
    return out


def prefix_candidates_df(
    points: DataFrame,
    cover: DataFrame,
    cell_col: str = "cell_id",
    prefix_level: int | None = None,
) -> DataFrame:
    """The prefix-partitioned interval join with a DataFrame covering — the
    fully distributed 100-TB arm.

    Same join as ``prefix_candidates`` (_prefix_join: one compact level-A
    ancestor key per probe row, shuffled hash equi-join, exact interval
    containment residual), but the covering side is a DataFrame in
    COVERING_SCHEMA shape — e.g. the executor-built output of
    ``covering_df_distributed`` — so a 100k-layer dimension never touches
    driver Python: prefix replication runs as native ``sequence``/``explode``
    (prefix_cover_frame), and nothing about the covering's SIZE ever does.

    The probe prune (rows outside every covering prefix dropped before the
    shuffle) escalates from the covering's distinct-prefix count, learnt by
    one small bounded job on the DIMENSION side at construction time —
    ``distinct prefixes LIMIT PREFIX_IN_FILTER_MAX+1``:

    - at most PREFIX_IN_FILTER_MAX prefixes: the same codegen'd IN-set
      literal as the driver-list arm (measured ~1.3 s cheaper than the semi
      probe per 128M fact rows at local[32]);
    - above that, a second bounded count (``LIMIT PREFIX_SEMI_PRUNE_MAX+1``)
      picks the broadcast LEFT SEMI on the distinct prefixes while the exact
      set is still cheap to broadcast;
    - beyond PREFIX_SEMI_PRUNE_MAX, a PREFIX_BLOOM_BITS-bit Bloom bitmap of
      the covering prefixes (bloom_bitmap / bloom_prune): k broadcast
      word-lookups + bit tests on the probe scan stage, ≤ m/64 longs on the
      wire NO MATTER how many distinct prefixes the covering has; false
      positives (≈3% at the 6.3M worst-case prefix bound) only add shuffle
      bytes, never rows to the output.

    The jobs are bounded by their LIMITs regardless of covering size, but
    they run when the DataFrame is CONSTRUCTED, and the join consumes the
    covering subtree again (plus once more for a semi or Bloom prune).  The
    frame is small (the layer dimension): when it is expensive to build
    (applyInPandas coverer over many layers), persist or checkpoint
    ``cover`` before calling, and unpersist it after."""
    prefix_level = _anchor_level(points, prefix_level)
    pref = prefix_cover_frame(cover, prefix_level)
    sample = pref.select("_pfx").distinct().limit(PREFIX_IN_FILTER_MAX + 1).collect()
    if len(sample) <= PREFIX_IN_FILTER_MAX:
        prune = sorted(r["_pfx"] for r in sample)
    else:
        # second bounded dimension-side job: count (not collect) caps at
        # the LIMIT, deciding semi vs bloom without materializing keys
        n_keys = pref.select("_pfx").distinct().limit(PREFIX_SEMI_PRUNE_MAX + 1).count()
        prune = "semi" if n_keys <= PREFIX_SEMI_PRUNE_MAX else "bloom"
    return _prefix_join(points, pref, cell_col, prefix_level, prune)


def membership_expr(
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
    seed: Column | None = None,
) -> Column:
    """Boolean Column: does the point at (lat, lng) lie inside the layer
    named by the row's ``polygon_id``?

    Single-pass: one predicate combining the native rect/cap tests
    (one codegen'd CASE over ``polygon_id`` whose arms are the layers'
    ``Layer.sql_predicate`` texts, parsed by one ``F.expr``) with one vectorized
    parity-kernel pandas UDF for loop/polygon layers — the source is
    scanned exactly once regardless of the layer mix (no union of per-kind
    branches).  ``lat_col``/``lng_col`` are SQL column references
    (backtick-quote other names).  ``seed`` is an optional
    already-decided-true Column (e.g. interior-covering-cell membership);
    rows where it holds skip both the CASE chain and the parity sweep."""
    for c in (lat_col, lng_col):
        if not COLUMN_REF.fullmatch(c):
            raise ValueError(f"column reference {c!r} is not a SQL identifier; quote it with backticks")
    native = [l for l in layers if l.native]
    kernel_layers = [l for l in layers if not l.native]

    cond: Column = seed if seed is not None else F.lit(False)
    if native:
        # last layer first: a repeated polygon_id refines by its last layer
        arms = " ".join(
            f"WHEN polygon_id = {sql_string(l.polygon_id)} THEN {l.sql_predicate(lat_col, lng_col)}"
            for l in reversed(native)
        )
        cond = cond | F.expr(f"CASE {arms} ELSE false END")

    if kernel_layers:
        by_id = {l.polygon_id: l for l in kernel_layers}

        @pandas_udf(BooleanType())
        def parity_contains(
            pid_s: pd.Series, lat_s: pd.Series, lng_s: pd.Series, decided_s: pd.Series
        ) -> pd.Series:
            # Catalyst hoists the UDF into its own projection, so it SEES
            # every candidate row; ``decided`` (interior covering cell, or
            # native-predicate true) lets the kernel skip the parity sweep
            # for rows already kept — on an interior-heavy covering that is
            # most of the volume.  The UDF returns the final keep decision
            # (decided OR parity), so a Filter tests this one column and the
            # native CASE chain, trig included, is evaluated once, as the
            # ``decided`` argument, not again in the Filter.
            keep = decided_s.to_numpy(dtype=bool, copy=True)
            todo = ~keep
            if todo.any():
                # factorize (hash-based, C) beats np.unique's sort on strings
                codes, uniques = pd.factorize(pid_s)
                for code, pid in enumerate(uniques):
                    layer = by_id.get(pid)
                    if layer is None:
                        continue  # native-layer row; decided by the CASE chain
                    idx = np.flatnonzero((codes == code) & todo)
                    if len(idx):
                        keep[idx] = layer.contains_points(
                            lat_s.to_numpy(dtype=np.float64)[idx],
                            lng_s.to_numpy(dtype=np.float64)[idx],
                        )
            # SQL OR semantics: an unknown ``decided`` stays unknown unless
            # the parity test keeps the row
            unknown = decided_s.isna().to_numpy() & ~keep
            return pd.Series(pd.arrays.BooleanArray(keep, unknown) if unknown.any() else keep)

        cond = parity_contains(F.col("polygon_id"), F.col(lat_col), F.col(lng_col), cond)

    return cond


def refine_candidates(
    candidates: DataFrame,
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """Exact membership filter on non-interior candidates (boundary cells):
    ``membership_expr`` seeded with the interior-covering-cell flag.

    Measured dead end (round 3, do not re-try without new evidence): fusing
    a per-POINT kernel-membership bitmask into the pre-join encode
    projection (eliminating this hop entirely; candidates then refine in
    pure codegen) LOST an interleaved A/B at the 8M-row bench — min 4.32 s
    vs 3.71 s, median 5.09 vs 4.02.  The bitmask UDF widens the hot encode
    hop's Arrow input from 8 B (phash) to 24 B (+lat,lng) on every fact
    row, while this hop only carries the candidate subset (~0.6x rows
    here); per-candidate refine wins whenever match-rate x refine-cols <
    encode-widening x fact-rows."""
    return candidates.filter(
        membership_expr(layers, lat_col, lng_col, seed=F.col("is_interior"))
    )


def pip_semi_join(
    points: DataFrame,
    layers: list[Layer],
    negate: bool = False,
    id_col: str = "point_id",
    **pip_kwargs,
) -> DataFrame:
    """Points contained in ANY layer (semi) or in NO layer (anti) — the
    §2.7 semi/anti-join category ("images inside any polygon" / "outside
    all polygons", the most common downstream filter on a spatial join).

    The match set is the covering join's id column only (no payload through
    the shuffle); the final LEFT SEMI / LEFT ANTI is an equi-join on the
    point id, which Catalyst executes broadcast-side when the match set is
    small and shuffled-hash otherwise."""
    matches = pip_join(points, layers, **pip_kwargs).select(id_col)
    return points.join(matches, id_col, "left_anti" if negate else "left_semi")


# With an UNKNOWN fact-row count, tiny coverings keep the zero-Python BNLJ
# and anything bigger assumes web-scale rows (design-for-100TB default).
RANGE_BREAKEVEN_CELLS = 48
# With a KNOWN fact-row count the model keys on total BNLJ work
# (rows x covering cells, every compare inside WholeStageCodegen): below the
# budget the bounded sweep beats paying the interval-stab strategy's
# per-row Arrow hop + fixed costs (segment-table build, Python worker ramp).
# Calibrated on local[32], interleaved best-of-N e2e (encode+join+manifest):
#   8M rows x   56 cells = 4.5e8 -> range 3.4s vs stab 4.2s  (range)
#   8M rows x  305 cells = 2.4e9 -> range 4.0s vs stab 7.2s  (range)
#   8M rows x 1412 cells = 1.1e10 -> range 5.9s vs stab 4.7s (stab)
# 128M rows x   56 cells = 7.2e9 -> range 10.5s vs stab 9.2s (stab)
# One budget separates all four cleanly.
RANGE_WORK_BUDGET = 4_000_000_000
# Above this the covering should not be broadcast at all (the segment table
# grows with covering size and overlap); the prefix-partitioned interval
# join is the strategy that scales to huge layer dimensions.
STAB_MAX_CELLS = 65536


def choose_strategy(covering: list[tuple], n_rows: int | None = None) -> str:
    """Adaptive plan choice — the engine analog of S2EdgeIndex's lazy-build
    cost model (S2EdgeIndex.java:156-211: brute force until >100 edges and
    >30 queries make the index pay for itself).  Like the reference's
    predictAdditionalCalls (S2EdgeIndex.java:204-211) it keys on BOTH
    sides: the covering size and, when the caller supplies it, the
    fact-side row count ``n_rows`` (exact or estimated).

    Per-fact-row cost of the broadcast range join is ~|covering| interval
    compares (BNLJ probe, zero Python, no fan-out rows) — so its TOTAL work
    is rows x cells, and it wins while that product stays under
    RANGE_WORK_BUDGET (see calibration above).  The interval-stab strategy
    is O(log |covering|) per row but pays one Arrow hop per row plus fixed
    costs, so it pays off exactly when fan-out bandwidth dominates worker
    ramp — large row counts or large coverings.  With no row hint, coverings
    over RANGE_BREAKEVEN_CELLS assume web-scale rows and take stab.
    Non-broadcastable coverings (huge layer dimensions) must use the
    prefix-partitioned interval join — forced by the caller via
    broadcast_cells=False, or chosen here when the covering outgrows what a
    broadcast segment table should hold."""
    n_cells = len(covering)
    if n_cells > STAB_MAX_CELLS:
        return "prefix"
    if n_rows is not None:
        return "range" if n_rows * n_cells <= RANGE_WORK_BUDGET else "stab"
    return "range" if n_cells <= RANGE_BREAKEVEN_CELLS else "stab"


def pip_join(
    points: DataFrame,
    layers: list[Layer],
    lat_col: str = "lat",
    lng_col: str = "lng",
    cell_col: str = "cell_id",
    broadcast_cells: bool = True,
    n_rows: int | None = None,
    covering_frame: DataFrame | None = None,
) -> DataFrame:
    """points x layers -> rows of points matched with ``polygon_id``.

    The layers are covered with JOIN_COVERING (covering.py), and the engine
    picks the arm from its inputs (the I2 cost model, choose_strategy):
    coverings up to the measured breakeven take the zero-Python broadcast
    range join, larger broadcastable ones the vectorized interval-stab
    lookup, and a covering too big to broadcast the prefix-partitioned
    interval join.  ``n_rows`` is an optional fact-side row-count hint
    (exact or estimated) that lets the model keep small fact tables on the
    range path above the cell breakeven.  ``broadcast_cells=False`` says the
    layer side must not be broadcast, and takes the prefix arm.

    ``covering_frame``: an already-built covering DataFrame in
    COVERING_SCHEMA shape (typically ``covering_df_distributed(...,
    **JOIN_COVERING)`` over a huge layer dimension) — routes to the fully
    distributed prefix arm (prefix_candidates_df): covering replication and
    probe pruning stay DataFrame-native, nothing flows through driver
    Python, and the prune rung is escalated from the covering's
    distinct-prefix count.  ``layers`` still supplies the exact refine
    predicates."""
    if covering_frame is not None:
        pts = with_cell_id(points, lat_col, lng_col, cell_col)
        cand = prefix_candidates_df(pts, covering_frame, cell_col)
        return refine_candidates(cand, layers, lat_col, lng_col).drop("is_interior")
    rows = covering_rows(layers, **JOIN_COVERING)
    strategy = choose_strategy(rows, n_rows) if broadcast_cells else "prefix"
    if strategy == "prefix":
        pts = with_cell_id(points, lat_col, lng_col, cell_col)
        cand = prefix_candidates(pts, rows, cell_col)
    elif strategy == "stab":
        cand = stab_candidates(points, rows, lat_col, lng_col, cell_col)
    else:
        pts = with_cell_id(points, lat_col, lng_col, cell_col)
        cells_df = local_frame(points.sparkSession, rows, COVERING_SCHEMA)
        cand = assign_candidates(pts, cells_df, cell_col)
    refined = refine_candidates(cand, layers, lat_col, lng_col)
    return refined.drop("is_interior")
