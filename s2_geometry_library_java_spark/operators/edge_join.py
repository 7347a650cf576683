"""Distributed edge-crossing candidate join — the engine image of
``S2EdgeIndex.java`` (I1 in SURVEY.md §2.5).

Build side: each edge is covered by cells at a level matched to its length
(S2EdgeIndex.getCovering, S2EdgeIndex.java:305-374): the smallest containing
cell when it is tight enough, else the 3-4 vertex-neighbors of the edge
midpoint at the ideal level — with the 1% thickening of the build side
(THICKENING, :35) honored exactly.  All of it vectorized over the whole edge
set (one NumPy pass, one Arrow hop).

Probe: a candidate pair exists when one edge's covering cell is an
ancestor-or-equal of the other's — the reference's two queries
(getEdgesInParentCells :422-441 ancestors; getEdgesInChildrenCells :491-532
descendant ranges) collapse relationally into a cell-range overlap, realized
as TWO ancestor-explode equi-joins (each direction), i.e. the shuffle-
friendly O7 rewrite.  Exact robust_crossing (S2EdgeUtil.java:536-570) then
refines candidates in one vectorized pandas pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, LongType

from s2_geometry_library_java_spark.functions.native import ancestors_sql
from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import metrics
from s2_geometry_library_java_spark.kernel import predicates as pr

THICKENING = 0.01  # S2EdgeIndex.java:35
MIN_IJ_LEVEL = 0


def _containing_cell2(a_ids: np.ndarray, b_ids: np.ndarray) -> np.ndarray:
    """Smallest cell containing both leaf ids; 0 (sentinel) across faces
    (S2EdgeIndex.containingCell, S2EdgeIndex.java:277-291), vectorized via
    the xor-msb common-ancestor bit trick."""
    a_ids = np.asarray(a_ids, dtype=np.uint64)
    b_ids = np.asarray(b_ids, dtype=np.uint64)
    same_face = ck.face(a_ids) == ck.face(b_ids)
    x = a_ids ^ b_ids
    nz = x != np.uint64(0)
    # Highest set bit position of the id xor, via integer bit smearing: after
    # OR-ing in all right shifts, s == 2^(m+1)-1, so (s >> 1) + 1 == 2^m
    # exactly (no float rounding; a float64 log2 of the raw xor rounds up
    # when the top 54 bits are ones, giving a one-level-coarser ancestor than
    # S2EdgeIndex.containingCell).  2^m is an exact float64 for all m <= 63.
    s = x.copy()
    for sh in (1, 2, 4, 8, 16, 32):
        s |= s >> np.uint64(sh)
    msb = (s >> np.uint64(1)) + np.uint64(1)
    m = np.where(nz, np.log2(msb.astype(np.float64)).astype(np.int64), -1)
    # parent(l) overwrites bit 2*(30-l) with the lsb marker, so parents are
    # equal iff the ids agree strictly above it: l_max = 30 - ceil(m/2).
    # Clamp to both inputs' own levels: when an input is itself a non-leaf
    # cell (the pairwise chaining in _containing_cell4), its lsb marker must
    # not be out-leveled or the "parent" would be a bogus deeper cell.
    level = np.where(nz, 30 - ((m + 1) >> 1), 30)
    level = np.minimum(level, np.minimum(ck.level(a_ids), ck.level(b_ids)))
    out = ck.parent(a_ids, np.clip(level, 0, 30))
    return np.where(same_face & (level >= 0), out, np.uint64(0))


def _containing_cell4(ids: list[np.ndarray]) -> np.ndarray:
    out = _containing_cell2(ids[0], ids[1])
    for nxt in ids[2:]:
        valid = out != np.uint64(0)
        merged = _containing_cell2(out, nxt)
        out = np.where(valid, merged, np.uint64(0))
    return out


def edge_coverings(a_xyz: np.ndarray, b_xyz: np.ndarray, thicken: bool) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized S2EdgeIndex.getCovering: returns flat (row_idx, cell_id).

    One level per edge; best-case single containing cell, else midpoint
    vertex-neighbors at min(ideal, 29)."""
    n = a_xyz.shape[0]
    edge_len = pr.angle(a_xyz, b_xyz)
    ideal = metrics.get_max_level_vec(metrics.MIN_WIDTH, edge_len * (1.0 + 2.0 * THICKENING))

    if not thicken:
        containing = _containing_cell2(ck.from_xyz(a_xyz), ck.from_xyz(b_xyz))
    else:
        # Thicken and extend by 1% (S2EdgeIndex.java:319-341); edges with
        # ideal == MAX_LEVEL use the 'needs covering' sentinel path.
        pq = (b_xyz - a_xyz) * THICKENING
        cr = pr.robust_cross_prod(pq, a_xyz)
        ortho = pr.normalize(cr) * (edge_len * THICKENING)[:, None]
        p = a_xyz - pq
        q = b_xyz + pq
        containing = _containing_cell4(
            [ck.from_xyz(p - ortho), ck.from_xyz(p + ortho), ck.from_xyz(q - ortho), ck.from_xyz(q + ortho)]
        )
        tiny = ideal == ck.MAX_LEVEL
        if tiny.any():
            sentinel_parent = ck.parent(np.array([0xFFF0], dtype=np.uint64), 3)[0]
            containing = np.where(tiny, sentinel_parent, containing)

    containing_level = ck.level(containing)
    best = (containing != np.uint64(0)) & (containing_level >= ideal - 2)
    whole_sphere = (~best) & (ideal == 0)
    nbr_case = (~best) & (~whole_sphere)

    rows_out = [np.flatnonzero(best)]
    cells_out = [containing[best]]
    if whole_sphere.any():
        faces = np.array([ck.from_face_pos_level(f, 0, 0)[0] for f in range(6)], dtype=np.uint64)
        idx = np.flatnonzero(whole_sphere)
        rows_out.append(np.repeat(idx, 6))
        cells_out.append(np.tile(faces, idx.size))
    if nbr_case.any():
        idx = np.flatnonzero(nbr_case)
        middle = pr.normalize((a_xyz[idx] + b_xyz[idx]) * 0.5)
        mids = ck.from_xyz(middle)
        actual = np.minimum(ideal[idx], ck.MAX_LEVEL - 1)
        for lv in np.unique(actual):
            sel = actual == lv
            sub_rows, nbrs = ck.get_vertex_neighbors(mids[sel], int(lv))
            rows_out.append(idx[sel][sub_rows])
            cells_out.append(nbrs)
    rows = np.concatenate(rows_out)
    cells = np.concatenate(cells_out)
    order = np.argsort(rows, kind="stable")
    return rows[order], cells[order]


def regroup_sorted(rows: np.ndarray, vals: np.ndarray, n: int) -> list[list]:
    """Group (rows, vals) — rows sorted ascending — into n per-row lists in
    O(n + len(rows)) via boundary search (the old per-row boolean scan was
    O(n * len(rows)) per Arrow batch)."""
    bounds = np.searchsorted(rows, np.arange(n + 1))
    return [vals[bounds[i] : bounds[i + 1]].tolist() for i in range(n)]


def _edge_cover(thicken: bool):
    """The per-edge covering UDF: build side thickened, query side not
    (S2EdgeIndex.getCovering, S2EdgeIndex.java:305-374)."""

    def cover(ax: pd.Series, ay: pd.Series, az: pd.Series,
              bx: pd.Series, by: pd.Series, bz: pd.Series) -> pd.Series:
        a = np.stack([ax.to_numpy(), ay.to_numpy(), az.to_numpy()], axis=1)
        b = np.stack([bx.to_numpy(), by.to_numpy(), bz.to_numpy()], axis=1)
        rows, cells = edge_coverings(a, b, thicken=thicken)
        return pd.Series(regroup_sorted(rows, cells.view(np.int64), len(a)))

    cover.__name__ = "_edge_cover_build" if thicken else "_edge_cover_query"
    return pandas_udf(cover, ArrayType(LongType()))


_edge_cover_build = _edge_cover(thicken=True)
_edge_cover_query = _edge_cover(thicken=False)


def _explode_cover(edges: DataFrame, cover_udf, id_col: str) -> DataFrame:
    return edges.withColumn(
        "_cover",
        cover_udf(F.col("ax"), F.col("ay"), F.col("az"), F.col("bx"), F.col("by"), F.col("bz")),
    ).select(id_col, "ax", "ay", "az", "bx", "by", "bz", F.explode("_cover").alias("cell"))


def crossing_candidates(edges: DataFrame, id_col: str = "edge_id") -> DataFrame:
    """Self-join candidate crossing pairs (id_a < id_b) over an edges
    DataFrame with columns (edge_id, ax..az, bx..bz).

    Pair (i, q) is a candidate when i's build-covering cell and q's
    query-covering cell are in ancestor/descendant relation — realized as
    two ancestor-explode equi-joins over every level 0..30."""
    levels = range(ck.MAX_LEVEL + 1)
    build = _explode_cover(edges, _edge_cover_build, id_col).select(
        F.col(id_col).alias("id_b_"), F.col("cell").alias("bcell")
    )
    query = _explode_cover(edges, _edge_cover_query, id_col).select(
        F.col(id_col).alias("id_q_"), F.col("cell").alias("qcell")
    )
    # query cell equal-or-descendant of build cell: explode query ancestors
    anc_q = query.withColumn("_anc", F.explode(F.expr(ancestors_sql("qcell", levels))))
    pairs1 = anc_q.join(build, anc_q["_anc"] == build["bcell"]).select("id_b_", "id_q_")
    # build cell strict descendant of query cell
    anc_b = build.withColumn("_anc", F.explode(F.expr(ancestors_sql("bcell", levels))))
    pairs2 = anc_b.join(query, anc_b["_anc"] == query["qcell"]).select("id_b_", "id_q_")
    pairs = pairs1.unionByName(pairs2).filter(F.col("id_b_") != F.col("id_q_"))
    return pairs.select(
        F.least("id_b_", "id_q_").alias("id_a"), F.greatest("id_b_", "id_q_").alias("id_b")
    ).distinct()


def crossing_join(edges: DataFrame, id_col: str = "edge_id") -> DataFrame:
    """Candidate pairs refined by exact robustCrossing: returns
    (id_a, id_b, crossing) for pairs with crossing >= 0 (proper crossing or
    shared vertex, S2EdgeUtil.java:536-570)."""
    cand = crossing_candidates(edges, id_col)
    ea = edges.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_1") for c in ("ax", "ay", "az", "bx", "by", "bz")],
    )
    eb = edges.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_2") for c in ("ax", "ay", "az", "bx", "by", "bz")],
    )
    joined = cand.join(ea, "id_a").join(eb, "id_b")

    @pandas_udf(IntegerType())
    def _crossing(ax1, ay1, az1, bx1, by1, bz1, ax2, ay2, az2, bx2, by2, bz2):
        a = np.stack([ax1.to_numpy(), ay1.to_numpy(), az1.to_numpy()], axis=1)
        b = np.stack([bx1.to_numpy(), by1.to_numpy(), bz1.to_numpy()], axis=1)
        c = np.stack([ax2.to_numpy(), ay2.to_numpy(), az2.to_numpy()], axis=1)
        d = np.stack([bx2.to_numpy(), by2.to_numpy(), bz2.to_numpy()], axis=1)
        return pd.Series(pr.robust_crossing(a, b, c, d).astype(np.int32))

    out = joined.withColumn(
        "crossing",
        _crossing(
            F.col("ax_1"), F.col("ay_1"), F.col("az_1"), F.col("bx_1"), F.col("by_1"), F.col("bz_1"),
            F.col("ax_2"), F.col("ay_2"), F.col("az_2"), F.col("bx_2"), F.col("by_2"), F.col("bz_2"),
        ),
    )
    return out.filter(F.col("crossing") >= 0).select("id_a", "id_b", "crossing")


def edges_df(spark: SparkSession, a_xyz: np.ndarray, b_xyz: np.ndarray) -> DataFrame:
    pdf = pd.DataFrame(
        {
            "edge_id": np.arange(a_xyz.shape[0], dtype=np.int64),
            "ax": a_xyz[:, 0], "ay": a_xyz[:, 1], "az": a_xyz[:, 2],
            "bx": b_xyz[:, 0], "by": b_xyz[:, 1], "bz": b_xyz[:, 2],
        }
    )
    return spark.createDataFrame(pdf)
