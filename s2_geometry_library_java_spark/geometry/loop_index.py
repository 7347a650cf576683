"""I5: lazy cell-keyed edge index for large-loop containment.

The reference's ``S2Loop.contains(S2Point)`` walks EVERY edge below
``MAX_BRUTE_FORCE_VERTICES`` and switches to an ``S2EdgeIndex`` above it
(S2Loop.java:681-702): candidate edges come from the index cells crossed by
the query segment origin->p, so a 100k-vertex coastline costs per-query work
proportional to the few edges near the segment, not all edges.

This module is the batch NumPy image of that cutover.  The build side reuses
``edge_coverings`` (the vectorized S2EdgeIndex.getCovering, gate-validated by
the edge_crossings query): every loop edge gets thickened covering cells.
Queries are the segments origin->p for a whole point batch, covered un-
thickened; candidate (point, edge) pairs are exactly the ancestor/descendant
cell relations (two cells sharing a point are nested), found with two sorted
searches — a descendant range lookup plus one equality probe per build
level.  Crossing parity then runs only on candidate pairs via the same
robust_crossing / vertex_crossing predicates as the dense kernel, so results
are bit-identical to ``loop_crossing_parity``.
"""

from __future__ import annotations

import numpy as np

from s2_geometry_library_java_spark.kernel import cellid as ck
from s2_geometry_library_java_spark.kernel import predicates as pr

# S2Loop.java: brute force below, index above.  Module-level so tests can
# lower it to exercise the sparse path on small fixtures.
MAX_BRUTE_FORCE_VERTICES = 2000


class LoopEdgeIndex:
    """Sorted (cell -> edge) arrays for one loop's thickened edge coverings."""

    def __init__(self, vertices: np.ndarray):
        v = np.asarray(vertices, dtype=np.float64)
        from s2_geometry_library_java_spark.kernel.pruners import XYZPruner
        from s2_geometry_library_java_spark.operators.edge_join import edge_coverings

        rows, cells = edge_coverings(v, np.roll(v, -1, axis=0), thicken=True)
        order = np.argsort(cells, kind="stable")
        self.cells = cells[order]  # uint64, ascending (unsigned)
        self.edges = rows[order].astype(np.int64)
        self.levels = np.unique(ck.level(self.cells))
        # P18 XYZPruner over ALL loop edges: query chain pieces entirely
        # outside this (deformation-expanded) xyz box cannot touch any edge.
        self.pruner = XYZPruner()
        self.pruner.add_edges_to_bounds(v, np.roll(v, -1, axis=0))
        self.pruner.finalize_bounds()
        # Query pieces sized to the loop's own edge scale: ~24 edges per
        # query cell keeps candidate yield flat as vertex count grows
        # (measured on 5k and 50k fixtures: candidate fraction 13% resp.
        # 1.8% of the dense n*m sweep; a FIXED length degrades 10x on dense
        # coastlines because query cells outgrow edge cells).
        med = float(np.median(pr.angle(v, np.roll(v, -1, axis=0))))
        self.seg_len = min(QUERY_SEG_LEN_MAX, max(1e-4, 24.0 * med))

    def candidates(self, qrows: np.ndarray, qcells: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(point_idx, edge_idx) pairs for query covering cells ``qcells``
        belonging to points ``qrows`` — build cells that are descendants OR
        ancestors-or-equal of a query cell."""
        pts_out = []
        edg_out = []
        # descendants-or-equal: build cells inside [range_min, range_max]
        lo = np.searchsorted(self.cells, ck.range_min(qcells), side="left")
        hi = np.searchsorted(self.cells, ck.range_max(qcells), side="right")
        n_desc = hi - lo
        if n_desc.sum():
            sel = np.flatnonzero(n_desc)
            idx = np.concatenate([np.arange(lo[i], hi[i]) for i in sel])
            pts_out.append(np.repeat(qrows[sel], n_desc[sel]))
            edg_out.append(self.edges[idx])
        # strict ancestors: the query cell's parent at each build level
        qlvl = ck.level(qcells)
        for lv in self.levels:
            deeper = qlvl > lv
            if not deeper.any():
                continue
            anc = ck.parent(qcells[deeper], int(lv))
            lo = np.searchsorted(self.cells, anc, side="left")
            hi = np.searchsorted(self.cells, anc, side="right")
            n_eq = hi - lo
            if n_eq.sum():
                sel = np.flatnonzero(n_eq)
                idx = np.concatenate([np.arange(lo[i], hi[i]) for i in sel])
                pts_out.append(np.repeat(qrows[deeper][sel], n_eq[sel]))
                edg_out.append(self.edges[idx])
        if not pts_out:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        pi = np.concatenate(pts_out)
        ei = np.concatenate(edg_out)
        # dedupe (a pair can surface via several covering cells)
        key = pi * np.int64(len(self.edges) + 1) + ei  # edges fit in int64 here
        _, first = np.unique(key, return_index=True)
        return pi[first], ei[first]


# Cap on query-chain piece length.  The origin->p segment is LONG (up to
# pi), so covering it at its own matched level yields face-scale cells that
# admit every edge as a candidate.  Splitting it into short pieces is the
# batch analog of the reference's getEdgesInChildrenCells descent
# (S2EdgeIndex.java:491-532): each short piece gets a tight covering, and
# only the pieces that pass near the loop contribute candidates.  Crossing
# PARITY sums correctly over a chain — vertexCrossing's rules are defined
# precisely so a chain a0a1, a1a2, ... counts each crossing with cd exactly
# once (S2EdgeUtil.java:596-639) — and the chain shares bit-identical
# boundary points by construction.  The actual piece length adapts to the
# loop's edge scale (LoopEdgeIndex.seg_len).
QUERY_SEG_LEN_MAX = 0.02


def _subdivide(p: np.ndarray, seg_len: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Slerp each origin->p segment into ceil(angle/seg_len) pieces.

    Returns (point_idx, a_sub, b_sub) with consecutive pieces sharing the
    exact same boundary arrays."""
    n = p.shape[0]
    o = pr.ORIGIN
    ang = pr.angle(np.broadcast_to(o, p.shape), p)
    k = np.maximum(1, np.ceil(ang / seg_len).astype(np.int64))
    pt_idx = np.repeat(np.arange(n), k)
    # fraction indices j/k and (j+1)/k per piece
    j = np.concatenate([np.arange(ki) for ki in k])
    kk = k[pt_idx].astype(np.float64)
    w = ang[pt_idx]
    sin_w = np.sin(w)
    sin_w = np.where(sin_w == 0.0, 1.0, sin_w)  # degenerate p ~ origin

    def at(t):  # slerp(origin, p, t)
        s0 = np.sin((1.0 - t) * w) / sin_w
        s1 = np.sin(t * w) / sin_w
        return s0[:, None] * o[None, :] + s1[:, None] * p[pt_idx]

    t0 = j / kk
    t1 = (j + 1) / kk
    a = np.where((j == 0)[:, None], o[None, :], at(t0))
    b = np.where((j + 1 == k[pt_idx])[:, None], p[pt_idx], at(t1))
    # consecutive pieces must share boundary points EXACTLY: piece i's b and
    # piece i+1's a are the same (pt_idx, j+1) value, so recompute a from
    # the previous b where applicable.
    interior = j > 0
    a[interior] = b[np.flatnonzero(interior) - 1]
    return pt_idx, a, b


def sparse_crossing_parity(
    vertices: np.ndarray,
    points: np.ndarray,
    index: LoopEdgeIndex,
) -> np.ndarray:
    """Drop-in sparse replacement for ``pr.loop_crossing_parity``: same
    origin->p crossing parity, evaluated only on index candidates of the
    subdivided query chain."""
    v = np.asarray(vertices, dtype=np.float64)
    p = np.asarray(points, dtype=np.float64)
    n = p.shape[0]
    if n == 0 or v.shape[0] == 0:
        return np.zeros(n, dtype=bool)
    vnext = np.roll(v, -1, axis=0)
    seg_len = index.seg_len

    from s2_geometry_library_java_spark.operators.edge_join import edge_coverings

    pt_of_seg, a_sub, b_sub = _subdivide(p, seg_len)
    # XYZPruner prefilter (P18): drop chain pieces whose endpoints both sit
    # beyond a face of the loop's expanded xyz box — a piece of arc length
    # <= seg_len deviates from its endpoint box by at most the reference's
    # deformation allowance, which we add on top of the build-side margin.
    qdeform = seg_len * (0.0025 if seg_len < 0.025 else (0.11 if seg_len < 1.0 else 0.5))
    lo = index.pruner.lo[None, :] - qdeform
    hi = index.pruner.hi[None, :] + qdeform
    outside = ((a_sub < lo) & (b_sub < lo)) | ((a_sub > hi) & (b_sub > hi))
    keep = ~outside.any(axis=1)
    pt_of_seg, a_sub, b_sub = pt_of_seg[keep], a_sub[keep], b_sub[keep]
    if not len(a_sub):
        return np.zeros(n, dtype=bool)
    qrows, qcells = edge_coverings(a_sub, b_sub, thicken=False)
    si, ei = index.candidates(qrows, qcells)
    if not len(si):
        return np.zeros(n, dtype=bool)

    crossing = pr.robust_crossing(a_sub[si], b_sub[si], v[ei], vnext[ei])
    hits = crossing > 0
    zero = np.flatnonzero(crossing == 0)
    for k in zero:
        hits[k] = pr.vertex_crossing_scalar(a_sub[si[k]], b_sub[si[k]], v[ei[k]], vnext[ei[k]])
    parity = np.zeros(n, dtype=np.int64)
    np.add.at(parity, pt_of_seg[si[hits]], 1)
    return parity % 2 == 1
