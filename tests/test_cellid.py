"""Port of the reference's S2CellIdTest golden + mass tests to the NumPy kernel.

Reference: /root/reference/tests/com/google/common/geometry/S2CellIdTest.java
Styles ported (SURVEY.md §5): hard goldens, seeded mass round-trips, exhaustive
small-universe enumeration, cross-validation of two neighbor implementations.
"""

from __future__ import annotations

import numpy as np
import pytest

from s2_geometry_library_java_spark.kernel import cellid as c
from s2_geometry_library_java_spark.kernel import metrics

RNG = np.random.default_rng(123456)


def random_cell_ids(n: int, level: int | None = None) -> np.ndarray:
    """Seeded random cell ids like GeometryTestCase.getRandomCellId (:71-79)."""
    faces = RNG.integers(0, 6, size=n)
    pos = RNG.integers(0, 1 << 60, size=n, dtype=np.uint64)
    levels = RNG.integers(0, c.MAX_LEVEL + 1, size=n) if level is None else np.full(n, level)
    return c.from_face_pos_level(faces, pos, levels)


def test_basic_accessors():
    # S2CellIdTest.testBasic (:39-88)
    ids = c.from_face_pos_level(3, 0x12345678, c.MAX_LEVEL - 4)
    assert c.is_valid(ids).all()
    assert c.face(ids)[0] == 3
    assert c.level(ids)[0] == c.MAX_LEVEL - 4
    assert not c.is_leaf(ids).any()

    lvl = int(c.level(ids)[0])
    assert c.pos(c.child_begin(ids, lvl + 2))[0] == 0x12345610
    assert c.pos(c.child_begin(ids))[0] == 0x12345640
    assert c.pos(c.immediate_parent(ids))[0] == 0x12345400
    assert c.pos(c.parent(ids, lvl - 2))[0] == 0x12345000

    # Ordering of children relative to parents (unsigned domain).
    assert c.child_begin(ids)[0] < ids[0]
    assert c.child_end(ids)[0] > ids[0]
    nxt = c.next_id(c.next_id(c.next_id(c.next_id(c.child_begin(ids)))))
    assert nxt[0] == c.child_end(ids)[0]
    assert c.child_begin(ids, c.MAX_LEVEL)[0] == c.range_min(ids)[0]
    assert c.child_end(ids, c.MAX_LEVEL)[0] == c.next_id(c.range_max(ids))[0]

    # Hilbert-curve wrap (:76-84).
    assert c.prev_wrap(np.array([c.begin(0)]))[0] == c.prev_id(np.array([c.end(0)]))[0]
    assert (
        c.prev_wrap(np.array([c.begin(c.MAX_LEVEL)]))[0]
        == c.from_face_pos_level(5, (1 << 61) - 1, c.MAX_LEVEL)[0]
    )
    assert c.next_wrap(c.prev_id(np.array([c.end(4)])))[0] == c.begin(4)
    assert (
        c.next_wrap(c.prev_id(np.array([c.end(c.MAX_LEVEL)])))[0]
        == c.from_face_pos_level(0, 0, c.MAX_LEVEL)[0]
    )

    # Cells are represented by the center of their leaf range (:87).
    assert c.range_min(ids)[0] + c.range_max(ids)[0] == 2 * ids[0]


def test_face_definitions():
    # S2CellIdTest.testBasic (:54-59)
    lats = np.array([0.0, 0.0, 90.0, 0.0, 0.0, -90.0])
    lngs = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
    faces = c.face(c.from_latlng_degrees(lats, lngs))
    assert list(faces) == [0, 1, 2, 3, 4, 5]


def test_inverses_mass():
    # S2CellIdTest.testInverses (:89-98): 200k random leaf round-trips.
    ids = random_cell_ids(200_000, c.MAX_LEVEL)
    assert c.is_leaf(ids).all()
    lat, lng = c.to_latlng_radians(ids)
    back = c.from_latlng_radians(lat, lng)
    assert (back == ids).all()


def test_point_roundtrip_mass():
    # fromPoint(toPointRaw(id)) == id for leaf cells.
    ids = random_cell_ids(100_000, c.MAX_LEVEL)
    assert (c.from_xyz(c.to_point_raw(ids)) == ids).all()


def test_chunked_entry_points_match_one_block():
    # Past 2 * _CHUNK rows each entry point runs its block kernel one chunk
    # at a time (here two full chunks and a 7-row tail); the chunk seams
    # must not change a bit of the output.
    n = 2 * c._CHUNK + 7
    ids = random_cell_ids(n)
    xyz = RNG.normal(size=(n, 3))
    lat = RNG.uniform(-np.pi / 2, np.pi / 2, size=n)
    lng = RNG.uniform(-np.pi, np.pi, size=n)
    cases = [
        (c.to_point_raw(ids), c._to_point_raw_block(ids)),
        (c.to_point(ids), c._to_point_block(ids)),
        (c.from_xyz(xyz), c._from_xyz_block(xyz)),
        (c.from_latlng_radians(lat, lng), c._from_latlng_radians_block(lat, lng)),
    ]
    for got, want in cases:
        assert got.dtype == want.dtype and got.shape == want.shape
        assert got.tobytes() == want.tobytes()


def test_tokens_goldens():
    # S2CellIdTest.testToToken (:101-104)
    assert c.to_token(np.array([266], dtype=np.uint64))[0] == "000000000000010a"
    id2 = np.array([np.int64(-9185834709882503168)]).astype(np.uint64)
    assert c.to_token(id2)[0] == "80855c"
    assert c.to_token(np.array([0], dtype=np.uint64))[0] == "X"
    assert c.from_token(["X"])[0] == 0


def test_tokens_roundtrip_mass():
    # S2CellIdTest.testTokens (:106-122)
    ids = random_cell_ids(10_000)
    toks = c.to_token(ids)
    assert max(len(t) for t in toks) <= 16
    assert (c.from_token(list(toks)) == ids).all()


def _expand_universe(max_level: int = 3):
    """All cells of levels 0..max_level on all faces + child->parent map.

    Mirrors S2CellIdTest.expandCell/testContainment (:124-178), including the
    orientation consistency assertions.
    """
    cells = []
    parent_of = {}
    frontier = [int(c.from_face_pos_level(f, 0, 0)[0]) for f in range(6)]
    cells.extend(frontier)
    for _ in range(max_level):
        nxt = []
        arr = np.array(frontier, dtype=np.uint64)
        pf, pi, pj, porient = c.to_face_ij_orientation(arr, want_orientation=True)
        assert (pf == c.face(arr)).all()
        ch = c.child_begin(arr)
        for posn in range(4):
            ch_list = ch.copy()
            cf, ci, cj, corient = c.to_face_ij_orientation(ch_list, want_orientation=True)
            assert (cf == pf).all()
            assert (corient == (porient ^ c.POS_TO_ORIENTATION[posn])).all()
            assert (c.level(ch_list) == c.level(arr) + 1).all()
            for p_, c_ in zip(arr, ch_list):
                parent_of[int(c_)] = int(p_)
                nxt.append(int(c_))
                cells.append(int(c_))
            ch = c.next_id(ch)
        frontier = nxt
    return cells, parent_of


def test_containment_exhaustive():
    cells, parent_of = _expand_universe(3)
    n = len(cells)
    assert n == 6 * (1 + 4 + 16 + 64)
    arr = np.array(cells, dtype=np.uint64)
    # Oracle: walk child->parent chain.
    idx = {v: k for k, v in enumerate(cells)}
    oracle = np.zeros((n, n), dtype=bool)
    for jj, cj in enumerate(cells):
        node = cj
        while True:
            oracle[idx[node], jj] = True
            if node not in parent_of:
                break
            node = parent_of[node]
    got = c.contains(arr[:, None], arr[None, :])
    assert (got == oracle).all()
    inter = c.intersects(arr[:, None], arr[None, :])
    assert (inter == (oracle | oracle.T)).all()


def test_continuity_walk():
    # S2CellIdTest.testContinuity (:182-204) at MAX_WALK_LEVEL=8.
    walk_level = 8
    max_dist = metrics.MAX_EDGE.get_value(walk_level)
    start = np.uint64(c.begin(walk_level))
    n_cells = 6 * 4**walk_level
    step = np.uint64(2) * c.lowest_on_bit(np.array([start]))[0]
    ids = start + np.arange(n_cells, dtype=np.uint64) * step
    pts = c.to_point_raw(ids)
    nxt = c.to_point_raw(c.next_wrap(ids))
    # angle(p, q) = atan2(|p x q|, p . q)
    cross = np.cross(pts, nxt)
    ang = np.arctan2(np.sqrt((cross * cross).sum(axis=1)), (pts * nxt).sum(axis=1))
    assert (ang <= max_dist).all()
    # Centers are at multiples of 1/2^k in (s,t) space.
    f = c.xyz_to_face(pts)
    u, v = c.valid_face_xyz_to_uv(f, pts)
    su = c.uv_to_st(u)
    sv = c.uv_to_st(v)
    grid = 1.0 / (1 << walk_level)
    assert np.abs(np.remainder(su + 0.5 * grid, grid) - 0.5 * grid).max() < 1e-9
    assert np.abs(np.remainder(sv + 0.5 * grid, grid) - 0.5 * grid).max() < 1e-9


def test_coverage_bound():
    # S2CellIdTest.testCoverage (:206-223): leaf round-trip within half max diag.
    max_dist = 0.5 * metrics.MAX_DIAG.get_value(c.MAX_LEVEL)
    xyz = RNG.normal(size=(200_000, 3))
    xyz /= np.sqrt((xyz * xyz).sum(axis=1))[:, None]
    q = c.to_point_raw(c.from_xyz(xyz))
    cross = np.cross(xyz, q)
    ang = np.arctan2(np.sqrt((cross * cross).sum(axis=1)), (xyz * q).sum(axis=1))
    assert (ang <= max_dist).all()


def test_edge_neighbors_of_face1():
    # S2CellIdTest.testNeighbors (:252-258): face 1's neighbors are faces 5,3,2,0.
    nbrs = c.get_edge_neighbors(c.from_face_pos_level(1, 0, 0))[0]
    assert c.is_face(nbrs).all()
    assert list(c.face(nbrs)) == [5, 3, 2, 0]


def test_vertex_neighbors_golden():
    # Center of face 2 at level 5 (:260-267).
    ids = c.from_xyz(np.array([[0.0, 0.0, 1.0]]))
    rows, nbrs = c.get_vertex_neighbors(ids, 5)
    nbrs = np.sort(nbrs)
    expect = []
    for i in range(4):
        ii = (1 << 29) - (1 if i < 2 else 0)
        jj = (1 << 29) - (1 if (i == 0 or i == 3) else 0)
        expect.append(c.parent(c.from_face_ij(np.array([2]), np.array([ii]), np.array([jj])), 5)[0])
    assert list(nbrs) == sorted(expect)

    # Corner of faces 0,4,5 (:270-277): only 3 neighbors.
    ids = c.from_face_pos_level(0, 0, c.MAX_LEVEL)
    rows, nbrs = c.get_vertex_neighbors(ids, 0)
    nbrs = np.unique(nbrs)
    assert len(nbrs) == 3
    expect = sorted(int(c.from_face_pos_level(f, 0, 0)[0]) for f in (0, 4, 5))
    assert [int(x) for x in nbrs] == expect


def test_all_neighbors_vs_vertex_neighbors():
    # S2CellIdTest.testNeighbors random consistency loop (:279-292).
    for trial in range(60):
        ids = random_cell_ids(1)
        if c.is_leaf(ids)[0]:
            ids = c.immediate_parent(ids)
        lvl = int(c.level(ids)[0])
        max_diff = min(6, c.MAX_LEVEL - lvl - 1)
        nbr_level = lvl + int(RNG.integers(0, max(max_diff, 1)))

        _, all_nbrs = c.get_all_neighbors(ids, nbr_level)
        all_set = set(int(x) for x in all_nbrs)
        # plus all children of id at nbr_level+1, mapped to their parents
        ch = c.child_begin(ids, nbr_level + 1)
        endv = c.child_end(ids, nbr_level + 1)[0]
        children = []
        while ch[0] != endv:
            children.append(ch[0])
            ch = c.next_id(ch)
        children = np.array(children, dtype=np.uint64)
        all_set |= set(int(x) for x in c.immediate_parent(children))
        _, vn = c.get_vertex_neighbors(children, nbr_level)
        expected_set = set(int(x) for x in vn)
        assert all_set == expected_set, f"trial {trial}"


def test_parent_range_sql_equivalence():
    # The bit formulas used relationally must equal the kernel output.
    ids = random_cell_ids(50_000)
    lsb = c.lowest_on_bit(ids)
    assert (c.range_min(ids) == ids - (lsb - np.uint64(1))).all()
    assert (c.range_max(ids) == ids + (lsb - np.uint64(1))).all()
    lvl = c.level(ids)
    ok = lvl >= 5
    p5 = c.parent(ids[ok], 5)
    assert (c.level(p5) == 5).all()
    assert c.contains(p5, ids[ok]).all()


def test_signed_bias_order_preserving():
    # SQL unsigned-compare strategy: (id + Long.MIN_VALUE) signed order == unsigned order.
    ids = random_cell_ids(10_000)
    biased = (ids + np.uint64(1 << 63)).view(np.int64)
    order_u = np.argsort(ids, kind="stable")
    order_b = np.argsort(biased, kind="stable")
    assert (order_u == order_b).all()


def test_metrics_min_max_level():
    # S2.Metric invariants (S2.java:184-218 asserts).
    for m in (metrics.MIN_WIDTH, metrics.MAX_DIAG, metrics.AVG_EDGE, metrics.MIN_AREA):
        for value in (1e-9, 1e-6, 1e-3, 0.1, 0.5, 1.0):
            lv = m.get_min_level(value)
            assert lv == c.MAX_LEVEL or m.get_value(lv) <= value
            assert lv == 0 or m.get_value(lv - 1) > value
            lv = m.get_max_level(value)
            assert lv == 0 or m.get_value(lv) >= value
            assert lv == c.MAX_LEVEL or m.get_value(lv + 1) < value
