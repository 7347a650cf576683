"""M3: covering assign-join + refinement vs brute-force containment oracle.

Test style 3 from SURVEY.md §5 (cross-validation of two implementations):
the distributed covering join must produce exactly the rows the per-layer
vectorized contains() predicate produces.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.covering import covering_df, covering_rows
from s2_geometry_library_java_spark.operators.layers import cap_layer, loop_layer, polygon_layer, rect_layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
from s2_geometry_library_java_spark.sources.tables import geotagged_points


def make_layers():
    return [
        rect_layer("r_europe", 35.0, -10.0, 60.0, 30.0),
        rect_layer("r_wrap", -20.0, 160.0, 20.0, -160.0),  # wraps the antimeridian
        cap_layer("c_nyc", 40.7, -74.0, 15.0),
        cap_layer("c_spole", -90.0, 0.0, 20.0),  # polar cap
        loop_layer("l_tri", "0:0, 0:40, 35:20"),
        polygon_layer("p_hole", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
    ]


def oracle_matches(pdf, layers):
    lat = pdf["lat"].to_numpy()
    lng = pdf["lng"].to_numpy()
    out = set()
    for layer in layers:
        mask = layer.contains_points(lat, lng)
        for pid in pdf["point_id"].to_numpy()[mask]:
            out.add((int(pid), layer.polygon_id))
    return out


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return geotagged_points(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def points_pdf(points):
    return points.toPandas()


@pytest.mark.parametrize(
    "kwargs",
    [
        # n_rows hints: the cost model's range and stab sides for this covering
        pytest.param({"n_rows": 8_000_000}, id="range"),
        pytest.param({"n_rows": 10**12}, id="stab"),
        pytest.param({"broadcast_cells": False}, id="prefix"),
    ],
)
def test_pip_join_matches_bruteforce(points, points_pdf, kwargs):
    layers = make_layers()
    result = pip_join(points, layers, **kwargs)
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_unknown_strategy_rejected(points):
    # the engine picks every arm itself: a caller that still names an arm,
    # a salt or a prune rung gets an error instead of some other arm
    for kwargs in ({"strategy": "range"}, {"salt": 4}, {"prune": "bloom"}):
        with pytest.raises(TypeError, match=next(iter(kwargs))):
            pip_join(points, make_layers(), **kwargs)


@pytest.mark.parametrize("prefix_level", [0, 2, 4, 6])
def test_prefix_cover_rows_exact_replication(points, points_pdf, prefix_level):
    """prefix_candidates must give the identical match set at every anchor
    level, including A coarser than some covering cells (single-prefix arm)
    and finer than all (replication arm)."""
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.operators.pip_join import (
        prefix_candidates,
        refine_candidates,
        with_cell_id,
    )

    layers = make_layers()
    rows = covering_rows(layers, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates(pts, rows, prefix_level=prefix_level)
    result = refine_candidates(cand, layers)
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_no_duplicate_matches(points):
    layers = make_layers()
    result = pip_join(points, layers)
    dups = result.groupBy("point_id", "polygon_id").count().filter(F.col("count") > 1).count()
    assert dups == 0


def test_stab_structure_matches_direct_range_membership():
    """Pure-NumPy cross-check: for random covering intervals (random cells at
    random levels, including face-5 cells whose range_max is the global max
    leaf), the segment table must give exactly the covering rows whose
    [range_min, range_max] contain each probe id — the S2CellUnion.contains
    semantics the stab join implements."""
    from s2_geometry_library_java_spark.kernel import cellid as ck
    from s2_geometry_library_java_spark.operators.pip_join import _stab_structure, _U64_BIAS

    rng = np.random.default_rng(7)
    lat = rng.uniform(-89, 89, 200)
    lng = rng.uniform(-179, 179, 200)
    leaves = ck.from_latlng_degrees(lat, lng)
    levels = rng.integers(2, 12, 200)
    cells = ck.parent(leaves, levels)
    # force one cell that ends at the global max leaf (face 5, level 0)
    cells[0] = np.uint64(5 << 61) | np.uint64(1 << 60)
    rmin = ck.range_min(cells).view(np.int64)
    rmax = ck.range_max(cells).view(np.int64)
    rows = [
        (f"p{k}", int(cells.view(np.int64)[k]), int(levels[k] if k else 0),
         int(rmin[k]), int(rmax[k]), bool(k % 2))
        for k in range(len(cells))
    ]
    bounds, seg_rows = _stab_structure(rows)
    by_seg: dict[int, set] = {}
    for s, pid, interior in seg_rows:
        by_seg.setdefault(s, set()).add((pid, interior))
    probes = ck.from_latlng_degrees(rng.uniform(-90, 90, 3000), rng.uniform(-180, 180, 3000))
    pb = probes ^ _U64_BIAS
    segs = np.searchsorted(bounds, pb, side="right") - 1
    lo = rmin.view(np.uint64) ^ _U64_BIAS
    hi = rmax.view(np.uint64) ^ _U64_BIAS
    for p, s in zip(pb, segs):
        expect = {
            (rows[k][0], rows[k][5]) for k in range(len(rows)) if lo[k] <= p <= hi[k]
        }
        assert by_seg.get(int(s), set()) == expect


def test_covering_df_shape_and_interior(spark):
    layers = [cap_layer("c", 10.0, 20.0, 10.0)]
    rows = covering_rows(layers, max_cells=16)
    assert 0 < len(rows) <= 16 * 4  # denormalized bound
    # interior cells must be contained: every point of an interior cell is in the cap
    df = covering_df(spark, layers, max_cells=16)
    assert df.columns == ["polygon_id", "cell_id", "level", "range_min", "range_max", "is_interior"]
    assert df.count() == len(rows)
    # determinism (O11): same covering on re-run
    assert covering_rows(layers, max_cells=16) == rows


def test_encode_stage_is_stable(points):
    df = with_cell_id(points)
    a = {(r["point_id"], r["cell_id"]) for r in df.select("point_id", "cell_id").collect()}
    b = {(r["point_id"], r["cell_id"]) for r in df.select("point_id", "cell_id").collect()}
    assert a == b


def test_native_vs_kernel_bit_ops(spark, points):
    """Native SQL bit formulas == NumPy kernel on the same ids (two-impl check)."""
    from s2_geometry_library_java_spark.functions.native import level_sql, parent_sql, range_max_sql, range_min_sql
    from s2_geometry_library_java_spark.kernel import cellid as ck

    df = with_cell_id(points).select("cell_id").limit(500)
    rows = df.withColumn("lvl", F.expr(level_sql("cell_id"))) \
        .withColumn("p5", F.expr(parent_sql("cell_id", 5))) \
        .withColumn("rmin", F.expr(range_min_sql("cell_id"))) \
        .withColumn("rmax", F.expr(range_max_sql("cell_id"))).collect()
    ids = np.array([r["cell_id"] for r in rows], dtype=np.int64).view(np.uint64)
    assert np.array_equal(np.array([r["lvl"] for r in rows]), ck.level(ids))
    assert np.array_equal(np.array([r["p5"] for r in rows], dtype=np.int64), ck.parent(ids, 5).view(np.int64))
    assert np.array_equal(np.array([r["rmin"] for r in rows], dtype=np.int64), ck.range_min(ids).view(np.int64))
    assert np.array_equal(np.array([r["rmax"] for r in rows], dtype=np.int64), ck.range_max(ids).view(np.int64))


def test_distributed_covering_matches_driver(spark):
    """applyInPandas covering generation == driver-side covering_rows."""
    from s2_geometry_library_java_spark.operators.covering import covering_df_distributed

    specs = [
        {"polygon_id": "r", "kind": "rect", "lat_lo": 10.0, "lng_lo": 10.0, "lat_hi": 30.0, "lng_hi": 40.0},
        {"polygon_id": "c", "kind": "cap", "lat_deg": -20.0, "lng_deg": 100.0, "angle_deg": 9.0},
        {"polygon_id": "l", "kind": "loop", "dsl": "0:0, 0:40, 35:20"},
        {"polygon_id": "p", "kind": "polygon", "dsl": "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"},
    ]
    got = {tuple(r) for r in covering_df_distributed(spark, specs, max_level=12).collect()}
    layers = [
        rect_layer("r", 10.0, 10.0, 30.0, 40.0),
        cap_layer("c", -20.0, 100.0, 9.0),
        loop_layer("l", "0:0, 0:40, 35:20"),
        polygon_layer("p", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
    ]
    expect = {tuple(r) for r in covering_rows(layers, max_level=12)}
    assert got == expect


def test_choose_prefix_level_scales_with_partitions():
    """The anchor level tracks reducer-key cardinality: ~8 keys per shuffle
    partition, floored at the A/B-measured local[32] setting (4), capped so
    coarse-cell replication stays driver-side cheap."""
    from s2_geometry_library_java_spark.operators.pip_join import choose_prefix_level

    assert choose_prefix_level(32) == 4          # local bench: floor wins
    assert choose_prefix_level(150) == 4         # small cluster: floor still
    assert choose_prefix_level(2000) == 6        # 1000-exec cluster: 6*4^6=24k >= 16k
    assert choose_prefix_level(8000) == 7
    assert choose_prefix_level(10**9) == 10      # capped


def test_prefix_in_filter_semi_join_branch(points, points_pdf, monkeypatch):
    """When the covering has more distinct prefixes than PREFIX_IN_FILTER_MAX
    the probe prune switches from the IN-set literal to a broadcast LEFT SEMI
    join on the distinct prefixes — still pruning before the shuffle, still
    exact, with no literal list in the plan."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 1)
    layers = make_layers()
    result = pj.pip_join(points, layers, broadcast_cells=False)
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the middle-rung prune is in the executed plan
    assert " IN (" not in plan  # and the literal IN-set is gone
    got = {(int(r["point_id"]), r["polygon_id"]) for r in result.select("point_id", "polygon_id").collect()}
    assert got == oracle_matches(points_pdf, layers)


def test_prefix_level_range_validated(points):
    """Explicit anchor levels outside 0..PREFIX_LEVEL_CAP must fail with a
    clear error, not a cryptic negative-shift deep in the bit math or a
    replication of a coarse covering cell to millions of prefixes."""
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.operators.pip_join import (
        prefix_candidates,
        prefix_candidates_df,
        prefix_cover_frame,
        with_cell_id,
    )

    layers = make_layers()
    rows = covering_rows(layers, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    spark = points.sparkSession
    from s2_geometry_library_java_spark.operators.covering import covering_df

    cover = covering_df(spark, layers, max_cells=8, max_level=12)
    for bad in (-1, 11, 31, 99):
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_candidates(pts, rows, prefix_level=bad)
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_candidates_df(pts, cover, prefix_level=bad)
        with pytest.raises(ValueError, match="prefix_level"):
            prefix_cover_frame(cover, bad)


def test_membership_keeps_sql_or_semantics(spark):
    # parity_contains returns ``decided OR parity`` itself: a row whose
    # native decision is unknown (null lat) stays null unless parity keeps
    # it, a decided row stays true, and a parity hit is true.
    from s2_geometry_library_java_spark.operators.pip_join import membership_expr

    layers = make_layers()
    df = spark.createDataFrame(
        [
            (0, "l_tri", 10.0, 20.0),  # inside the triangle
            (1, "l_tri", -30.0, 20.0),  # outside
            (2, "r_europe", 50.0, 0.0),  # native true
            (3, "r_europe", None, 0.0),  # native unknown, parity skips it
            (4, "l_tri", None, 20.0),  # parity on a null point
        ],
        "rid int, polygon_id string, lat double, lng double",
    )
    got = {
        r["rid"]: r["inside"]
        for r in df.select("rid", membership_expr(layers).alias("inside")).collect()
    }
    assert got[0] is True and got[1] is False and got[2] is True
    assert got[3] is None
    # a null point reaches the kernel as NaN; its verdict passes through
    tri = next(l for l in layers if l.polygon_id == "l_tri")
    assert got[4] is bool(tri.contains_points(np.array([np.nan]), np.array([20.0]))[0])
