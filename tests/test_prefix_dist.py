"""The fully distributed prefix join arm (round-5 task 1): covering built on
executors (covering_df_distributed), replicated to prefixes in native SQL
(prefix_cover_frame), probe-pruned via broadcast left-semi — byte-identical
match sets to the driver-list arm, with plan assertions that nothing flows
through driver Python and no literal IN-list exists at any covering size.
"""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.covering import (
    covering_df,
    covering_df_distributed,
    covering_rows,
)
from s2_geometry_library_java_spark.operators.pip_join import (
    _prefix_cover_rows,
    pip_join,
    prefix_candidates_df,
    prefix_cover_frame,
    refine_candidates,
    with_cell_id,
)
from s2_geometry_library_java_spark.sources.tables import geotagged_points

from tests.test_pip_join import make_layers, oracle_matches

LAYER_SPECS = [
    {"polygon_id": "r_europe", "kind": "rect", "lat_lo": 35.0, "lng_lo": -10.0, "lat_hi": 60.0, "lng_hi": 30.0},
    {"polygon_id": "r_wrap", "kind": "rect", "lat_lo": -20.0, "lng_lo": 160.0, "lat_hi": 20.0, "lng_hi": -160.0},
    {"polygon_id": "c_nyc", "kind": "cap", "lat_deg": 40.7, "lng_deg": -74.0, "angle_deg": 15.0},
    {"polygon_id": "c_spole", "kind": "cap", "lat_deg": -90.0, "lng_deg": 0.0, "angle_deg": 20.0},
    {"polygon_id": "l_tri", "kind": "loop", "dsl": "0:0, 0:40, 35:20"},
    {"polygon_id": "p_hole", "kind": "polygon", "dsl": "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"},
]


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return geotagged_points(spark, sf_dir).cache()


@pytest.fixture(scope="module")
def points_pdf(points):
    return points.toPandas()


@pytest.mark.parametrize("prefix_level", [0, 2, 4, 6])
def test_prefix_cover_frame_equals_driver_rows(spark, prefix_level):
    """Native sequence/explode replication == the driver-loop replication
    for every covering row shape (coarser than A, equal to A, deeper)."""
    layers = make_layers()
    rows = covering_rows(layers, max_cells=8, max_level=12)
    cover = covering_df(spark, layers, max_cells=8, max_level=12)
    got = {
        (r["_pfx"], r["polygon_id"], r["_rmin"], r["_rmax"], r["is_interior"])
        for r in prefix_cover_frame(cover, prefix_level).collect()
    }
    expect = set(_prefix_cover_rows(rows, prefix_level))
    assert got == expect


def test_prefix_df_matches_bruteforce_and_list_arm(spark, points, points_pdf):
    """pip_join(covering_frame=distributed covering) must equal both the
    brute-force oracle and the driver-list prefix arm."""
    layers = make_layers()
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    result = pip_join(points, layers, covering_frame=cover)
    got = {
        (int(r["point_id"]), r["polygon_id"])
        for r in result.select("point_id", "polygon_id").collect()
    }
    assert got == oracle_matches(points_pdf, layers)
    list_arm = pip_join(points, layers, broadcast_cells=False)
    expect = {
        (int(r["point_id"]), r["polygon_id"])
        for r in list_arm.select("point_id", "polygon_id").collect()
    }
    assert got == expect


def test_prefix_df_plan_is_fully_distributed(spark, points, monkeypatch):
    """Plan pins for the 100-TB arm (round-5 done criterion): on the semi
    rung (reached here through a lowered IN-set bound) the covering is
    built executor-side (FlatMapGroupsInPandas in the plan), probe pruning
    is a broadcast left-semi (no literal IN list anywhere), and the
    candidate join is the shuffled-hash equi-join — no driver-side
    replication exists because the plan consumes the covering scan
    directly."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 2)
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates_df(pts, cover, prefix_level=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # covering built on executors
    assert "LeftSemi" in plan  # broadcast-semi probe prune
    assert " IN (" not in plan  # no literal prefix list
    assert "ShuffledHashJoin" in plan  # the prefix equi-join arm
    # the covering never materializes on the driver: no LocalTableScan of
    # prefix rows feeds the join (the only local scan is the 6-row spec table)
    import re

    local_scans = re.findall(r"LocalTableScan \[([^\]]*)\]", plan)
    for cols in local_scans:
        assert "_ckey" not in cols and "_rmin" not in cols


def test_prefix_df_auto_prune_uses_inset_below_bound(spark, points):
    """Below PREFIX_IN_FILTER_MAX prefixes a covering pays the same codegen'd
    IN-set probe filter as the driver-list arm — no broadcast-semi per-row
    probe on the fact side (measured ~1.3 s/128M rows at local[32]) — while
    the covering REPLICATION stays executor-side (FlatMapGroupsInPandas)."""
    layers = make_layers()
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates_df(pts, cover, prefix_level=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan  # covering still built on executors
    assert "LeftSemi" not in plan  # pruned by the IN-set literal instead
    assert "ShuffledHashJoin" in plan


def test_prefix_df_auto_prune_falls_back_to_semi(spark, points, points_pdf, monkeypatch):
    """Above PREFIX_IN_FILTER_MAX distinct prefixes the auto rung must fall
    back to the broadcast semi — and the match set must not change."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 2)
    layers = make_layers()
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates_df(pts, cover, prefix_level=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    result = refine_candidates(cand, layers)
    got = {
        (int(r["point_id"]), r["polygon_id"])
        for r in result.select("point_id", "polygon_id").collect()
    }
    assert got == oracle_matches(points_pdf, layers)


def test_prefix_df_bloom_prune_matches_and_plan(spark, points, points_pdf, monkeypatch):
    """The terminal prune rung (reached here through lowered escalation
    bounds): identical match set to the exact rungs, and no IN literal, no
    LeftSemi — the bitmap probed via k broadcast word-lookup hash joins
    built from a bit_or aggregate, candidate join still the shuffled-hash
    equi-join."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 2)
    monkeypatch.setattr(pj, "PREFIX_SEMI_PRUNE_MAX", 2)
    layers = make_layers()
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates_df(pts, cover, prefix_level=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan
    assert " IN (" not in plan
    assert "bit_or" in plan  # the bitmap aggregate feeds the broadcasts
    assert plan.count("BroadcastHashJoin") >= 2  # one word-lookup per hash
    assert "ShuffledHashJoin" in plan
    result = refine_candidates(cand, layers)
    got = {
        (int(r["point_id"]), r["polygon_id"])
        for r in result.select("point_id", "polygon_id").collect()
    }
    assert got == oracle_matches(points_pdf, layers)


def test_prefix_df_auto_prune_escalates_to_bloom(spark, points, points_pdf, monkeypatch):
    """Above PREFIX_SEMI_PRUNE_MAX distinct prefixes the auto rung must
    escalate past the broadcast semi to the Bloom bitmap — and the match
    set must not change."""
    import importlib

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")
    monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 2)
    monkeypatch.setattr(pj, "PREFIX_SEMI_PRUNE_MAX", 2)
    layers = make_layers()
    cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
    pts = with_cell_id(points)
    cand = prefix_candidates_df(pts, cover, prefix_level=4)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan and "bit_or" in plan
    result = refine_candidates(cand, layers)
    got = {
        (int(r["point_id"]), r["polygon_id"])
        for r in result.select("point_id", "polygon_id").collect()
    }
    assert got == oracle_matches(points_pdf, layers)


def test_bloom_bitmap_broadcast_is_reused(spark):
    """The k word-lookup joins must share ONE bitmap materialization: with
    AQE off the static plan shows a ReusedExchange for the second lookup
    (under AQE the same dedup happens in the runtime stage cache)."""
    from pyspark.sql import functions as F2

    from s2_geometry_library_java_spark.operators.pip_join import (
        bloom_bitmap,
        bloom_prune,
    )

    keys = spark.range(1000).select((F2.col("id") * 7).alias("k"))
    probe = spark.range(1000).select(F2.col("id").alias("k"))
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pruned = bloom_prune(probe, bloom_bitmap(keys, "k"), "k")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


@pytest.mark.parametrize("m_bits,k", [(256, 2), (100, 3), (64, 1)])
def test_bloom_prune_never_drops_true_keys(spark, m_bits, k):
    """Property at deliberately tiny m (heavy false-positive pressure),
    including m not a multiple of 64 and k=1/3: bloom_prune keeps EVERY
    row whose key is in the bitmap's key set — false positives allowed,
    false negatives never."""
    from pyspark.sql import functions as F2

    from s2_geometry_library_java_spark.operators.pip_join import (
        bloom_bitmap,
        bloom_prune,
    )

    keys = spark.range(100).select((F2.col("id") * 7).alias("k"))
    probe = spark.range(1000).select(F2.col("id").alias("k"))
    bm = bloom_bitmap(keys, "k", m_bits=m_bits, k=k)
    kept = {r["k"] for r in bloom_prune(probe, bm, "k", m_bits=m_bits, k=k).collect()}
    true_keys = {r["k"] for r in keys.collect()} & set(range(1000))
    assert true_keys <= kept


def test_covering_frame_leaves_no_cache(spark, sf_dir):
    """The escalation's bounded jobs read the covering without caching it:
    after the join, the session's cache manager is empty, and a second
    identical query plans no in-memory scan of an earlier covering."""
    spark.catalog.clearCache()
    for _ in range(2):
        cover = covering_df_distributed(spark, LAYER_SPECS, max_cells=8, max_level=12)
        df = pip_join(geotagged_points(spark, sf_dir), make_layers(), covering_frame=cover)
        df.collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
