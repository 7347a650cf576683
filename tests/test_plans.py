"""Physical-plan shape assertions: the scale story must be visible in
explain() — column-pruned scans, a broadcast join with the native
refinement kept out of Python, exactly one Arrow hop for the encode, and the
prefix arm shuffling instead of broadcasting."""

import re

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
from s2_geometry_library_java_spark.sources.tables import geotagged_points


# n_rows hints that put ALL_LAYERS' 56-cell covering on each broadcast arm
RANGE_ROWS = 8_000_000
STAB_ROWS = 10**12


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def analyzed(df) -> str:
    return df._jdf.queryExecution().toString()


@pytest.fixture(scope="module")
def points(spark, sf_dir):
    return geotagged_points(spark, sf_dir)


def test_scan_prunes_to_key_column(points):
    # geotag derivation needs only o_orderkey; the parquet scan must not
    # read anything else (O18 pushdown/pruning).
    plan = plan_of(with_cell_id(points))
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "o_orderkey" in m.group(1)
    assert "o_totalprice" not in m.group(1) and "o_orderdate" not in m.group(1)


def test_encode_is_single_arrow_hop(points):
    plan = plan_of(with_cell_id(points))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_native_join_is_broadcast_with_folded_refinement(spark, points):
    from __spark_entry__ import NATIVE_LAYERS

    plan = plan_of(pip_join(points, NATIVE_LAYERS))
    assert re.search(r"Broadcast(HashJoin|NestedLoopJoin)", plan)
    assert "SortMergeJoin" not in plan
    # the encode hop only: rect/cap refinement is native, no Python stage
    assert plan.count("ArrowEvalPython") == 1


def test_auto_strategy_small_covering_takes_range(spark, points):
    # I2 cost model wired in: a small covering (RECT_LAYERS -> 17 cells,
    # NATIVE_LAYERS -> 40, the pip_join_range driver row) goes through the
    # broadcast range join (BNLJ on the BETWEEN predicate).
    from __spark_entry__ import NATIVE_LAYERS, RECT_LAYERS

    for layers in (RECT_LAYERS, NATIVE_LAYERS):
        plan = plan_of(pip_join(points, layers))
        assert "BroadcastNestedLoopJoin" in plan
        assert "BroadcastHashJoin" not in plan
        # the encode UDF must appear ONCE: without the non-null coalesce in
        # with_cell_id, Catalyst's inferred IsNotNull(cell_id) constraint
        # pushed a filter that re-ran the encode over the whole fact side
        assert plan.count("ArrowEvalPython") == 1


def test_auto_strategy_large_covering_takes_stab(spark, points):
    # ...and a covering past the breakeven (ALL_LAYERS -> 56 cells, no row
    # hint -> assume web-scale rows) crosses into the interval-stab lookup:
    # a broadcast equi-join on the segment id with NO ancestor explode (no
    # Generate node) — the fact side is never row-amplified.
    from __spark_entry__ import ALL_LAYERS

    plan = plan_of(pip_join(points, ALL_LAYERS))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" not in plan  # no explode anywhere in the stab plan


def test_auto_strategy_row_hint(spark, points):
    # I2 cost model, fact-side term (the predictAdditionalCalls analog,
    # S2EdgeIndex.java:204-211): with a KNOWN fact-row count the model keys
    # on total BNLJ work (rows x cells vs RANGE_WORK_BUDGET) — small fact
    # sides stay on the bounded-work BNLJ instead of paying the stab hop's
    # fixed costs; web-scale fact sides take the stab lookup.
    from __spark_entry__ import ALL_LAYERS
    from s2_geometry_library_java_spark.operators.covering import covering_rows
    from s2_geometry_library_java_spark.operators.pip_join import choose_strategy

    cov56 = covering_rows(ALL_LAYERS, max_cells=8, max_level=12)
    assert choose_strategy(cov56, n_rows=8_000_000) == "range"
    assert choose_strategy(cov56, n_rows=128_000_000) == "stab"
    assert choose_strategy(cov56, n_rows=None) == "stab"
    big = covering_rows(ALL_LAYERS, max_cells=256, max_level=14)
    assert len(big) > 1000
    assert choose_strategy(big, n_rows=10_000) == "range"
    assert choose_strategy(big, n_rows=1_000_000_000) == "stab"
    plan = plan_of(pip_join(points, ALL_LAYERS, n_rows=8_000_000))
    assert "BroadcastNestedLoopJoin" in plan
    plan_big = plan_of(pip_join(points, ALL_LAYERS, n_rows=200_000_000))
    assert "BroadcastNestedLoopJoin" not in plan_big
    assert "BroadcastHashJoin" in plan_big


def test_radius_join_fact_side_stays_narrow(spark, points):
    # The radius join buckets the fact side with native parent() bit math —
    # no explode (Generate) on the fact lineage, one broadcast hash join on
    # the bucket, and the only Generate in the whole plan is the <=4
    # vertex-neighbor explode on the tiny query side.
    from s2_geometry_library_java_spark.operators.knn import radius_join

    plan = plan_of(radius_join(points, [("q0", 10.0, 10.0), ("q1", -40.0, 100.0)], 0.1))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Generate") == 1  # query-side neighbor explode only
    assert plan.count("Scan parquet") == 1  # single pass over the fact table
    assert "BatchEvalPython" not in plan


def test_radius_join_large_query_set_shuffles(spark, points):
    # broadcast_queries=False: the 100M-query shape — both sides shuffle on
    # the bucket into SMJ/SHJ instead of broadcasting the probe.
    from s2_geometry_library_java_spark.operators.knn import radius_join

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = plan_of(
            radius_join(points, [("q0", 10.0, 10.0)], 0.1, broadcast_queries=False)
        )
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_salted_join_shuffles(spark, points):
    from __spark_entry__ import NATIVE_LAYERS

    # At sf-test sizes AQE rightly broadcast-converts anything; pin the
    # thresholds down to see the shape this plan takes at 100 TB.
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = plan_of(pip_join(points, NATIVE_LAYERS, broadcast_cells=False))
        assert "BroadcastHashJoin" not in plan
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
        # one packed BIGINT join key column per side (_pfx/_ckey), so the
        # probe-side sort stays radix-eligible (r4: compound keys measured
        # 2-3x slower)
        assert "_pfx" in plan and "_ckey" in plan
        assert "_pkey" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_poly_refinement_single_pass(spark, points):
    from __spark_entry__ import ALL_LAYERS

    # default (auto -> stab at 56 cells, no row hint) FUSES encode+stab into
    # one struct hop on un-encoded input: exactly two python ops total (the
    # fused hop + the parity refinement) — proof the refine is single-pass
    # (no union of per-kind branches)
    plan = plan_of(pip_join(points, ALL_LAYERS))
    assert plan.count("ArrowEvalPython") == 2
    assert plan.count("Scan parquet") == 1
    # the small-fact range path (BNLJ) adds zero Python: encode + parity only
    plan_rng = plan_of(pip_join(points, ALL_LAYERS, n_rows=RANGE_ROWS))
    assert plan_rng.count("ArrowEvalPython") == 2
    assert plan_rng.count("Scan parquet") == 1
    # pre-encoded input pays the extra (8B in / 4B out) seg hop instead
    plan_pre = plan_of(pip_join(with_cell_id(points), ALL_LAYERS, n_rows=STAB_ROWS))
    assert plan_pre.count("ArrowEvalPython") == 3


def test_cc_star_phases_are_min_aggs_not_adjacency_arrays(spark):
    # Connected components must never materialize a star root's adjacency in
    # one task: each phase is a partial-aggregatable min (HashAggregate, no
    # collect_set ObjectHashAggregate) joined back to the edge list, all
    # JVM-native (no Python hop) and never a cartesian product.
    from s2_geometry_library_java_spark.operators.dedup import (
        _cc_large_star,
        _cc_small_star,
    )

    e = spark.createDataFrame([(3, 1), (5, 2), (5, 1)], "u long, v long")
    for phase in (_cc_large_star, _cc_small_star):
        plan = plan_of(phase(e))
        assert "collect_set" not in plan
        assert "ObjectHashAggregate" not in plan
        assert "HashAggregate" in plan  # partial + final min agg
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan


def _hops(df, udf: str) -> int:
    """ArrowEvalPython nodes of ``df``'s plan that evaluate ``udf``."""
    return sum(
        1 for line in plan_of(df).splitlines() if "ArrowEvalPython" in line and f"{udf}(" in line
    )


@pytest.fixture(scope="module")
def images(spark):
    from s2_geometry_library_java_spark.sources.images import synthetic_images

    return synthetic_images(spark, 2000).select("image_id", "phash")


def _encoded(source, points, images):
    from s2_geometry_library_java_spark.plans.pipeline import encode_images

    if source == "with_cell_id":
        return with_cell_id(points), "s2_cell_id"
    return encode_images(images), "s2_cell_id_from_phash"


@pytest.mark.parametrize("source", ["with_cell_id", "encode_images"])
@pytest.mark.parametrize("prune", [None, "auto", "semi", "bloom"])
def test_prefix_arm_encodes_once(spark, points, images, source, prune, monkeypatch):
    # The prefix prune filters on parent(cell_id).  Pushed below the
    # projection that defines cell_id, it re-ran the encode UDF under the
    # Filter: two encode hops, ~1.65x the fact rows through Python.
    # prune=None is the driver-list arm (broadcast_cells=False); the
    # covering_frame arm reaches the semi and Bloom rungs through lowered
    # escalation bounds.
    import importlib

    from __spark_entry__ import ALL_LAYERS
    from s2_geometry_library_java_spark.operators.covering import covering_df

    pj = importlib.import_module("s2_geometry_library_java_spark.operators.pip_join")

    enc, udf = _encoded(source, points, images)
    if prune is None:
        df = pip_join(enc, ALL_LAYERS, broadcast_cells=False)
    else:
        if prune != "auto":
            monkeypatch.setattr(pj, "PREFIX_IN_FILTER_MAX", 2)
        if prune == "bloom":
            monkeypatch.setattr(pj, "PREFIX_SEMI_PRUNE_MAX", 2)
        cov = covering_df(spark, ALL_LAYERS, max_cells=8, max_level=12)
        df = pip_join(enc, ALL_LAYERS, covering_frame=cov)
        plan = plan_of(df)
        assert ("LeftSemi" in plan) == (prune == "semi")
        assert ("bit_or" in plan) == (prune == "bloom")
    assert _hops(df, udf) == 1
    assert _hops(df, "parity_contains") == 1


@pytest.mark.parametrize("source", ["with_cell_id", "encode_images"])
@pytest.mark.parametrize("strategy", ["range", "stab"])
def test_broadcast_arms_encode_once(points, images, source, strategy):
    from __spark_entry__ import ALL_LAYERS

    enc, udf = _encoded(source, points, images)
    n_rows = RANGE_ROWS if strategy == "range" else STAB_ROWS
    assert _hops(pip_join(enc, ALL_LAYERS, n_rows=n_rows), udf) == 1


def test_manifest_tail_is_pure_codegen(points, images):
    # tile ids, tokens, the aggregate and its sort add no Python hop
    from __spark_entry__ import ALL_LAYERS
    from s2_geometry_library_java_spark.operators.tiling import assign_tiles, tile_manifest
    from s2_geometry_library_java_spark.plans.pipeline import encode_images

    for matches in (
        pip_join(encode_images(images), ALL_LAYERS, broadcast_cells=False),
        pip_join(with_cell_id(points), ALL_LAYERS, n_rows=RANGE_ROWS),
    ):
        base = plan_of(matches).count("ArrowEvalPython")
        for tail in (tile_manifest(matches), assign_tiles(matches)):
            plan = plan_of(tail)
            assert plan.count("ArrowEvalPython") == base
            assert "s2_token" not in plan


def test_refine_filter_tests_parity_result_only(points):
    # parity_contains returns the final keep decision, so the Filter above
    # its hop holds no copy of the native rect/cap CASE chain
    from __spark_entry__ import ALL_LAYERS

    plan = plan_of(pip_join(with_cell_id(points), ALL_LAYERS, n_rows=RANGE_ROWS))
    filters = [line for line in plan.splitlines() if "Filter" in line and "pythonUDF" in line]
    assert len(filters) == 1
    assert "CASE WHEN" not in filters[0]


def test_range_join_broadcasts_benchmark_covering(spark, points):
    # The benchmark's oracle and manifest digests assume the join covering
    # of ALL_LAYERS at max_cells=8, max_level=12 (56 cells): the range arm
    # must broadcast exactly those rows.
    from pyspark.sql import DataFrame

    from __spark_entry__ import ALL_LAYERS
    from s2_geometry_library_java_spark.operators.covering import covering_rows

    df = pip_join(points, ALL_LAYERS, n_rows=RANGE_ROWS)
    assert "BroadcastNestedLoopJoin" in plan_of(df)
    # the analyzed leaf: the optimizer folds the arm's column projection
    # into the LocalRelation
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    (cells,) = [leaves.apply(i) for i in range(leaves.size()) if leaves.apply(i).nodeName() == "LocalRelation"]
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, cells)
    got = [tuple(r) for r in DataFrame(jds, spark).collect()]
    want = covering_rows(ALL_LAYERS, max_cells=8, max_level=12)
    assert len(want) == 56
    assert sorted(got) == sorted(want)


@pytest.mark.parametrize(
    "kwargs",
    [{"n_rows": RANGE_ROWS}, {"n_rows": STAB_ROWS}, {"broadcast_cells": False}],
    ids=["range", "stab", "prefix"],
)
def test_covering_is_driver_local(spark, points, kwargs):
    # The covering side of every arm is a LocalTableScan: built on the
    # driver, with no Python RDD (Scan ExistingRDD) for each job to run
    # before the broadcast or shuffle.  Its size is exact, and the prefix
    # arm's shuffle_hash hint must still beat a size-based broadcast,
    # in the initial plan and in AQE's final plan.
    from __spark_entry__ import ALL_LAYERS
    from s2_geometry_library_java_spark.operators.tiling import tile_manifest

    df = tile_manifest(pip_join(points, ALL_LAYERS, **kwargs))
    initial = plan_of(df)
    df.collect()
    for plan in (initial, plan_of(df)):
        assert "ExistingRDD" not in plan
        assert [l for l in plan.splitlines() if "LocalTableScan" in l and "polygon_id" in l]
        if "broadcast_cells" in kwargs:
            assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan


def test_prefix_bloom_row_plans_the_bitmap_join(spark, sf_dir):
    # the pip_join_prefix_bloom driver row fixes the terminal prune rung:
    # its executed plan probes the bit_or bitmap words (_bits)
    from __spark_entry__ import q_pip_prefix_bloom

    plan = plan_of(q_pip_prefix_bloom(spark, sf_dir))
    assert "_bits" in plan and "bit_or" in plan
    assert "LeftSemi" not in plan and " IN (" not in plan
    assert "ShuffledHashJoin" in plan
