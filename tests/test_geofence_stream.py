"""Streaming geofence: plan shape (membership inlined — no join operator
before the windowed agg) and the native-predicate guard.  End-to-end
counts are pinned by the stream_geofence golden gate
(tests/test_entry_contract.py)."""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.layers import loop_layer, rect_layer
from s2_geometry_library_java_spark.streaming.geofence_stream import streaming_geofence_counts

FENCES = [
    rect_layer("r1", -10.0, -10.0, 10.0, 10.0),
    rect_layer("r2", 30.0, 100.0, 60.0, 160.0),
]


def _batch_input(spark):
    return spark.range(2000).select(
        F.timestamp_seconds(F.lit(1_760_000_040) + (F.col("id") % F.lit(600))).alias("ts"),
        F.col("id").alias("key"),
    )


def test_rejects_layers_without_native_predicate(spark):
    fence = loop_layer("tri", "0:0, 0:20, 20:10")
    with pytest.raises(ValueError, match="native predicate"):
        streaming_geofence_counts(_batch_input(spark), [fence])


def test_plan_has_no_join_and_matches_batch_filters(spark):
    # The operator is plain DataFrame ops, so it also runs in batch mode —
    # same plan Catalyst would use per micro-batch.
    agg = streaming_geofence_counts(_batch_input(spark), FENCES)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert op not in plan, plan
    got = {(r.polygon_id, r.n) for r in agg.groupBy("polygon_id").agg(F.sum("n").alias("n")).collect()}
    from s2_geometry_library_java_spark.functions.native import geotag_lat_sql, geotag_lng_sql

    pdf = _batch_input(spark).select(
        F.expr(geotag_lat_sql("key")).alias("lat"), F.expr(geotag_lng_sql("key")).alias("lng")
    ).toPandas()
    want = set()
    for fence in FENCES:
        n = int(fence.contains_points(pdf["lat"].to_numpy(), pdf["lng"].to_numpy()).sum())
        if n:
            want.add((fence.polygon_id, n))
    assert got == want
