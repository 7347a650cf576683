"""Streaming geofence: windowed per-fence hit counts over an event
stream — the alerting twin of the batch point-in-polygon join.

Plan shape (the 100-TB stream):
- Membership is evaluated IN the projection: each fence contributes a
  ``WHEN <Layer.sql_predicate> THEN polygon_id`` arm to one array literal,
  nulls compacted, then a single explode.  No join operator at all —
  the fence set lives in the plan, so the stream never shuffles until
  the windowed aggregation, and every arm runs inside WholeStageCodegen.
- State is bounded by the watermark horizon; the windowed count is the
  same `window()` + partial-agg shape as the streaming tile rollup
  (`streaming/encode_stream.py`).
- This inlined form fits fence sets up to the low thousands (plan-size
  bound).  Corpus-sized fence tables instead go through the broadcast
  covering equi-join (`operators/pip_join.py`), which is also
  stream-static-join compatible; the inlined form exists because the
  common alerting case is a handful of fences per deployment.

Only ``Layer.native`` fences (rect and cap, whose membership is one SQL
predicate) are accepted; general polygons route through pip_join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import geotag_lat_sql, geotag_lng_sql
from s2_geometry_library_java_spark.operators.layers import Layer


def streaming_geofence_counts(
    stream: DataFrame,
    layers: Sequence[Layer],
    window: str = "60 seconds",
    watermark: str = "120 seconds",
) -> DataFrame:
    """(ts, key) stream -> per-(event window, fence) hit counts.

    ``key`` geotags through the deterministic synthetic derivation
    (production swaps in real lat/lng columns); events inside several
    fences count once per fence; events inside none are dropped before
    the shuffle.
    """
    tagged = stream.withColumn("lat", F.expr(geotag_lat_sql("key"))).withColumn(
        "lng", F.expr(geotag_lng_sql("key"))
    )
    arms = []
    for layer in layers:
        if not layer.native:
            raise ValueError(
                f"layer {layer.polygon_id!r} ({layer.kind}) has no native predicate; "
                "route general polygons through pip_join's broadcast covering join"
            )
        arms.append(F.when(F.expr(layer.sql_predicate("lat", "lng")), F.lit(layer.polygon_id)))
    hits = tagged.select(
        "ts", F.explode(F.array_compact(F.array(*arms))).alias("polygon_id")
    )
    return (
        hits.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "polygon_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
