"""Streaming encode + tile rollup.

Shows that the vectorized S2 kernels are streaming-safe: the same pandas-UDF
encode and native tile-parent bit math run inside a Structured Streaming
micro-batch plan with event-time watermarking.  Input is any streaming
DataFrame with (ts timestamp, key long) — tests drive it with a rate source;
production would be a Kafka/Iceberg CDC feed of image rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import geotag_lat_sql, geotag_lng_sql, parent_sql
from s2_geometry_library_java_spark.functions.udfs import s2_cell_id


def streaming_tile_counts(
    stream: DataFrame,
    tile_level: int = 4,
    window: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """ts/key stream -> per-(event window, tile) image counts with late-data
    handling via watermark; state is bounded by the watermark horizon."""
    encoded = (
        stream.withColumn("lat", F.expr(geotag_lat_sql("key")))
        .withColumn("lng", F.expr(geotag_lng_sql("key")))
        .withColumn("cell_id", s2_cell_id(F.col("lat"), F.col("lng")))
        .withColumn("tile_id", F.expr(parent_sql("cell_id", tile_level)))
    )
    return (
        encoded.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("tile_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
