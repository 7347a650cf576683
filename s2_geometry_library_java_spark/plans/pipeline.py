"""The north-rule pipeline (SURVEY.md §3.4), end to end:

    images --[phash anchor, native bit math]--> lat/lng
           --[K23 encode kernel, one Arrow hop]--> cell_id
           --[covering assign-join + refine]--> (image, polygon) matches
           --[C5 tile-parent bit math + native token]--> tile_id, tile_token
           --[bucketed manifest write + ledger]--> resumable output

Exactly two wide stages in the happy path: the assign join (broadcast => no
shuffle at all) and the tile-bucket write.  Python runs only where a NumPy
kernel does: the encode hop (once per image on every join arm) and the
parity refine of loop/polygon candidates.  The scan, the anchor math, the
join, and the whole manifest tail (tile ids, tokens, aggregate, sort) are
native/codegen.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import anchor_lat_sql, anchor_lng_sql
from s2_geometry_library_java_spark.operators.layers import Layer
from s2_geometry_library_java_spark.operators.pip_join import pip_join
from s2_geometry_library_java_spark.operators.tiling import run_tiled_write, tile_manifest
from s2_geometry_library_java_spark.sources.images import synthetic_images


def encode_images(images: DataFrame) -> DataFrame:
    """phash -> anchor lat/lng (FIXTURES.md F1 recipe, native bit math) +
    leaf cell id (vectorized kernel, fused phash input).

    The encode UDF takes the 8-byte phash directly (the anchor derivation
    runs inside the kernel batch) instead of 16 bytes of lat/lng — and the
    lat/lng columns stay PURE NATIVE projections of phash, so Catalyst
    computes them only where referenced (the post-join refinement of
    boundary candidates), never materializing them across the full fact
    path.  The coalesce marks cell_id non-null and the nondeterministic
    encode twin keeps cell-id filters above the hop, so the UDF runs once
    per image (see pip_join.with_cell_id).
    """
    from s2_geometry_library_java_spark.functions.udfs import _s2_cell_id_from_phash_once

    return (
        images.withColumn(
            "cell_id", F.coalesce(_s2_cell_id_from_phash_once(F.col("phash")), F.lit(0))
        )
        .withColumn("lat", F.expr(anchor_lat_sql("phash")))
        .withColumn("lng", F.expr(anchor_lng_sql("phash")))
    )


def run_pipeline(
    spark: SparkSession,
    layers: list[Layer],
    n_images: int = 10_000,
    tile_level: int = 7,
    out_dir: str | None = None,
    buckets: int = 8,
    fail_after: int | None = None,
    images: DataFrame | None = None,
) -> dict:
    """Run the full pipeline; returns metrics incl. images/sec throughput."""
    t0 = time.time()
    imgs = images if images is not None else synthetic_images(spark, n_images)
    encoded = encode_images(imgs.select("image_id", "caption", "phash"))
    matches = pip_join(encoded, layers)
    metrics: dict = {"n_images": n_images}
    if out_dir is not None:
        write_stats = run_tiled_write(
            matches, out_dir, tile_level=tile_level, buckets=buckets, fail_after=fail_after
        )
        metrics["write"] = write_stats
        n_matches = spark.read.parquet(f"{out_dir}/bucket=*").count()
    else:
        n_matches = matches.count()
    metrics["n_matches"] = n_matches
    elapsed = time.time() - t0
    metrics["elapsed_sec"] = elapsed
    metrics["images_per_sec"] = n_images / elapsed if elapsed > 0 else float("inf")
    metrics["manifest_rows"] = tile_manifest(matches, tile_level).count()
    return metrics
