#!/usr/bin/env python
"""Per-operator sweep: best-of-3 wall time of each engine operator at
$SPARK_GRAFT_SF_DIR (default sf0.1) on get_spark's default local[N].
Prints ONE JSON line:

  {"queries": {...per-query sec...}, "sf": ..., "cpus": ...,
   ...kernel micros and derived throughputs}

The end-to-end number (images/s for encode + polygon join + tile manifest)
is perfbench's ``images_per_s`` (perfbench/README.md); scaling evidence (N
vs 4N cores) is scripts/run_scaling.py over the same harness.  This sweep
is the timing of the operators the benchmark does not run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _kernel_micros(extras: dict) -> None:
    """Kernel micro-numbers, comparable against BASELINE.md's reference
    single-thread measurements (S2Projections.java:54-61: quadratic
    FromPoint 0.161us, ToPoint 0.116us scalar C++).  Runs BEFORE any Spark
    work so the single-thread numbers are insulated from in-process JVM
    background threads and the run order is deterministic; box-level noisy
    neighbors remain (quiet-window decode measures 0.102us, noisy windows
    up to 0.15us on identical code) — best-of-5 mitigates within a window
    but cross-window comparisons need the campaign discipline of
    BENCH/BASELINE.md."""
    import numpy as np

    from s2_geometry_library_java_spark.kernel import cellid as ck

    rng_lat = np.random.default_rng(1).uniform(-89, 89, 2_000_000)
    rng_lng = np.random.default_rng(2).uniform(-179, 179, 2_000_000)

    def best_of(fn, reps: int = 5) -> float:
        # standard micro practice: one warmup (page faults, allocator),
        # then best-of-reps — the un-warmed single-shot number in r01
        # overstated the kernel by ~2x on this noisy VM.
        fn()
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return best

    ids = ck.from_latlng_degrees(rng_lat, rng_lng)
    xyz = ck.latlng_degrees_to_xyz(rng_lat, rng_lng)
    # Same op as the reference's measured FromPoint (point->cellid,
    # S2Projections.java:54-61: 0.161us quadratic) — xyz in, id out.
    extras["kernel_encode_us_per_op_1thread"] = round(
        best_of(lambda: ck.from_xyz(xyz)) / 2.0, 4
    )
    # Harder than the reference row (adds 4 trig calls the reference's
    # FromPoint doesn't do): full lat/lng -> cellid.
    extras["kernel_encode_latlng_us_per_op_1thread"] = round(
        best_of(lambda: ck.from_latlng_degrees(rng_lat, rng_lng)) / 2.0, 4
    )
    extras["kernel_decode_us_per_op_1thread"] = round(
        best_of(lambda: ck.to_point(ids)) / 2.0, 4
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from __spark_entry__ import ALL_LAYERS, NATIVE_LAYERS, q_caption_regions, q_pip_prefix_bloom
    from s2_geometry_library_java_spark.operators import ann, dedup
    from s2_geometry_library_java_spark.operators.knn import knn_join
    from s2_geometry_library_java_spark.operators.pip_join import pip_join, with_cell_id
    from s2_geometry_library_java_spark.operators.tiling import tile_manifest
    from s2_geometry_library_java_spark.session import get_spark
    from s2_geometry_library_java_spark.sources.images import synthetic_images
    from s2_geometry_library_java_spark.sources.tables import geotagged_points, geotagged_queries, load_table

    extras: dict = {}
    _kernel_micros(extras)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    timings: dict[str, float] = {}

    def timed(name: str, fn, reps: int = 3):
        # best-of-3: the sandbox VM has noisy neighbors (identical runs vary
        # up to 2x), and each query's FIRST run pays per-query one-time costs
        # a long-lived cluster amortizes (Python-UDF worker fork + Arrow init
        # per distinct UDF signature, JIT).  Measured: minhash_pairs 22.3s
        # cold / 4.7s / 3.0s warm on identical input.
        out = fn()
        best = float("inf")
        for _ in range(reps - 1):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)
        return out

    # the north star's second geotag leg: caption parse -> broadcast
    # gazetteer -> anchor-containment CASE, row-level and shuffle-free
    timed("caption_regions", lambda: q_caption_regions(spark, sf_dir).count())

    pts = geotagged_points(spark, sf_dir)
    n_points = pts.count()

    # encode: lat/lng -> leaf cell id over all fact points
    enc = with_cell_id(pts)
    # sum() forces the UDF: count(cell_id) constant-folds away now that
    # the encode column is marked non-null
    timed("encode", lambda: enc.agg(F.sum("cell_id")).collect())
    extras["encode_rows_per_sec"] = round(n_points / max(timings["encode"], 1e-9))

    matches = pip_join(enc, ALL_LAYERS, n_rows=n_points)
    n_matches = timed("pip_join", lambda: matches.count())
    timed("pip_join_range", lambda: pip_join(enc, NATIVE_LAYERS).count())
    # the 100-TB beyond-broadcast arms, tracked round-over-round at sf0.1
    # (not only in ad-hoc 128M campaigns): the prefix join (same shape as
    # the driver's pip_join_prefix gate) and the fully distributed
    # covering arm
    timed(
        "pip_join_prefix",
        lambda: pip_join(enc, ALL_LAYERS, broadcast_cells=False).count(),
    )

    from __spark_entry__ import ALL_LAYER_SPECS
    from s2_geometry_library_java_spark.operators.covering import JOIN_COVERING, covering_df_distributed

    def prefix_dist_job() -> int:
        cover = covering_df_distributed(spark, ALL_LAYER_SPECS, **JOIN_COVERING)
        return pip_join(enc, ALL_LAYERS, covering_frame=cover).count()

    timed("pip_join_prefix_dist", prefix_dist_job)

    # the terminal probe-prune rung (at sf0.1 the escalation picks the
    # IN-set): the driver's row tracks the Bloom-bitmap build + k
    # word-lookup probes
    timed("pip_join_prefix_bloom", lambda: q_pip_prefix_bloom(spark, sf_dir).count())
    timed("tile_manifest", lambda: tile_manifest(matches, tile_level=6).count())

    qdf = geotagged_queries(spark, sf_dir, limit=8)
    timed("knn", lambda: knn_join(enc, qdf, 10, n_points=n_points, n_queries=8).count())

    # snap-to-polyline over the full fact table (broadcast candidate
    # buckets; the fact side never shuffles) and the skew-balanced
    # adaptive tiling (one fact pass to the checkpointed grid)
    from __spark_entry__ import SNAP_RADIUS_RAD, _snap_lines
    from s2_geometry_library_java_spark.operators.adaptive import adaptive_tiles
    from s2_geometry_library_java_spark.operators.snap import snap_join

    lines = _snap_lines()
    timed("snap_roads", lambda: snap_join(enc, lines, SNAP_RADIUS_RAD).count())

    # both-axes near-dup (spatial bucket blocking + phash Hamming refine)
    from s2_geometry_library_java_spark.operators.geodedup import geo_neardup_pairs

    tagged = enc.withColumn("phash", (F.col("point_id") * F.lit(40503)) % F.lit(65536))
    timed("geo_neardup", lambda: geo_neardup_pairs(tagged, 0.01, 4, n_rows=n_points).count())
    timed(
        "adaptive_tiles",
        lambda: adaptive_tiles(enc, cap=max(150, n_points // 100), min_level=1, max_level=10).count(),
    )

    docs = load_table(spark, sf_dir, "documents")
    timed("minhash_pairs", lambda: dedup.minhash_neardup_pairs(docs, threshold=0.35).count())
    timed("ngram_jaccard", lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.35).count())
    timed("simhash", lambda: dedup.simhash_fingerprints(docs).count())

    emb = load_table(spark, sf_dir, "embeddings")
    timed("ann_cosine", lambda: ann.cosine_topk(emb, n_queries=8, k=10).count())
    timed("ann_pq", lambda: ann.pq_cosine_topk(emb, n_queries=8, k=10, shortlist=100).count())

    # time-series operators over the events table: as-of enrichment
    # (tagged-union sort-fill) and the bucketed interval-overlap join
    from s2_geometry_library_java_spark.operators.asof import asof_join
    from s2_geometry_library_java_spark.operators.interval_join import interval_overlap_join

    ev = load_table(spark, sf_dir, "events")
    err = (
        ev.filter(F.col("event_type") == "error")
        .select("user_id", "ts", F.col("event_id").alias("err_id"))
        .dropDuplicates(["user_id", "ts"])  # asof contract: unique (key, ts)
    )
    timed(
        "asof_join",
        lambda: asof_join(ev.select("event_id", "user_id", "ts"), err, "user_id").count(),
    )
    iv = err.select(
        "user_id",
        F.col("err_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    timed(
        "interval_join",
        lambda: interval_overlap_join(ev.select("event_id", "user_id", "ts"), iv).count(),
    )

    # geometric aggregation + compaction over the events trajectories
    from s2_geometry_library_java_spark.operators.caps import bounding_caps
    from s2_geometry_library_java_spark.operators.simplify import simplify_trajectories

    timed("bounding_caps", lambda: bounding_caps(ev).count())
    timed("simplify_traj", lambda: simplify_trajectories(ev, 0.8).count())

    # the binary/multimodal path: decode + verify PSNR over a
    # MATERIALIZED with-bytes corpus — measures the codec path, not
    # row synthesis (generation is a one-time input cost).
    from s2_geometry_library_java_spark.operators.images import image_stats

    stats_dir = "/tmp/s2bench_images_bin_50000"
    if not os.path.exists(os.path.join(stats_dir, "_SUCCESS")):
        synthetic_images(spark, 50000, partitions=cpus).write.mode("overwrite").parquet(stats_dir)
    timed("image_stats_50k", lambda: image_stats(spark.read.parquet(stats_dir)).count())

    # audio modality path: PCM decode + windowed features + SNR verify
    # over a materialized with-bytes corpus (same posture as images)
    from s2_geometry_library_java_spark.operators.audio import audio_stats
    from s2_geometry_library_java_spark.sources.audio import synthetic_audio

    audio_dir = "/tmp/s2bench_audio_50000"
    if not os.path.exists(os.path.join(audio_dir, "_SUCCESS")):
        synthetic_audio(spark, 50000, partitions=cpus).write.mode("overwrite").parquet(audio_dir)
    timed("audio_stats_50k", lambda: audio_stats(spark.read.parquet(audio_dir)).count())

    # video modality path: frame-major decode + every-4th-frame sampling
    # + per-frame PSNR verify (rows are ~67 KB of frames each, so 10k
    # rows carries the same order of bytes as the 50k image corpus)
    from s2_geometry_library_java_spark.operators.video import video_frame_stats
    from s2_geometry_library_java_spark.sources.video import synthetic_videos

    video_dir = "/tmp/s2bench_video_10000"
    if not os.path.exists(os.path.join(video_dir, "_SUCCESS")):
        synthetic_videos(spark, 10000, partitions=cpus).write.mode("overwrite").parquet(video_dir)
    timed(
        "video_frames_10k",
        lambda: video_frame_stats(spark.read.parquet(video_dir), every_n=4).count(),
    )

    extras["n_points"] = n_points
    extras["n_matches"] = n_matches
    result = {
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        **extras,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
