"""Workload definitions: seeded inputs, the layer set, and the timed jobs.

Every workload reads a parquet copy of rows ``[seed*N, (seed+1)*N)`` of the
synthetic images table (``sources.images.images_pandas``).  The copy is
written with pyarrow, outside any timed region and outside Spark, once per
(workload, seed); the engine only ever sees the parquet files.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np

# Rows per workload.  Sized so that a run (set-up, warm-up, the measured
# window and the output checks) stays well inside the benchmark's time budget
# at local[4]; see README.md for the measured job times.
N_ROWS = 1_000_000
# Fixed file layout, independent of the machine, so a seed always names the
# same bytes on disk.
N_FILES = 16
TILE_LEVEL = 7
WRITE_BUCKETS = 8
WRITE_FAIL_AFTER = 4

# The hot box of geotag_hotspot_shuffled: the recipe of bench.py's
# BENCH_SKEW_FRACTION.  A HOT_FRACTION share of rows moves into a ~0.003
# degree box at (48, 10) inside r_eu; 16 bits of jitter in each phash half
# keep the leaf cells distinct.
HOT_FRACTION = 0.30
HOT_LAT, HOT_LNG = 48.0, 10.0


class Workload(NamedTuple):
    """One benchmark workload: its input recipe and its pip_join call."""

    name: str
    hot_fraction: float
    broadcast_cells: bool


WORKLOADS = {
    w.name: w
    for w in (
        # the north-star job: encode hop, broadcast range BNLJ and refine
        # hop, with no fact-side shuffle
        Workload("geotag_manifest", 0.0, True),
        # the only fact-side shuffle, with one hot reducer key: the skew arm
        Workload("geotag_hotspot_shuffled", HOT_FRACTION, False),
    )
}


def layers():
    """The eight-layer set of the driver contract's ALL_LAYERS, built fresh.

    Fresh Layer objects miss the covering memo (it is keyed by object
    identity), so every call pays the covering build, as a new session does.
    """
    from s2_geometry_library_java_spark.operators.layers import (
        cap_layer,
        loop_layer,
        polygon_layer,
        rect_layer,
    )

    return [
        rect_layer("r_eu", 35.0, -10.0, 60.0, 30.0),
        rect_layer("r_wrap", -20.0, 160.0, 20.0, -160.0),
        rect_layer("r_band", -15.0, -60.0, 15.0, 60.0),
        cap_layer("c_nyc", 40.7, -74.0, 18.0),
        cap_layer("c_spole", -90.0, 0.0, 25.0),
        cap_layer("c_tokyo", 35.7, 139.7, 12.0),
        loop_layer("l_tri", "0:0, 0:40, 35:20"),
        polygon_layer("p_hole", "-5:-5, -5:45, 40:45, 40:-5; 5:5, 25:20, 5:35"),
    ]


# ---------------------------------------------------------------------------
# Seeded inputs
# ---------------------------------------------------------------------------
def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a fixed, platform-independent 64-bit hash."""
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def _hot_phash(row: np.ndarray, seed: int, phash: np.ndarray, fraction: float) -> np.ndarray:
    """Move ``fraction`` of rows into the hot box; the seed picks the jitter."""
    salt = np.uint64((seed * 0x9E3779B97F4A7C15) & (2**64 - 1))
    h = [_mix64(row.astype(np.uint64) ^ salt ^ np.uint64(k << 56)) for k in range(3)]
    up32 = int((HOT_LAT + 90.0) / 180.0 * 2**32) & 0xFFFF0000
    lo32 = int((HOT_LNG + 180.0) / 360.0 * 2**32) & 0xFFFF0000
    hot = ((np.uint64(up32) + (h[0] & np.uint64(0xFFFF))) << np.uint64(32)) | (
        np.uint64(lo32) + (h[1] & np.uint64(0xFFFF))
    )
    chosen = (h[2] % np.uint64(1000)) < np.uint64(int(fraction * 1000))
    return np.where(chosen, hot.view(np.int64), phash)


def materialize(work: Workload, seed: int, root: str) -> str:
    """Write the workload's input for ``seed`` under ``root``; return its dir.

    Idempotent: a complete copy (marked by ``_SUCCESS``) is reused.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from s2_geometry_library_java_spark.sources.images import images_pandas

    out = os.path.join(root, f"{work.name}-seed{seed}-n{N_ROWS}")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    os.makedirs(out, exist_ok=True)
    start = seed * N_ROWS
    bounds = np.linspace(start, start + N_ROWS, N_FILES + 1).astype(np.int64)
    for k in range(N_FILES):
        lo, hi = int(bounds[k]), int(bounds[k + 1])
        pdf = images_pandas(lo, hi, with_bytes=False)[["image_id", "phash"]]
        if work.hot_fraction:
            rows = np.arange(lo, hi, dtype=np.int64)
            pdf["phash"] = _hot_phash(rows, seed, pdf["phash"].to_numpy(), work.hot_fraction)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out, f"part-{k:05d}.parquet"),
        )
    open(os.path.join(out, "_SUCCESS"), "w").close()
    return out


# ---------------------------------------------------------------------------
# Jobs (prefixes of the timed plan; the last one is the timed job)
# ---------------------------------------------------------------------------
def scan(spark, input_dir: str):
    return spark.read.parquet(input_dir).select("phash")


def encoded(spark, input_dir: str):
    from s2_geometry_library_java_spark.plans.pipeline import encode_images

    return encode_images(scan(spark, input_dir))


def joined(spark, input_dir: str, work: Workload, lyr):
    from s2_geometry_library_java_spark.operators.pip_join import pip_join

    if work.broadcast_cells:
        return pip_join(encoded(spark, input_dir), lyr, n_rows=N_ROWS)
    return pip_join(encoded(spark, input_dir), lyr, broadcast_cells=False)


def manifest(spark, input_dir: str, work: Workload, lyr):
    from s2_geometry_library_java_spark.operators.tiling import tile_manifest

    return tile_manifest(joined(spark, input_dir, work, lyr), tile_level=TILE_LEVEL)
