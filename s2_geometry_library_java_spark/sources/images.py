"""Synthetic ``images`` fact table (FIXTURES.md F1, BASELINE.json input_hint).

Schema: image_id string, bytes binary, w int, h int, fmt string,
caption string, phash long.  Every column is a pure function of the row
index, so the table regenerates identically at any scale — no external data.

Codec note: the container has no image libraries, so per the build brief the
*codec* is a deterministic fake while all Spark-side plumbing (binary column,
schema, Arrow batching, PSNR invariant) is real:

- fmt="raw": bytes are the w*h*3 uint8 pixel array itself (lossless).
- fmt="qnt": bytes are the pixel array uniformly quantized to step 4 (lossy;
  PSNR ~= 10*log10(255^2/(q^2/12)) ~= 46.9 dB >= the 40 dB invariant).

A real deployment swaps ``decode_pixels`` for a JPEG/PNG decoder inside the
same mapInPandas plumbing (operators/images.py).

Geotag anchor derives from phash exactly as FIXTURES.md F1: lat from the
upper 32 bits, lng from the lower 32.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

QUANT_STEP = 4
_PIX_MULT = np.uint64(2654435761)
_PIX_STEP = np.uint64(97)
_PHASH_MULT = np.uint64(0x9E3779B97F4A7C15)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

_SIZES = np.array([32, 64, 128], dtype=np.int64)

_WORDS = np.array(
    "tile polygon sphere cell hilbert face cover join index anchor".split()
)


def source_pixels(i: int, w: int, h: int) -> np.ndarray:
    """The pre-encode ground-truth pixel array for row i (pure function)."""
    n = w * h * 3
    idx = np.arange(n, dtype=np.uint64)
    vals = (np.uint64(i) * _PIX_MULT + idx * _PIX_STEP) % np.uint64(251)
    return vals.astype(np.uint8)


def row_meta(i: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (w, h, fmt_is_lossy, phash) for row indices i."""
    i = np.asarray(i, dtype=np.int64)
    w = _SIZES[i % 3]
    h = _SIZES[(i // 3) % 3]
    lossy = (i % 2) == 1
    phash = (i.astype(np.uint64) * _PHASH_MULT).view(np.int64)
    return w, h, lossy, phash


def encode_pixels(pix: np.ndarray, lossy: bool) -> bytes:
    if lossy:
        pix = (pix // QUANT_STEP) * QUANT_STEP
    return pix.tobytes()


def decode_pixels(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """Decode the fake codec back to a pixel array (both fmts store raw u8)."""
    if fmt not in ("raw", "qnt"):
        raise NotImplementedError(
            f"codec {fmt!r} needs an image library not present in this container; "
            "swap this branch for PIL/libjpeg in deployment"
        )
    return np.frombuffer(data, dtype=np.uint8)[: w * h * 3]


def caption_for(i: np.ndarray) -> pd.Series:
    """Deterministic unique caption per row (equality-checked end to end)."""
    i = np.asarray(i, dtype=np.int64)
    wa = _WORDS[i % 10]
    wb = _WORDS[(i // 10) % 10]
    return pd.Series([f"caption {int(k):010d} {a} {b}" for k, a, b in zip(i, wa, wb)])


def images_pandas(start: int, end: int, with_bytes: bool = True) -> pd.DataFrame:
    """Rows [start, end) of the images table as a pandas DataFrame."""
    i = np.arange(start, end, dtype=np.int64)
    w, h, lossy, phash = row_meta(i)
    if with_bytes:
        data = [
            encode_pixels(source_pixels(int(k), int(wk), int(hk)), bool(lk))
            for k, wk, hk, lk in zip(i, w, h, lossy)
        ]
    else:
        data = [b""] * len(i)  # metadata-only mode for spatial-path benches
    return pd.DataFrame(
        {
            "image_id": [f"img{int(k):010d}" for k in i],
            "bytes": data,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "fmt": np.where(lossy, "qnt", "raw"),
            "caption": caption_for(i),
            "phash": phash,
        }
    )


def synthetic_images(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Distributed generation: spark.range drives mapInPandas so each
    partition materializes only its own slice — scales to any n."""
    rng = spark.range(0, n, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield images_pandas(int(ids.min()), int(ids.max()) + 1)

    return rng.mapInPandas(gen, schema=IMAGES_SCHEMA)


def phash_anchor_lat(phash: np.ndarray) -> np.ndarray:
    """FIXTURES.md F1: lat = -90 + 180 * (upper32 / 2^32)."""
    upper = (np.asarray(phash, dtype=np.int64).view(np.uint64) >> np.uint64(32)).astype(np.float64)
    return -90.0 + 180.0 * (upper / 4294967296.0)


def phash_anchor_lng(phash: np.ndarray) -> np.ndarray:
    lower = (np.asarray(phash, dtype=np.int64).view(np.uint64) & np.uint64(0xFFFFFFFF)).astype(np.float64)
    return -180.0 + 360.0 * (lower / 4294967296.0)
