"""Synthetic ``videos`` fact table — the video sibling of sources/images.py
and sources/audio.py, closing the last modality stub.

Schema: video_id string, bytes binary, w int, h int, n_frames int, fps int,
fmt string, caption string.  ``bytes`` is the frame-major concatenation of
n_frames RGB frames (w*h*3 uint8 each); every value is a pure function of
(row index, frame index, pixel index), so the table regenerates identically
at any scale — no external data.

Codec note: the container has no video libraries, so per the build brief
the *codec* is a deterministic fake while all Spark-side plumbing (binary
column, typed metadata, Arrow batching, frame explode, per-frame PSNR
invariant) is real:

- fmt="vraw": frames stored verbatim (lossless).
- fmt="vqnt": frames uniformly quantized to step 4 (lossy; per-frame
  PSNR ~= 46.9 dB >= the 40 dB invariant, same as the images table).

A real deployment swaps ``decode_frames`` for ffmpeg/pyav inside the same
mapInPandas batch loop (operators/video.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

VIDEO_SCHEMA = (
    "video_id string, bytes binary, w int, h int, n_frames int, fps int, "
    "fmt string, caption string"
)

QUANT_STEP = 4
_VID_MULT = np.uint64(2654435761)
_FRAME_MULT = np.uint64(40503)
_PIX_STEP = np.uint64(101)

_SIZES = np.array([16, 24], dtype=np.int64)
_N_FRAMES = np.array([24, 48, 96], dtype=np.int64)
_FPS = np.array([12, 24], dtype=np.int64)

_WORDS = np.array("pan zoom cut fade dolly track tilt crane wipe iris".split())


def source_frames(i: int, w: int, h: int, n_frames: int) -> np.ndarray:
    """Pre-encode ground-truth (n_frames, w*h*3) uint8 frames for row i:
    p[f, j] = (i*VM + f*FM + j*S) mod 251 — separable in (row, frame,
    pixel), so batch recomputation decomposes into shared residue vectors
    exactly like the image/audio truth."""
    k = w * h * 3
    f = np.arange(n_frames, dtype=np.uint64)[:, None]
    j = np.arange(k, dtype=np.uint64)[None, :]
    vals = (np.uint64(i) * _VID_MULT + f * _FRAME_MULT + j * _PIX_STEP) % np.uint64(251)
    return vals.astype(np.uint8)


def row_meta(i: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (w, h, n_frames, fps, fmt_is_lossy) for row indices."""
    i = np.asarray(i, dtype=np.int64)
    w = _SIZES[i % 2]
    h = _SIZES[(i // 2) % 2]
    n_frames = _N_FRAMES[i % 3]
    fps = _FPS[(i // 3) % 2]
    lossy = (i % 2) == 1
    return w, h, n_frames, fps, lossy


def encode_frames(frames: np.ndarray, lossy: bool) -> bytes:
    if lossy:
        frames = (frames // QUANT_STEP) * QUANT_STEP
    return frames.tobytes()


def decode_frames(data: bytes, w: int, h: int, n_frames: int, fmt: str) -> np.ndarray:
    """Decode the fake codec to (n_frames, w*h*3) uint8 (both fmts raw u8)."""
    if fmt not in ("vraw", "vqnt"):
        raise NotImplementedError(
            f"codec {fmt!r} needs a video library not present in this container; "
            "swap this branch for ffmpeg/pyav in deployment"
        )
    k = w * h * 3
    flat = np.frombuffer(data, dtype=np.uint8)[: n_frames * k]
    if flat.shape[0] != n_frames * k:
        # codec seam: a real decoder may deliver short data (truncated
        # stream, dropped trailing frames) — pad with zeros rather than
        # raise from reshape, matching the image/audio seam handling
        padded = np.zeros(n_frames * k, dtype=np.uint8)
        padded[: flat.shape[0]] = flat
        flat = padded
    return flat.reshape(n_frames, k)


def caption_for(i: np.ndarray) -> pd.Series:
    i = np.asarray(i, dtype=np.int64)
    wa = _WORDS[i % 10]
    wb = _WORDS[(i // 10) % 10]
    return pd.Series([f"video {int(k):010d} {a} {b}" for k, a, b in zip(i, wa, wb)])


def videos_pandas(start: int, end: int) -> pd.DataFrame:
    """Rows [start, end) of the videos table as a pandas DataFrame."""
    i = np.arange(start, end, dtype=np.int64)
    w, h, n_frames, fps, lossy = row_meta(i)
    data = [
        encode_frames(source_frames(int(k), int(wk), int(hk), int(nk)), bool(lk))
        for k, wk, hk, nk, lk in zip(i, w, h, n_frames, lossy)
    ]
    return pd.DataFrame(
        {
            "video_id": [f"vid{int(k):010d}" for k in i],
            "bytes": data,
            "w": w.astype(np.int32),
            "h": h.astype(np.int32),
            "n_frames": n_frames.astype(np.int32),
            "fps": fps.astype(np.int32),
            "fmt": np.where(lossy, "vqnt", "vraw"),
            "caption": caption_for(i),
        }
    )


def synthetic_videos(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Distributed generation: spark.range drives mapInPandas so each
    partition materializes only its own slice — scales to any n."""
    rng = spark.range(0, n, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield videos_pandas(int(ids.min()), int(ids.max()) + 1)

    return rng.mapInPandas(gen, schema=VIDEO_SCHEMA)
