"""Multimodal (image) column operators: decode / verify / feature-extract /
resize over the opaque ``bytes`` column of the images fact table.

The Spark-side plumbing — binary columns with typed metadata, mapInPandas
Arrow batching, schema evolution — is real and tested; the codec itself is
the deterministic fake from sources/images.py (the container has no image
libraries; a deployment swaps ``decode_pixels`` for libjpeg/PIL inside the
same batch loop).  Unsupported codecs raise NotImplementedError, clearly
gated per the build brief.

Within each Arrow batch, rows are grouped by (w, h, fmt) and processed as
(group, w*h*3) matrices — the only remaining per-row Python is the
``np.frombuffer`` view over each variable-length bytes cell (inherent to a
variable-size codec; a real decoder has the same shape).  Per-pixel math is
whole-matrix NumPy.

PSNR invariant (BASELINE.json): decoded pixels vs the ground-truth source
must be exact for lossless rows and >= 40 dB for lossy rows; caption passes
through unchanged (equality-checked).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from s2_geometry_library_java_spark.sources.images import (
    _PIX_MULT,
    _PIX_STEP,
    decode_pixels,
)

# Per-chunk working set budget: the integer temporaries (uint8 pixels,
# uint16 truth, int32 diff/square ~ 11 bytes/pixel) must stay cache-resident;
# rows-per-chunk adapts to the group's pixel count against this budget.
_CHUNK_BYTES = 8 << 20
_GROUP_CHUNK = 16  # floor (and the resize path's fixed chunk)

STATS_COLUMNS = [
    "image_id", "w", "h", "fmt", "caption",
    "mean_r", "mean_g", "mean_b", "std_all", "psnr",
]


def _source_pixels_batch(ids: np.ndarray, k: int) -> np.ndarray:
    """Vectorized sources.images.source_pixels for a batch of row ids:
    (len(ids), k) uint8 ground-truth pixels."""
    idx = np.arange(k, dtype=np.uint64)
    vals = (ids.astype(np.uint64)[:, None] * _PIX_MULT + idx[None, :] * _PIX_STEP) % np.uint64(251)
    return vals.astype(np.uint8)


def _truth_residues(ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Ground truth via modular decomposition: (i*M + j*S) % 251 ==
    ((i*M) % 251 + (j*S) % 251) % 251, so the per-pixel uint64 multiply+mod
    of _source_pixels_batch collapses to one shared per-position residue
    vector plus a per-row scalar — exact integers, bit-identical truth."""
    pos = ((np.arange(k, dtype=np.uint64) * _PIX_STEP) % np.uint64(251)).astype(np.int16)
    row = ((ids.astype(np.uint64) * _PIX_MULT) % np.uint64(251)).astype(np.int16)
    return row, pos


def image_stats_pandas(pdf: pd.DataFrame, passthrough: tuple[str, ...] = ()) -> pd.DataFrame:
    """Per-image decode + stats for one pandas batch (shared by the Spark
    operator and the driver-side golden oracle, so arithmetic is identical
    by construction).  ``passthrough`` columns (e.g. the phash geotag key)
    are copied to the output so a decode stage can feed a downstream join
    without re-scanning the source.

    All moments are exact-integer sums (every partial fits in int64, and
    every integer-valued float64 below 2^53 is exact), so psnr and the
    channel means are bit-identical to the former float64-matrix formulation
    at ~1/3 of the memory traffic; std uses E[x^2]-m^2 off the same exact
    sums (ulp-level difference vs two-pass np.std, same on both gate sides).
    """
    n = len(pdf)
    mean_r = np.empty(n)
    mean_g = np.empty(n)
    mean_b = np.empty(n)
    std_all = np.empty(n)
    psnr = np.empty(n)
    pdf = pdf.reset_index(drop=True)  # group indices become positions
    row_ids = pdf["image_id"].str.slice(3).astype(np.int64).to_numpy()
    byts = pdf["bytes"].to_numpy()
    for (w, h, fmt), grp in pdf.groupby(["w", "h", "fmt"], sort=False):
        w, h, fmt = int(w), int(h), str(fmt)
        k = w * h * 3
        idx = grp.index.to_numpy()
        chunk = max(_GROUP_CHUNK, _CHUNK_BYTES // (11 * k))
        row_res, pos_res = _truth_residues(row_ids[idx], k)
        for c0 in range(0, len(idx), chunk):
            sel = idx[c0 : c0 + chunk]
            m = len(sel)
            raw = [decode_pixels(byts[i], w, h, fmt) for i in sel]
            if all(r.shape[0] == k for r in raw):
                P = np.concatenate(raw).reshape(m, k)
            else:  # codec seam: a real decoder may pad (short) or crop (long)
                P = np.zeros((m, k), dtype=np.uint8)
                for r_i, r in enumerate(raw):
                    cut = r[:k]
                    P[r_i, : cut.shape[0]] = cut
            S = row_res[c0 : c0 + chunk, None] + pos_res[None, :]
            S -= (S >= 251) * np.int16(251)
            d = P.astype(np.int16)
            d -= S
            d32 = d.astype(np.int32)
            np.multiply(d32, d32, out=d32)  # max 255^2, exact in int32
            mse = d32.sum(axis=1, dtype=np.int64) / float(k)
            psnr[sel] = np.where(mse == 0.0, 999.0, 10.0 * np.log10(255.0**2 / np.maximum(mse, 1e-300)))
            npix = k // 3
            ch_sums = P.reshape(m, npix, 3).sum(axis=1, dtype=np.int64)
            mean_r[sel] = ch_sums[:, 0] / float(npix)
            mean_g[sel] = ch_sums[:, 1] / float(npix)
            mean_b[sel] = ch_sums[:, 2] / float(npix)
            p32 = P.astype(np.int32)
            np.multiply(p32, p32, out=p32)  # max 255^2, exact in int32
            mean_all = ch_sums.sum(axis=1) / float(k)
            var = p32.sum(axis=1, dtype=np.int64) / float(k) - mean_all * mean_all
            std_all[sel] = np.sqrt(np.maximum(var, 0.0))
    out = pdf[["image_id", "w", "h", "fmt", "caption", *passthrough]].reset_index(drop=True).copy()
    out["mean_r"] = mean_r
    out["mean_g"] = mean_g
    out["mean_b"] = mean_b
    out["std_all"] = std_all
    out["psnr"] = psnr
    return out


_PASSTHROUGH_TYPES = {"phash": "long"}


def image_stats(images: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Decode + per-image feature extraction (mean/std per channel) and PSNR
    vs the recomputable ground truth.  Infinite PSNR (lossless) -> 999.0.

    Deliberately NO repartition here: shuffling raw image bytes to "fix"
    parallelism costs more than it buys (measured 30s vs 5s on a 50k-row
    corpus) — decode parallelism comes from scan splits, and the session's
    arrow.maxBytesPerBatch cap (session.py) keeps each Python worker's
    materialized batch ~32 MB instead of the >1 GB a 65536-row batch of
    ~17 KB binary rows would be (that cap alone took this operator from
    ~400 us/img to ~100 us/img at 32 cores)."""
    extra = "".join(f", {c} {_PASSTHROUGH_TYPES[c]}" for c in passthrough)
    schema = (
        f"image_id string, w int, h int, fmt string, caption string{extra}, "
        "mean_r double, mean_g double, mean_b double, std_all double, psnr double"
    )

    def it(batches):
        for pdf in batches:
            if len(pdf):
                yield image_stats_pandas(pdf.reset_index(drop=True), passthrough)

    return images.mapInPandas(it, schema)


def resize_images(images: DataFrame, target: int = 16) -> DataFrame:
    """Nearest-neighbor resize to target x target: grouped by source size so
    the gather is one fancy-index per (w, h, fmt) chunk."""
    schema = "image_id string, bytes binary, w int, h int, fmt string, caption string"

    def it(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.reset_index(drop=True)
            byts = pdf["bytes"].to_numpy()
            out_bytes = [b""] * len(pdf)
            for (w, h, fmt), grp in pdf.groupby(["w", "h", "fmt"], sort=False):
                w, h = int(w), int(h)
                yi = (np.arange(target) * h // target).astype(np.int64)
                xi = (np.arange(target) * w // target).astype(np.int64)
                idx = grp.index.to_numpy()
                for c0 in range(0, len(idx), _GROUP_CHUNK):
                    sel = idx[c0 : c0 + _GROUP_CHUNK]
                    P = np.stack(
                        [decode_pixels(byts[i], w, h, str(fmt)) for i in sel]
                    ).reshape(len(sel), h, w, 3)
                    small = P[:, yi][:, :, xi]
                    for r, i in enumerate(sel):
                        out_bytes[i] = small[r].tobytes()
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "bytes": out_bytes,
                    "w": target,
                    "h": target,
                    "fmt": "raw",
                    "caption": pdf["caption"],
                }
            )

    return images.mapInPandas(it, schema)
