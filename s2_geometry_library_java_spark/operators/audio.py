"""Multimodal (audio) column operators — the audio sibling of
operators/images.py.

The Spark-side plumbing — binary sample column with typed metadata
(sample_rate, channels, n_samples, fmt), mapInPandas Arrow batching,
grouped-matrix NumPy — is real; the codec is the deterministic fake from
sources/audio.py (the container has no audio libraries; a deployment swaps
``decode_samples`` for soundfile/ffmpeg inside the same batch loop).

Within each Arrow batch, rows group by (n_samples, fmt) and process as
(group, n) int32 matrices; windowed features reshape to
(group, n_windows, window) — whole-matrix NumPy, no per-sample Python.
All moments are exact-integer sums (int32 squares <= 32760^2 fit, partials
in int64), so every derived float is bit-identical between the distributed
operator and the driver-side golden recompute that shares this helper.

SNR invariant (the audio analog of the images PSNR rule): decoded samples
vs the recomputable ground truth must be exact for lossless rows (snr
pinned to 999.0) and >= 40 dB for lossy rows; caption passes through
unchanged (equality-checked).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from s2_geometry_library_java_spark.sources.audio import (
    _AUD_HALF,
    _AUD_MOD,
    _AUD_MULT,
    _AUD_STEP,
    decode_samples,
)

WINDOW = 512


def _truth_residues(ids: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Ground truth via modular decomposition (the images operator's trick):
    (i*M + t*S) % mod == ((i*M) % mod + (t*S) % mod) % mod, so per-row
    scalar + shared per-position vector replace a (rows x samples) uint64
    multiply — exact integers, bit-identical truth."""
    pos = ((np.arange(n, dtype=np.uint64) * _AUD_STEP) % _AUD_MOD).astype(np.int32)
    row = ((ids.astype(np.uint64) * _AUD_MULT) % _AUD_MOD).astype(np.int32)
    return row, pos


def audio_stats_pandas(pdf: pd.DataFrame, window_ms: int | None = None) -> pd.DataFrame:
    """Per-file decode + windowed features for one pandas batch (shared by
    the Spark operator and the driver-side golden oracle, so arithmetic is
    identical by construction).  ``window_ms=None`` windows by the fixed
    WINDOW sample count; a millisecond value windows by
    sample_rate*window_ms/1000 samples (grouping then also keys on
    sample_rate), clamped to [1, n_samples] so at least one window exists."""
    m = len(pdf)
    n_windows = np.empty(m, dtype=np.int32)
    rms = np.empty(m)
    zcr = np.empty(m)
    max_win_rms = np.empty(m)
    mean_win_rms = np.empty(m)
    flux = np.empty(m)
    snr = np.empty(m)
    pdf = pdf.reset_index(drop=True)
    row_ids = pdf["audio_id"].str.slice(3).astype(np.int64).to_numpy()
    byts = pdf["bytes"].to_numpy()
    group_keys = ["n_samples", "fmt"] + (["sample_rate"] if window_ms is not None else [])
    for key, grp in pdf.groupby(group_keys, sort=False):
        n, fmt = int(key[0]), str(key[1])
        if window_ms is None:
            win = WINDOW
        else:
            win = min(max(1, int(key[2]) * window_ms // 1000), n)
        idx = grp.index.to_numpy()
        raw = [decode_samples(byts[i], n, fmt) for i in idx]
        if all(s.shape[0] == n for s in raw):
            S = np.stack(raw).astype(np.int32)
        else:  # codec seam: a real decoder may pad (short) or crop (long)
            S = np.zeros((len(idx), n), dtype=np.int32)
            for r_i, s in enumerate(raw):
                cut = s[:n]
                S[r_i, : cut.shape[0]] = cut
        sq = S * S  # <= 32760^2, exact in int32
        sumsq = sq.sum(axis=1, dtype=np.int64)
        rms[idx] = np.sqrt(sumsq / float(n))
        zc = ((S[:, :-1] * S[:, 1:]) < 0).sum(axis=1, dtype=np.int64)
        zcr[idx] = zc / float(n - 1)
        nw = n // win
        n_windows[idx] = nw
        wsq = sq[:, : nw * win].reshape(len(idx), nw, win).sum(axis=2, dtype=np.int64)
        wrms = np.sqrt(wsq / float(win))
        max_win_rms[idx] = wrms.max(axis=1)
        mean_win_rms[idx] = wrms.mean(axis=1)
        d = np.abs(np.diff(S, axis=1)).sum(axis=1, dtype=np.int64)
        flux[idx] = d / float(n - 1)
        row_res, pos_res = _truth_residues(row_ids[idx], n)
        T = row_res[:, None] + pos_res[None, :]
        T -= (T >= int(_AUD_MOD)) * np.int32(_AUD_MOD)
        T -= _AUD_HALF
        e = T - S
        esq = (e * e).sum(axis=1, dtype=np.int64)
        tsq = (T * T).sum(axis=1, dtype=np.int64)  # truth power, not decoded
        snr[idx] = np.where(
            esq == 0,
            999.0,
            10.0 * np.log10(tsq / np.maximum(esq, 1).astype(np.float64)),
        )
    out = pdf[["audio_id", "sample_rate", "channels", "n_samples", "fmt", "caption"]].copy()
    out["n_windows"] = n_windows
    out["rms"] = rms
    out["zcr"] = zcr
    out["max_win_rms"] = max_win_rms
    out["mean_win_rms"] = mean_win_rms
    out["flux"] = flux
    out["snr"] = snr
    return out


def audio_stats(audio: DataFrame, window_ms: int | None = None) -> DataFrame:
    """Decode + per-file windowed feature extraction (RMS, zero-crossing
    rate, per-window RMS extremes, spectral-flux proxy) and SNR vs the
    recomputable ground truth.  Exact for lossless rows (snr -> 999.0).
    ``window_ms=None`` uses the fixed WINDOW-sample window; a millisecond
    value windows each row by its own sample_rate (see audio_stats_pandas).

    Same scale posture as image_stats: NO repartition (decode parallelism
    comes from scan splits; shuffling raw bytes costs more than it buys)
    and the session's arrow.maxBytesPerBatch cap keeps per-worker batches
    memory-bounded for wide binary rows."""
    schema = (
        "audio_id string, sample_rate int, channels int, n_samples int, "
        "fmt string, caption string, n_windows int, rms double, zcr double, "
        "max_win_rms double, mean_win_rms double, flux double, snr double"
    )

    def it(batches):
        for pdf in batches:
            if len(pdf):
                yield audio_stats_pandas(pdf.reset_index(drop=True), window_ms)

    return audio.mapInPandas(it, schema)
