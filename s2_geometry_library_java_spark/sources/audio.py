"""Synthetic ``audio`` fact table — the audio sibling of sources/images.py.

Schema: audio_id string, bytes binary, sample_rate int, channels int,
n_samples int, fmt string, caption string.  Every column is a pure function
of the row index, so the table regenerates identically at any scale — no
external data.

Codec note: the container has no audio libraries, so per the build brief the
*codec* is a deterministic fake while all Spark-side plumbing (binary
column, typed metadata, Arrow batching, SNR invariant) is real:

- fmt="pcm16": bytes are the little-endian int16 sample array itself
  (lossless).
- fmt="qnt16": bytes are the samples uniformly quantized to step 16 (lossy;
  SNR ~= 66 dB >= the 40 dB invariant, the audio analog of the images
  table's PSNR rule).

A real deployment swaps ``decode_samples`` for soundfile/ffmpeg inside the
same mapInPandas batch loop (operators/audio.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

AUDIO_SCHEMA = (
    "audio_id string, bytes binary, sample_rate int, channels int, "
    "n_samples int, fmt string, caption string"
)

QUANT_STEP = 16
_AUD_MULT = np.uint64(2654435761)
_AUD_STEP = np.uint64(193)
_AUD_MOD = np.uint64(65521)  # largest prime < 2^16; values fit int16 after centering
_AUD_HALF = np.int32(32760)

_N_SAMPLES = np.array([2048, 3072, 4096], dtype=np.int64)
_RATES = np.array([8000, 16000], dtype=np.int64)

_WORDS = np.array("chirp tone noise sweep pulse hum click burst drone ping".split())


def source_samples(i: int, n: int) -> np.ndarray:
    """Pre-encode ground-truth int16 samples for row i (pure function):
    s[t] = ((i*M + t*S) mod 65521) - 32760."""
    t = np.arange(n, dtype=np.uint64)
    vals = (np.uint64(i) * _AUD_MULT + t * _AUD_STEP) % _AUD_MOD
    return (vals.astype(np.int32) - _AUD_HALF).astype(np.int16)


def row_meta(i: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized (n_samples, sample_rate, fmt_is_lossy) for row indices."""
    i = np.asarray(i, dtype=np.int64)
    n = _N_SAMPLES[i % 3]
    rate = _RATES[(i // 3) % 2]
    lossy = (i % 2) == 1
    return n, rate, lossy


def encode_samples(smp: np.ndarray, lossy: bool) -> bytes:
    if lossy:
        # numpy int floor division rounds toward -inf: deterministic on
        # negative samples, identical in the decode-side truth comparison
        smp = ((smp.astype(np.int32) // QUANT_STEP) * QUANT_STEP).astype(np.int16)
    return smp.astype("<i2").tobytes()


def decode_samples(data: bytes, n: int, fmt: str) -> np.ndarray:
    """Decode the fake codec back to int16 samples (both fmts store LE i2)."""
    if fmt not in ("pcm16", "qnt16"):
        raise NotImplementedError(
            f"codec {fmt!r} needs an audio library not present in this container; "
            "swap this branch for soundfile/ffmpeg in deployment"
        )
    return np.frombuffer(data, dtype="<i2")[:n]


def caption_for(i: np.ndarray) -> pd.Series:
    i = np.asarray(i, dtype=np.int64)
    wa = _WORDS[i % 10]
    wb = _WORDS[(i // 10) % 10]
    return pd.Series([f"audio {int(k):010d} {a} {b}" for k, a, b in zip(i, wa, wb)])


def audio_pandas(start: int, end: int) -> pd.DataFrame:
    """Rows [start, end) of the audio table as a pandas DataFrame."""
    i = np.arange(start, end, dtype=np.int64)
    n, rate, lossy = row_meta(i)
    data = [
        encode_samples(source_samples(int(k), int(nk)), bool(lk))
        for k, nk, lk in zip(i, n, lossy)
    ]
    return pd.DataFrame(
        {
            "audio_id": [f"aud{int(k):010d}" for k in i],
            "bytes": data,
            "sample_rate": rate.astype(np.int32),
            "channels": np.full(len(i), 1, dtype=np.int32),
            "n_samples": n.astype(np.int32),
            "fmt": np.where(lossy, "qnt16", "pcm16"),
            "caption": caption_for(i),
        }
    )


def synthetic_audio(
    spark: SparkSession, n: int, partitions: int | None = None
) -> DataFrame:
    """Distributed generation: spark.range drives mapInPandas so each
    partition materializes only its own slice — scales to any n."""
    rng = spark.range(0, n, numPartitions=partitions)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield audio_pandas(int(ids.min()), int(ids.max()) + 1)

    return rng.mapInPandas(gen, schema=AUDIO_SCHEMA)
