"""Audio modality (the round-2 stub promoted to a real operator): synthetic
PCM table + codec invariants, windowed features vs a scalar recompute, and
the operator/golden-helper parity the audio_stats gate relies on."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.audio import (
    WINDOW,
    audio_stats,
    audio_stats_pandas,
)
from s2_geometry_library_java_spark.sources.audio import (
    QUANT_STEP,
    audio_pandas,
    caption_for,
    decode_samples,
    source_samples,
    synthetic_audio,
)


@pytest.fixture(scope="module")
def audio(spark):
    return synthetic_audio(spark, 300, partitions=4).cache()


def test_audio_deterministic_and_schema(spark, audio):
    assert audio.count() == 300
    assert audio.columns == [
        "audio_id", "bytes", "sample_rate", "channels", "n_samples", "fmt", "caption",
    ]
    again = synthetic_audio(spark, 300, partitions=2)
    a = audio.select("audio_id", "caption", F.md5("bytes").alias("b")).collect()
    b = again.select("audio_id", "caption", F.md5("bytes").alias("b")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_audio_payload_invariants(audio):
    """The SNR analog of the images PSNR rule: lossless rows decode exactly
    (snr pinned 999.0), lossy rows >= 40 dB; caption equality end to end."""
    stats = audio_stats(audio).collect()
    assert len(stats) == 300
    idx = np.arange(300, dtype=np.int64)
    captions = dict(zip([f"aud{i:010d}" for i in idx], caption_for(idx)))
    for r in stats:
        if r["fmt"] == "pcm16":
            assert r["snr"] == 999.0
        else:
            assert r["fmt"] == "qnt16" and r["snr"] >= 40.0
        assert r["caption"] == captions[r["audio_id"]]
        assert r["n_windows"] == r["n_samples"] // WINDOW


def test_audio_features_match_scalar_recompute(audio):
    """Windowed features from the grouped-matrix batch path must equal a
    straightforward per-row scalar recomputation."""
    rows = {r["audio_id"]: r for r in audio_stats(audio.limit(40)).collect()}
    src = {r["audio_id"]: r for r in audio.limit(40).collect()}
    for aid, r in rows.items():
        i = int(aid[3:])
        n = r["n_samples"]
        s = decode_samples(bytes(src[aid]["bytes"]), n, r["fmt"]).astype(np.int64)
        truth = source_samples(i, n).astype(np.int64)
        if r["fmt"] == "qnt16":
            assert np.array_equal(s, (truth // QUANT_STEP) * QUANT_STEP)
        else:
            assert np.array_equal(s, truth)
        assert r["rms"] == pytest.approx(np.sqrt((s * s).sum() / n), abs=0)
        assert r["zcr"] == pytest.approx(((s[:-1] * s[1:]) < 0).sum() / (n - 1), abs=0)
        assert r["flux"] == pytest.approx(np.abs(np.diff(s)).sum() / (n - 1), abs=0)
        w = s[: (n // WINDOW) * WINDOW].reshape(-1, WINDOW)
        wrms = np.sqrt((w * w).sum(axis=1) / WINDOW)
        assert r["max_win_rms"] == pytest.approx(wrms.max(), abs=0)
        err = truth - s
        if err.any():
            snr = 10.0 * np.log10((truth * truth).sum() / (err * err).sum())
            assert r["snr"] == pytest.approx(snr, abs=1e-9)


def test_audio_operator_matches_golden_helper(audio):
    """The distributed operator and the flat golden helper (the gate's two
    sides) must agree bit for bit on every output column."""
    got = (
        audio_stats(audio)
        .toPandas()
        .sort_values("audio_id")
        .reset_index(drop=True)
    )
    expect = audio_stats_pandas(audio_pandas(0, 300)).sort_values("audio_id").reset_index(drop=True)
    for c in ["rms", "zcr", "max_win_rms", "mean_win_rms", "flux", "snr"]:
        assert np.array_equal(got[c].to_numpy(), expect[c].to_numpy()), c
    assert (got["n_windows"].to_numpy() == expect["n_windows"].to_numpy()).all()


def test_unknown_audio_codec_gated():
    with pytest.raises(NotImplementedError):
        decode_samples(b"\x00\x00", 1, "mp3")


def test_audio_features_honor_window_ms(spark, audio):
    """window_ms windows by each row's own sample rate (25 ms at 8 kHz =
    200 samples, at 16 kHz = 400), not the fixed 512-sample WINDOW."""
    sub = audio.limit(30)
    rows = audio_stats(sub, window_ms=25).collect()
    assert rows
    meta = {r["audio_id"]: r for r in sub.collect()}
    for r in rows:
        win = min(max(1, r["sample_rate"] * 25 // 1000), r["n_samples"])
        assert win != WINDOW  # the fixture rates make ms-windows distinct
        assert r["n_windows"] == r["n_samples"] // win
    # spot-check a lossless row's per-window RMS against a scalar recompute
    r = next(x for x in rows if x["fmt"] == "pcm16")
    m = meta[r["audio_id"]]
    s = decode_samples(bytes(m["bytes"]), m["n_samples"], m["fmt"]).astype(np.int64)
    win = min(max(1, m["sample_rate"] * 25 // 1000), m["n_samples"])
    nw = m["n_samples"] // win
    wr = np.sqrt((s[: nw * win].reshape(nw, win) ** 2).sum(axis=1) / float(win))
    assert r["max_win_rms"] == pytest.approx(wr.max(), rel=0, abs=0)
    assert r["mean_win_rms"] == pytest.approx(wr.mean())


def test_short_decode_codec_seam():
    """A decoder returning fewer samples than n_samples (truncated stream)
    pads instead of crashing the whole Arrow batch — the same seam contract
    as images.py."""
    pdf = audio_pandas(0, 4)
    pdf.loc[1, "bytes"] = pdf.loc[1, "bytes"][:100]  # 50 of n_samples samples
    out = audio_stats_pandas(pdf)
    assert len(out) == 4
    assert np.isfinite(out["rms"].to_numpy()).all()
    # the truncated lossy row's error now includes the zero-padding tail
    assert out.loc[1, "snr"] < out.loc[3, "snr"]
