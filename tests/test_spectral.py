"""X11 resample in the pure-NumPy DSP core, and the Spark spectral operators."""

import numpy as np
import pytest

from speech_data_pipeline_spark.ml import dsp

SR = 16000


# ---------------------------------------------------------------- dsp core


def test_resample_preserves_tone_frequency():
    f0 = 440.0
    x = np.sin(2 * np.pi * f0 * np.arange(SR) / SR)
    for target in (8000, 22050, 32000):
        y = dsp.resample(x, SR, target)
        assert len(y) == int(round(len(x) * target / SR))
        spec = np.abs(np.fft.rfft(y))
        peak_hz = np.argmax(spec) * target / len(y)
        assert abs(peak_hz - f0) < 2.0, target
    same = dsp.resample(x, SR, SR)
    assert np.array_equal(same, x)


def test_resample_downsample_removes_high_band():
    # 7 kHz tone cannot survive resampling to 8 kHz (Nyquist 4 kHz)
    x = np.sin(2 * np.pi * 7000.0 * np.arange(SR) / SR)
    y = dsp.resample(x, SR, 8000)
    assert np.sqrt(np.mean(y**2)) < 1e-6


# ---------------------------------------------------------- Spark operators


def test_stft_frame_energy_matches_parseval(spark):
    from speech_data_pipeline_spark.operators.spectral import stft_frame_energy

    rng = np.random.default_rng(2)
    vecs = [(i, rng.standard_normal(64).tolist()) for i in range(5)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = stft_frame_energy(df, n_fft=16, hop=8).collect()
    assert len(out) == 5 * 7  # (64-16)/8 + 1 frames each
    w = dsp.hann(16)
    for r in out:
        x = np.asarray(vecs[r.vec_id][1])[r.frame_idx * 8 : r.frame_idx * 8 + 16]
        direct = float(np.sum((w * x) ** 2))
        assert r.frame_energy == pytest.approx(direct, abs=1e-10)
    # shorter than one frame: zero-padded to exactly one frame
    assert dsp.frame_signal(np.zeros(0), 8, 2).shape == (1, 8)


def test_resample_nyquist_fold_exact():
    """Review-found defect: downsampling onto an even length must fold
    the ±m/2 pair into the output Nyquist bin at FULL amplitude
    (scipy.signal.resample convention), and even-length round-trips
    must be exact."""
    t = np.arange(8)
    y = dsp.resample(np.cos(2 * np.pi * 2 * t / 8), 2, 1)
    assert np.allclose(y, [1.0, -1.0, 1.0, -1.0])
    rng = np.random.default_rng(3)
    for n in (8, 9, 12):
        x = rng.standard_normal(n)
        rt = dsp.resample(dsp.resample(x, 1, 2), 2, 1)
        assert np.abs(rt - x).max() < 1e-12
