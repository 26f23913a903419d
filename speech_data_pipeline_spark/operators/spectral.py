"""Spectral DataFrame operator: per-frame FFT energy, an Arrow-batched
wrapper over the pure-NumPy DSP core in
:mod:`speech_data_pipeline_spark.ml.dsp`.

It is a per-row array transform with no cross-row state, so it is one
``mapInPandas`` pass: no shuffle, embarrassingly parallel, and the
scan's column pruning still applies (the kernel asks only for the
columns it needs).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from speech_data_pipeline_spark.ml import dsp


FRAME_ENERGY_SCHEMA = "vec_id bigint, frame_idx int, frame_energy double"


def stft_frame_energy(
    df: DataFrame,
    n_fft: int,
    hop: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-frame spectral energy from the one-sided FFT, for the
    Parseval cross-check query: ``(|X_0|² + |X_{N/2}|² +
    2·Σ_{0<k<N/2}|X_k|²) / N`` equals the time-domain windowed frame
    energy ``Σ (w[n]·x[n])²`` — which a SQL engine *can* compute, so
    the FFT path gets a genuine value-level oracle.

    Uncentered framing (no reflect pad) keeps the SQL replay a plain
    windowed slice.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = dsp.hann(n_fft)
        for pdf in batches:
            rows = []
            for vid, vec in zip(pdf[id_col], pdf[vec_col]):
                x = np.asarray(vec, dtype=np.float64)
                if len(x) < n_fft:
                    continue
                frames = dsp.frame_signal(x, n_fft, hop)
                S = np.fft.rfft(frames * w, axis=1)
                p = np.abs(S) ** 2
                if n_fft % 2 == 0:  # last bin is the (unpaired) Nyquist bin
                    onesided = p[:, 0] + p[:, -1] + 2.0 * p[:, 1:-1].sum(axis=1)
                else:
                    onesided = p[:, 0] + 2.0 * p[:, 1:].sum(axis=1)
                energy = onesided / n_fft
                for i, e in enumerate(energy):
                    rows.append((int(vid), i, float(e)))
            yield pd.DataFrame(
                rows, columns=["vec_id", "frame_idx", "frame_energy"]
            )

    return df.mapInPandas(kernel, schema=FRAME_ENERGY_SCHEMA)

