"""Pure-NumPy DSP kernels: Hann window, framing, X11 resample.

The reference reaches for ``librosa.resample`` at
``modules/models/dnsmos.py:126``, ``modules/models/silero_vad.py:161``
and ``modules/speaker_rematch.py:17-23``. librosa is not a dependency:
resampling is pure math, implemented here on ``np.fft`` only. These are NumPy-level helpers meant to run inside
Arrow-batched kernels; nothing here touches Spark.

Conventions:

- periodic Hann window (``torch.stft`` and librosa both default to
  ``sym=False``);
- resample is the Fourier method (spectrum truncate/zero-pad), exact
  for band-limited signals.
"""

from __future__ import annotations

import numpy as np


def hann(n_fft: int) -> np.ndarray:
    """Periodic Hann window (``sym=False`` — the STFT convention)."""
    return 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n_fft) / n_fft)


def frame_signal(x: np.ndarray, n_fft: int, hop: int) -> np.ndarray:
    """Slice ``x`` into overlapping, uncentered frames ``(n_frames, n_fft)``;
    a signal shorter than one frame is zero-padded to one frame."""
    x = np.asarray(x, dtype=np.float64)
    if len(x) < n_fft:
        x = np.pad(x, (0, n_fft - len(x)))
    n_frames = 1 + (len(x) - n_fft) // hop
    frames = np.lib.stride_tricks.sliding_window_view(x, n_fft)[::hop]
    return np.ascontiguousarray(frames[:n_frames])


def resample(x: np.ndarray, orig_sr: int, target_sr: int) -> np.ndarray:
    """Fourier-method resample to ``round(len(x) * target/orig)``
    samples (X11; the engine-side analog of ``librosa.resample`` at
    ``modules/models/dnsmos.py:126``).

    Band-limited interpolation: truncate (downsample) or zero-pad
    (upsample) the rfft spectrum, with the shared Nyquist bin split to
    keep the result real-symmetric and energy-consistent.
    """
    x = np.asarray(x, dtype=np.float64)
    if orig_sr == target_sr or len(x) == 0:
        return x.copy()
    n = len(x)
    m = int(round(n * target_sr / orig_sr))
    if m <= 0:
        return np.zeros(0)
    X = np.fft.rfft(x)
    k_out = m // 2 + 1
    Y = np.zeros(k_out, dtype=np.complex128)
    k = min(len(X), k_out)
    Y[:k] = X[:k]
    # shared Nyquist-edge bin (scipy.signal.resample convention):
    if m % 2 == 0 and m < n:
        # downsample onto an even length: the output Nyquist bin folds
        # the input's +-m/2 pair -> X[m/2] + conj(X[m/2]) = 2*Re
        Y[m // 2] = 2.0 * Y[m // 2].real
    elif k == len(X) and k < k_out and n % 2 == 0:
        # upsample from an even length: the input's single folded
        # Nyquist bin splits across +-n/2 in the wider spectrum
        Y[k - 1] = 0.5 * Y[k - 1]
    return np.fft.irfft(Y, n=m) * (m / n)
