"""Waveform/array column functions (SURVEY.md §2.8 X6-X10).

All higher-order built-ins — JVM-side, codegen'd, no UDFs:

- ``trim_or_pad``    — X7: force an array to exactly n elements
- ``normalize_wave`` — X8: demean + peak-scale to 0.95
- ``subtract_waves`` — X9: element-wise a - b (mixture - vocal)
- ``mono_mixdown``   — X10: channel mean
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def trim_or_pad(wave: Column, n: int, pad_value: float = 0.0) -> Column:
    """X7 (separation_filter.py:23-29): truncate to n or right-pad."""
    padded = F.concat(
        wave, F.array_repeat(F.lit(pad_value), F.greatest(F.lit(n) - F.size(wave), F.lit(0)))
    )
    return F.slice(padded, 1, n)


def normalize_wave(wave: Column, peak: float = 0.95) -> Column:
    """X8 (utils.py:58-62): demean then scale so max |x| == peak.

    Zero/constant waveforms come back as zeros (no divide-by-zero).
    """
    n = F.size(wave)
    mean = F.aggregate(wave, F.lit(0.0), lambda a, x: a + x) / F.greatest(n, F.lit(1))
    demeaned = F.transform(wave, lambda x: x - mean)
    maxabs = F.array_max(F.transform(demeaned, F.abs))
    return F.when(
        maxabs > 0,
        F.transform(demeaned, lambda x: x * F.lit(peak) / maxabs),
    ).otherwise(F.transform(wave, lambda x: F.lit(0.0)))


def subtract_waves(a: Column, b: Column) -> Column:
    """X9 (separation_filter.py:71): mixture - vocal = nonvocal."""
    return F.zip_with(a, b, lambda x, y: x - y)


def mono_mixdown(left: Column, right: Column) -> Column:
    """X10 (speaker_rematch.py:18-19): two channels → mean channel."""
    return F.zip_with(left, right, lambda x, y: (x + y) / F.lit(2.0))


def repeat_pad_to(wave: Column, n: int) -> Column:
    """W5 prelude (reference modules/models/dnsmos.py:128-134): double
    the buffer (``audio = np.append(audio, audio)``) until its length
    reaches ``n``. The result keeps the **full doubled length**
    ``L * 2^ceil(log2(n/L))`` — not cut to ``n`` — because the
    reference computes its hop count from the doubled buffer, so a
    pad-to-exactly-n prelude would under-produce hops on short clips.
    Clips already ≥ ``n`` pass through unchanged (the reference never
    truncates here).

    Doubling count via exact integer bit math (no float log2): the
    smallest ``2^t > floor((n-1)/L)`` is ``2^bit_length(p)``.
    """
    size = F.greatest(F.size(wave), F.lit(1))
    p = F.floor((F.lit(n) - F.lit(1)) / size).cast("long")
    t = F.when(p <= 0, F.lit(0)).otherwise(F.length(F.bin(p))).cast("int")
    reps = F.pow(F.lit(2.0), t).cast("int")  # 2^t exact in double for t<=53
    return F.flatten(F.array_repeat(wave, reps))


def polyval(x: Column, coeffs: list[float]) -> Column:
    """X14 (reference modules/models/dnsmos.py:78-104): evaluate a
    polynomial with the given coefficients (highest degree first) via
    Horner's rule — plain column arithmetic, no UDF."""
    acc: Column = F.lit(float(coeffs[0]))
    for c in coeffs[1:]:
        acc = acc * x + F.lit(float(c))
    return acc
