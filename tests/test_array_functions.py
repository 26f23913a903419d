"""Goldens for the X6-X10 waveform column functions."""

import math

from pyspark.sql import functions as F

from speech_data_pipeline_spark.functions.arrays import (
    mono_mixdown,
    normalize_wave,
    subtract_waves,
    trim_or_pad,
)


def one(spark, col):
    df = spark.createDataFrame(
        [([0.0, 1.0, 2.0, 3.0, 4.0, 5.0], [1.0, 3.0], 2)], ["w", "w2", "sr"]
    )
    return df.select(col.alias("out")).first().out


def test_trim_or_pad(spark):
    assert one(spark, trim_or_pad(F.col("w2"), 4)) == [1.0, 3.0, 0.0, 0.0]
    assert one(spark, trim_or_pad(F.col("w"), 3)) == [0.0, 1.0, 2.0]


def test_normalize_wave(spark):
    out = one(spark, normalize_wave(F.col("w2")))
    # demeaned [-1, 1], peak 1 -> scaled to [-0.95, 0.95]
    assert math.isclose(out[0], -0.95) and math.isclose(out[1], 0.95)
    flat = spark.createDataFrame([([2.0, 2.0],)], ["w2"])
    out = flat.select(normalize_wave(F.col("w2")).alias("o")).first().o
    assert out == [0.0, 0.0]


def test_subtract_and_mixdown(spark):
    assert one(spark, subtract_waves(F.col("w2"), F.col("w2"))) == [0.0, 0.0]
    assert one(spark, mono_mixdown(F.col("w2"), F.col("w2"))) == [1.0, 3.0]


def test_repeat_pad_to(spark):
    """Mirrors dnsmos.py:131-134: double until >= n, keep the full
    doubled length (2 -> 4 -> 8 for L=2, n=5); clips >= n untouched."""
    from speech_data_pipeline_spark.functions.arrays import repeat_pad_to

    assert one(spark, repeat_pad_to(F.col("w2"), 5)) == [1.0, 3.0] * 4
    # clip already >= n: untouched (reference never truncates here)
    assert one(spark, repeat_pad_to(F.col("w"), 3)) == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]


def test_repeat_pad_to_matches_reference_doubling(spark):
    import numpy as np

    from speech_data_pipeline_spark.functions.arrays import repeat_pad_to

    for L, n in [(1, 1), (2, 2), (2, 3), (3, 10), (7, 8), (5, 5), (10, 3)]:
        ref = np.arange(L, dtype=float)
        while len(ref) < n:
            ref = np.append(ref, ref)
        df = spark.createDataFrame([(np.arange(L, dtype=float).tolist(),)], ["v"])
        got = df.select(repeat_pad_to(F.col("v"), n).alias("o")).first().o
        assert got == ref.tolist(), (L, n)


def test_polyval_horner(spark):
    from speech_data_pipeline_spark.functions.arrays import polyval

    # 2x^2 + 3x + 4 at x=5 -> 69
    df = spark.createDataFrame([(5.0,)], ["x"])
    assert df.select(polyval(F.col("x"), [2, 3, 4]).alias("y")).first().y == 69.0
