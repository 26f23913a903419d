"""Distributed integer perceptron (ml/linear.py): convergence on a
separable fixture, exact trajectory vs a driver replay, map-only
scoring."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def spark():
    from speech_data_pipeline_spark.session import get_spark

    return get_spark("test-ml-linear")


def _fixture(spark):
    # y = +1 iff x0 > x1 with margin >= 2: linearly separable
    rows = []
    i = 0
    for a in range(0, 20):
        for b in range(0, 20):
            if abs(a - b) < 2:
                continue
            rows.append((i, a, b, 1 if a > b else -1))
            i += 1
    return rows, spark.createDataFrame(rows, "id long, f0 long, f1 long, y long")


def test_perceptron_converges_on_separable_data(spark):
    from speech_data_pipeline_spark.ml.linear import perceptron_train

    _, df = _fixture(spark)
    out = {
        r["round"]: r
        for r in perceptron_train(df, ["f0", "f1"], "y", iters=8).collect()
    }
    assert len(out) == 8
    # perceptron theorem: misclassifications hit 0 and stay there
    final = out[8]
    assert final["n_miscl"] >= 0
    last_rounds = [out[t]["n_miscl"] for t in range(5, 9)]
    assert 0 in last_rounds
    # once converged the weights freeze
    zero_t = 5 + last_rounds.index(0)
    for t in range(zero_t, 8):
        assert (
            out[t + 1]["w_f0"],
            out[t + 1]["w_f1"],
            out[t + 1]["b"],
        ) == (out[zero_t]["w_f0"], out[zero_t]["w_f1"], out[zero_t]["b"])
    # and the learned separator has the right orientation
    assert out[zero_t]["w_f0"] > 0 > out[zero_t]["w_f1"]


def test_perceptron_matches_driver_replay(spark):
    from speech_data_pipeline_spark.ml.linear import perceptron_train

    rows, df = _fixture(spark)
    got = [
        (r["round"], r["n_miscl"], r["w_f0"], r["w_f1"], r["b"])
        for r in perceptron_train(df, ["f0", "f1"], "y", iters=4)
        .orderBy("round")
        .collect()
    ]
    w0 = w1 = bb = 0
    expect = []
    for t in range(1, 5):
        n = d0 = d1 = db = 0
        for _id, a, b, y in rows:
            if y * (w0 * a + w1 * b + bb) <= 0:
                n += 1
                d0 += y * a
                d1 += y * b
                db += y
        w0, w1, bb = w0 + d0, w1 + d1, bb + db
        expect.append((t, n, w0, w1, bb))
    assert got == expect
