"""Distributed linear-model training with exact integer arithmetic.

Model-based quality filtering is the step after rule-based filters in
a modern pretraining pipeline (FineWeb-Edu-style classifier scores);
this module provides the distributed TRAINING loop for the simplest
such model — a batch perceptron — in the repo's iterative-algorithm
pattern (kmeans_assign / pagerank_fixed_point / bpe_train):

- the ONLY corpus-sized work per round is ONE aggregate (the summed
  update of misclassified rows);
- the model state is a single broadcast row, attached in-row
  (crossJoin of a 1-row relation — the whitelisted scalar pattern);
- all arithmetic is INTEGER (features are counts, updates are exact
  bigint sums), so the whole trajectory is shuffle-order-proof and
  replays as chained CTEs in the DuckDB oracle.

A real deployment swaps the perceptron for a calibrated logistic
model; the plan shape — per-round "aggregate, broadcast, re-score" —
is identical, which is what this operator pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def perceptron_train(
    df: DataFrame,
    feat_cols: list[str],
    label_col: str,
    iters: int = 3,
) -> DataFrame:
    """Batch-perceptron training trajectory over integer features.

    Per round t (w starts at 0, b at 0): every row with margin
    ``y·(w·x + b) <= 0`` is misclassified and contributes ``y·x`` to
    Δw and ``y`` to Δb; the round emits the POST-update state. The
    update sum is one grouped-free aggregate (map-side combinable),
    the state one localCheckpoint'ed broadcast row per round — the
    same bounded-iteration shape as the Lloyd loop, linear in
    ``iters`` with no lineage growth.

    Returns one row per round: ``(round, n_miscl, b, w_<feat>...)``
    — exact BIGINTs, byte-stable under any partitioning.
    """
    k = len(feat_cols)
    spark = df.sparkSession
    x = df.select(
        F.col(label_col).cast("long").alias("_y"),
        *[
            F.col(feat_cols[j]).cast("long").alias(f"_x{j}")
            for j in range(k)
        ],
    )
    w_row = spark.createDataFrame(
        [tuple([0] * (k + 1))],
        ", ".join([f"w{j} long" for j in range(k)] + ["b long"]),
    )
    outs = []
    for t in range(1, iters + 1):
        margin = F.col("_y") * (
            sum(F.col(f"w{j}") * F.col(f"_x{j}") for j in range(k)) + F.col("b")
        )
        mis = F.when(margin <= 0, 1).otherwise(0)
        upd = (
            x.crossJoin(F.broadcast(w_row))
            .agg(
                F.coalesce(F.sum(mis), F.lit(0)).alias("_n"),
                *[
                    F.coalesce(
                        F.sum(F.when(margin <= 0, F.col("_y") * F.col(f"_x{j}"))),
                        F.lit(0),
                    ).alias(f"_d{j}")
                    for j in range(k)
                ],
                F.coalesce(
                    F.sum(F.when(margin <= 0, F.col("_y"))), F.lit(0)
                ).alias("_db"),
            )
        )
        w_row = (
            w_row.crossJoin(F.broadcast(upd))
            .select(
                *[
                    (F.col(f"w{j}") + F.col(f"_d{j}")).alias(f"w{j}")
                    for j in range(k)
                ],
                (F.col("b") + F.col("_db")).alias("b"),
                F.col("_n").alias("_n_prev"),
            )
            .localCheckpoint(eager=True)
        )
        outs.append(
            w_row.select(
                F.lit(t).alias("round"),
                F.col("_n_prev").cast("long").alias("n_miscl"),
                F.col("b"),
                *[
                    F.col(f"w{j}").alias(f"w_{feat_cols[j]}")
                    for j in range(k)
                ],
            )
        )
        w_row = w_row.drop("_n_prev")
    if not outs:  # iters=0: empty trajectory, not an IndexError
        schema = ", ".join(
            ["round int", "n_miscl long", "b long"]
            + [f"w_{c} long" for c in feat_cols]
        )
        return spark.createDataFrame([], schema)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
