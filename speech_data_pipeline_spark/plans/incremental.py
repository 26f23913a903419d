"""Incremental / idempotent stage execution (SURVEY.md §2.9, J9, A7).

The reference's only recovery mechanism is ``skip_if_exist`` (per-file
output-existence checks in every stage) plus per-file try/except
counters. The engine's equivalents:

- ``pending``      — ``inputs LEFT ANTI JOIN done`` on ``audio_id``: the
  incremental-processing primitive. One scan of the done-keys column
  (column-pruned), broadcast when small.
- ``run_incremental_stage`` — compute only pending rows, append results
  to the stage table. Failures are **rows, not control flow**: the
  stage function may emit a ``status``/``error`` column pair, and a
  re-run picks keys whose rows are not ``'ok'`` up again.
- ``stage_counters`` — the A7 completed/failed report as one grouped
  aggregate instead of per-file exception counting.

Each stage evaluates ``inputs`` twice: the emptiness check of its
pending rows, then the stage itself. ``plans/pipeline.run_pipeline``
persists its decoded audio for the whole call, so both, in all five
stages, read one decoded copy.

At 100 TB the done-set is a Delta/parquet table partitioned like the
input; the anti-join prunes to key columns and broadcasts when the
done-set fits (the common incremental case: small delta of new files).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def pending(inputs: DataFrame, done: DataFrame | None) -> DataFrame:
    """Rows of ``inputs`` whose ``audio_id`` is absent from ``done`` (J9).

    Done rows whose ``status != 'ok'`` do not count as done, so failed
    keys re-enter the work set.
    """
    if done is None:
        return inputs
    if "status" in done.columns:
        done = done.where(F.col("status") == "ok")
    return inputs.join(done.select("audio_id").distinct(), "audio_id", "left_anti")


def stage_counters(stage_out: DataFrame, key: str = "audio_id") -> DataFrame:
    """A7: per-status distinct-key counts for a stage table."""
    return (
        stage_out.groupBy("status")
        .agg(F.countDistinct(key).alias("n_keys"), F.count(F.lit(1)).alias("n_rows"))
        .orderBy("status")
    )


def run_incremental_stage(
    spark: SparkSession,
    inputs: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    out_path: str,
) -> DataFrame:
    """Run ``stage_fn`` over not-yet-done inputs; append to ``out_path``.

    ``stage_fn`` must return a DataFrame containing ``audio_id`` and may
    include ``status``/``error`` columns (defaulted to 'ok'/null).
    Returns the full stage table after the append. Idempotent: a second
    call with the same inputs computes nothing new.
    """
    done = None
    if os.path.exists(out_path):
        done = spark.read.parquet(out_path)
    todo = pending(inputs, done)
    if todo.isEmpty():
        return done if done is not None else spark.createDataFrame([], "audio_id string")
    out = stage_fn(todo)
    if "status" not in out.columns:
        out = out.withColumn("status", F.lit("ok")).withColumn(
            "error", F.lit(None).cast("string")
        )
    out.write.mode("append").parquet(out_path)
    return spark.read.parquet(out_path)


def aggregate_delta(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
) -> DataFrame:
    """Partial-aggregate a batch into mergeable state rows: per key,
    ``n`` plus one additive sum per requested column (aliased by the
    dict). The partials are the same shape Spark's own map-side
    aggregation uses — which is exactly what makes the view
    incrementally maintainable: state ⊕ delta = state' by addition.
    """
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.sum(src).alias(dst) for dst, src in sum_cols.items()
    ]
    return df.groupBy(*keys).agg(*aggs)


def merge_aggregate_state(
    state: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Merge a delta partial-aggregate into the running state:
    full-outer on the keys, coalesce + add every measure. Idempotence
    is the CALLER's contract (feed each batch exactly once — pair with
    :func:`pending`'s anti-join to guarantee it); associativity and
    commutativity are the algebra's (sums/counts), so late or
    out-of-order deltas merge to the same state.

    100 TB shape: the continuous aggregate is keys-sized, not
    corpus-sized; refresh cost is one grouped aggregate over the NEW
    data plus one outer join on the (much smaller) state — never a
    rescan of history. This is the materialized-view-maintenance
    pattern (hypertable continuous aggregates, Delta incremental
    refresh) as plain DataFrame algebra.
    """
    measures = [c for c in state.columns if c not in keys]
    s = state.select(*keys, *[F.col(c).alias(f"_s_{c}") for c in measures])
    d = delta.select(*keys, *[F.col(c).alias(f"_d_{c}") for c in measures])
    merged = s.join(d, keys, "full_outer")
    out = merged.select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"_s_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).alias(c)
            for c in measures
        ],
    )
    return out
