"""Incremental / idempotent stage execution (SURVEY.md §2.9, J9, A7).

The reference's only recovery mechanism is ``skip_if_exist`` (per-file
output-existence checks in every stage) plus per-file try/except
counters. The engine's equivalents:

- ``pending_keys`` — the incremental-processing primitive (J9): the
  given ``audio_id``s that have no ``status = 'ok'`` row in a stage
  table, as a list the Spark driver holds. One job with no shuffle
  reads the key column of the table's ok rows, and the driver drops
  duplicates; no job runs while the table does not exist yet.
- ``pending``      — the rows of a frame whose ``audio_id`` is pending:
  a filter on that key list, so no join and no exchange.
- ``run_incremental_stage`` — compute only pending rows, append results
  to the stage table. Failures are **rows, not control flow**: the
  stage function may emit a ``status``/``error`` column pair, and a
  re-run picks keys whose rows are not ``'ok'`` up again.
- ``stage_counters`` — the A7 completed/failed report as one grouped
  aggregate instead of per-file exception counting.

The keys live on the Spark driver, and each stage's filter carries its
pending keys as a literal list. Reading the done keys brings one key
per ok row, a few per file in this pipeline's tables, to the driver.
That suits listings the driver can hold; for far larger ones the done
set belongs in a per-file ledger table that a semi-join reads.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The footer key under which Spark stores a parquet file's Spark schema.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def listed_keys(inputs: DataFrame) -> list[str]:
    """The distinct ``audio_id``s of ``inputs``, in first-seen order:
    one job."""
    return list(dict.fromkeys(r[0] for r in inputs.select("audio_id").collect()))


def pending_keys(spark: SparkSession, keys: Iterable[str], out_path: str) -> list[str]:
    """``keys``, in order, less those with a ``status = 'ok'`` row in
    the stage table at ``out_path`` (J9). Failed keys re-enter the work
    set. No Spark job runs when the table does not exist yet."""
    done: set[str] = set()
    if os.path.exists(out_path):
        table = spark.read.schema("audio_id string, status string").parquet(out_path)
        done = {
            r[0]
            for r in table.where(F.col("status") == "ok").select("audio_id").collect()
        }
    return [k for k in keys if k not in done]


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """The parquet table Spark wrote at ``path``, with the Spark schema
    read from one part file's footer, so no Spark job infers it. A table
    without that footer key is read with inference."""
    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    if parts:
        import pyarrow.parquet as pq

        meta = pq.read_schema(parts[0]).metadata or {}
        if _SPARK_SCHEMA_KEY in meta:
            schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def pending(inputs: DataFrame, keys: Iterable[str]) -> DataFrame:
    """Rows of ``inputs`` whose ``audio_id`` is one of the pending
    ``keys``: a filter, with no join and no exchange."""
    return inputs.where(F.col("audio_id").isin(list(keys)))


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
    keys: list[str],
) -> DataFrame:
    """Run ``stage_fn`` over the pending inputs; append to ``out_path``.

    ``keys`` are the pending ``audio_id``s, as :func:`pending_keys`
    computes them (``run_pipeline`` does, from one listing per call).
    ``stage_fn`` gets ``pending(inputs, keys)`` and is not called when
    no key is pending. It must return a DataFrame containing
    ``audio_id`` and may include ``status``/``error`` columns
    (defaulted to 'ok'/null). Returns the full stage table after the
    append. Idempotent: a second call with the keys pending after the
    first computes nothing new.
    """
    if not keys:
        if os.path.exists(out_path):
            return read_table(spark, out_path)
        return spark.createDataFrame([], "audio_id string")
    out = stage_fn(pending(inputs, keys))
    if "status" not in out.columns:
        out = out.withColumn("status", F.lit("ok")).withColumn(
            "error", F.lit(None).cast("string")
        )
    out.write.mode("append").parquet(out_path)
    # the schema just written: reading it back infers nothing (no job)
    return spark.read.schema(out.schema).parquet(out_path)


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
    :func:`pending_keys` to guarantee it); associativity and
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
