"""Skew mitigation utilities (SCALE.md "Skew and blow-up bounds").

AQE's skew-join splitting handles most runtime skew; these helpers
cover the shape AQE cannot:

- ``salted_aggregate`` — two-phase aggregation for hot grouping keys:
  partial-aggregate on ``(key, salt)`` (spreads one hot key over
  ``n_salts`` reducers), then final-aggregate on ``key``. Correct for
  any algebraic aggregate supplied as (partial, merge) column pairs;
  the common sum/count/min/max forms are provided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int, cols: list[str]) -> DataFrame:
    """Deterministic salt in [0, n_salts) from a hash of ``cols``."""
    return df.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(n_salts))
    )


def salted_aggregate(
    df: DataFrame,
    key: str,
    n_salts: int,
    salt_source_cols: list[str],
    sums: dict[str, str] | None = None,
    counts: bool = True,
) -> DataFrame:
    """Two-phase sum/count aggregation immune to single-key hotspots.

    ``sums`` maps output alias -> input column (summed); ``counts``
    adds an ``n`` row count. Phase 1 shuffles on (key, salt) — a hot
    key spreads across ``n_salts`` reducers; phase 2 merges the tiny
    per-salt partials on the key alone.
    """
    sums = sums or {}
    salted = with_salt(df, n_salts, salt_source_cols)
    partial_aggs = [F.sum(src).alias(f"_p_{alias}") for alias, src in sums.items()]
    if counts:
        partial_aggs.append(F.count(F.lit(1)).alias("_p_n"))
    partial = salted.groupBy(key, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum(f"_p_{alias}").alias(alias) for alias in sums]
    if counts:
        final_aggs.append(F.sum("_p_n").cast("long").alias("n"))
    return partial.groupBy(key).agg(*final_aggs)
