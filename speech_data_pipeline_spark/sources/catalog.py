"""Table catalog over the driver-generated parquet test data.

Ten tables (TESTDATA.md): TPC-H-ish star schema (`region nation customer
supplier part orders lineitem`) plus `events` (timestamped stream),
`documents` (text corpus), `embeddings` (vector corpus).

Scale notes: each table is a single parquet file locally but the loaders
take any directory/glob — at 100 TB these are partitioned parquet/Delta
table roots and everything below is unchanged. Filters and projections
applied by callers reach the parquet scan via Catalyst pushdown (verify
with ``df.explain``: `PushedFilters`, `ReadSchema`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

#: Timezone-independent epoch-nanos from a TIMESTAMP_NTZ ``ts`` column.
#: ``timestampdiff`` over two NTZ operands is local-datetime arithmetic —
#: no session-timezone dependency — and matches DuckDB's ``epoch_us``
#: (micros, truncated toward zero) exactly. Kept as a SQL string (not a
#: Column) so importing this module never requires a live SparkContext.
EPOCH_NANOS_SQL = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"
)


def epoch_nanos_expr() -> F.Column:
    """Column form of :data:`EPOCH_NANOS_SQL` (lazy — needs a session)."""
    return F.expr(EPOCH_NANOS_SQL)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table from ``sf_dir``.

    ``events.ts`` is parquet TIMESTAMP(NANOS). The engine contract is
    that ``ts`` surfaces as a **long of epoch nanoseconds** in every
    downstream plan (`ts div 1000` = epoch micros, matching DuckDB's
    ``epoch_us`` — both truncate toward zero). How Spark reads the
    column depends on version: older builds honor
    ``spark.sql.legacy.parquet.nanosAsLong`` and hand back the raw
    int64; Spark >= 4.1 ignores that conf and reads TIMESTAMP(NANOS)
    natively as TIMESTAMP_NTZ (micros precision, nanos truncated). We
    set the conf for the former and normalize the latter back to
    epoch-nanos long via ``timestampdiff`` against the NTZ epoch —
    pure local-datetime arithmetic, independent of the session
    timezone (the driver's session is NOT timezone-pinned, so an
    NTZ->LTZ cast would shift the epoch under any non-UTC default).
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf removed entirely in some builds; the cast below covers it
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if ts_type is not None and ts_type.startswith("timestamp"):
        df = df.withColumn("ts", epoch_nanos_expr().cast("long"))
    return df


def derived_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical segment table derived from `events`.

    Mirrors the reference's core relational object — a per-file interval
    table ``(audio_id, start, end, ...)`` (SURVEY.md §1.1, reference
    modules/vad_multi.py:33-44) — with ``user_id`` in the ``audio_id``
    partition-key role and event duration taken from ``value`` seconds.

    All bounds are **integer microseconds**: exact in both Spark and
    external SQL engines, immune to float-epoch drift. ``floor(value *
    6e7)`` (value minutes, not seconds) is used rather than a bare cast
    because double→int casts truncate in Spark but round in some
    oracles; the ×60 scale makes segments long enough that
    containment/overlap joins and the sweep-line have real work.
    """
    ev = load_table(spark, sf_dir, "events")
    start_us = F.expr("ts div 1000")  # ts is epoch-nanos long; see load_table
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        start_us.alias("start_us"),
        (start_us + F.floor(F.col("value") * F.lit(60_000_000.0)).cast("long")).alias(
            "end_us"
        ),
        "value",
    )


#: DuckDB-dialect equivalent of :func:`derived_intervals`, shared by the
#: oracle SQL of every interval query (driver pre-registers `events`).
DERIVED_INTERVALS_SQL = """
    SELECT event_id, user_id, event_type,
           epoch_us(ts) AS start_us,
           epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS end_us,
           value
    FROM events
"""
