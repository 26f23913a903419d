"""Incremental runner semantics (SURVEY.md §2.9: J9 + A7 + idempotence)."""

import shutil
import tempfile

from pyspark.sql import functions as F

from speech_data_pipeline_spark.plans.incremental import (
    pending,
    pending_keys,
    read_table,
    run_incremental_stage,
    stage_counters,
)


def test_pending_keys_skip_done_and_retry_failed(spark, tmp_path):
    table = str(tmp_path / "stage")
    spark.createDataFrame(
        [("a", "ok"), ("b", "failed")], ["audio_id", "status"]
    ).write.parquet(table)
    assert pending_keys(spark, ["c", "a", "b"], table) == ["c", "b"]  # failed rows retried
    assert pending_keys(spark, ["c", "a"], str(tmp_path / "absent")) == ["c", "a"]
    inputs = spark.createDataFrame([("a",), ("b",), ("c",)], ["audio_id"])
    assert sorted(r.audio_id for r in pending(inputs, ["b", "c"]).collect()) == ["b", "c"]


def test_read_table_takes_the_schema_from_a_footer(spark, tmp_path):
    """The schema ``read_table`` reads from a part file's footer equals
    the one Spark infers, nullability and nesting included, and reading
    it runs no Spark job."""
    table = str(tmp_path / "stage")
    df = spark.createDataFrame(
        [("a", 1.5, [0.25, 1.0], True), ("b", None, None, False)],
        "audio_id string not null, score double, emb array<double>, ok boolean",
    )
    df.write.parquet(table)
    df.write.mode("append").parquet(table)
    sc = spark.sparkContext
    sc.setJobGroup("read_table", "test")
    try:
        got = read_table(spark, table)
        jobs = sc.statusTracker().getJobIdsForGroup("read_table")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert got.schema == spark.read.parquet(table).schema
    assert sorted(got.collect()) == sorted(df.collect() * 2)


def test_run_incremental_stage_idempotent(spark):
    tmp = tempfile.mkdtemp()
    out_path = f"{tmp}/stage_out"
    calls = []

    def stage(df):
        calls.append([r.audio_id for r in df.select("audio_id").collect()])
        return df.withColumn("result", F.upper("audio_id"))

    try:
        inputs1 = spark.createDataFrame([("a",), ("b",)], ["audio_id"])
        out = run_incremental_stage(spark, inputs1, stage, out_path)
        assert sorted(r.audio_id for r in out.collect()) == ["a", "b"]

        # second run, superset input: only 'c' is computed
        inputs2 = spark.createDataFrame([("a",), ("b",), ("c",)], ["audio_id"])
        out = run_incremental_stage(spark, inputs2, stage, out_path)
        assert sorted(r.audio_id for r in out.collect()) == ["a", "b", "c"]
        assert sorted(calls[1]) == ["c"]

        # third run, no new input: stage_fn not called again
        n_calls = len(calls)
        out = run_incremental_stage(spark, inputs2, stage, out_path)
        assert len(calls) == n_calls
        assert out.count() == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stage_counters(spark):
    stage_out = spark.createDataFrame(
        [("a", "ok"), ("a", "ok"), ("b", "failed"), ("c", "ok")],
        ["audio_id", "status"],
    )
    rows = {r.status: (r.n_keys, r.n_rows) for r in stage_counters(stage_out).collect()}
    assert rows == {"ok": (2, 3), "failed": (1, 1)}


def test_continuous_aggregate_merge_equals_full_recompute(spark):
    """Materialized-view maintenance: folding per-batch partial
    aggregates into running state gives exactly the full recompute,
    regardless of batch split or merge order."""
    from speech_data_pipeline_spark.plans.incremental import (
        aggregate_delta,
        merge_aggregate_state,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "user_id", "event_type", F.col("value").cast("double").alias("value")
    )
    keys = ["user_id", "event_type"]
    sums = {"total_value": "value"}
    full = aggregate_delta(ev, keys, sums)

    # three arbitrary batches (hash split), merged in a scrambled order
    batches = [ev.where(F.pmod(F.col("user_id") + i, F.lit(3)) == 0)
               for i in range(3)]
    assert sum(b.count() for b in batches) == ev.count()
    state = aggregate_delta(batches[2], keys, sums)
    for b in (batches[0], batches[1]):
        state = merge_aggregate_state(state, aggregate_delta(b, keys, sums), keys)

    def canon(df):
        return sorted(
            (r["user_id"], r["event_type"], r["n"], round(r["total_value"], 6))
            for r in df.collect()
        )

    assert canon(state) == canon(full)


def test_continuous_aggregate_handles_new_and_absent_keys(spark):
    from speech_data_pipeline_spark.plans.incremental import (
        aggregate_delta,
        merge_aggregate_state,
    )

    a = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, v double")
    b = spark.createDataFrame([(2, 5.0)], "k long, v double")
    state = aggregate_delta(a, ["k"], {"sv": "v"})
    merged = merge_aggregate_state(
        state, aggregate_delta(b, ["k"], {"sv": "v"}), ["k"]
    )
    got = {r["k"]: (r["n"], r["sv"]) for r in merged.collect()}
    assert got == {1: (2, 5.0), 2: (1, 5.0)}
