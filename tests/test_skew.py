"""Salted aggregation equivalence tests."""

from pyspark.sql import functions as F

from speech_data_pipeline_spark.operators.skew import salted_aggregate


def skewed_df(spark):
    # key 'hot' carries 90% of rows
    rows = [("hot", i, float(i % 7)) for i in range(900)]
    rows += [(f"k{i % 10}", i, float(i % 5)) for i in range(100)]
    return spark.createDataFrame(rows, ["key", "row_id", "value"])


def test_salted_aggregate_matches_plain(spark):
    df = skewed_df(spark)
    got = {
        r.key: (round(r.total, 6), r.n)
        for r in salted_aggregate(
            df, "key", n_salts=8, salt_source_cols=["row_id"],
            sums={"total": "value"},
        ).collect()
    }
    want = {
        r.key: (round(r.total, 6), r.n)
        for r in df.groupBy("key")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
