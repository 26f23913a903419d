"""Round-10 output-cardinality diagnostics (VERDICT r9 ask #3).

Counts the CANDIDATE-stage rows for the three queries whose second
decades are claimed candidate/output-bound but whose final outputs are
fixed-size (top-k / scalar), so bench.py's final-row counts can't show
it:

- graph_link_prediction: wedge rows through hub-capped centers
  (sum of C(d_ctr, 2)) and distinct candidate pairs after grouping.
- eval_chrf: exploded character-n-gram rows (n = 1..3), the corpus
  the grouped counts consume.
- dedup_containment: rare-gram candidate pairs BEFORE the containment
  threshold filter.

Usage: python tools/diag_cardinality_r10.py <sf_dir>
Prints one JSON line {"sf_dir", "metrics": {name: {rows, sec}}}.
Serialized protocol: run alone on the box, one metric at a time.
"""

import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from speech_data_pipeline_spark.operators import dedup as dd  # noqa: E402
from speech_data_pipeline_spark.queries.corpus_q import (  # noqa: E402
    _AA_HUB_CAP,
)
from speech_data_pipeline_spark.sources.catalog import load_table  # noqa: E402


def lp_candidates(spark, sf_dir):
    """Wedge rows + distinct candidate pairs of graph_link_prediction
    (same chain as queries/corpus_q.py:graph_link_prediction)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("u"))
    b_ = op.select("o", F.col("p").alias("v"))
    edges = (
        a.join(b_, "o")
        .where(F.col("u") < F.col("v"))
        .select(F.col("u").alias("x"), F.col("v").alias("y"))
        .distinct()
        .persist()
    )
    deg = (
        edges.select(F.col("x").alias("n"))
        .unionAll(edges.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    adj = edges.select(
        F.col("x").alias("n"), F.col("y").alias("nbr")
    ).unionAll(edges.select(F.col("y").alias("n"), F.col("x").alias("nbr")))
    ctr = (
        adj.join(deg, "n")
        .where((F.col("d") >= 2) & (F.col("d") <= _AA_HUB_CAP))
        .select("n", "nbr")
    )
    # wedge rows the self-join emits: sum over centers of C(d_ctr, 2)
    t0 = time.time()
    wedges = (
        ctr.groupBy("n")
        .agg(F.count(F.lit(1)).alias("dc"))
        .agg(F.sum(F.col("dc") * (F.col("dc") - 1) / 2).alias("w"))
        .collect()[0]["w"]
    )
    t_wedge = time.time() - t0
    cb = ctr.select("n", F.col("nbr").alias("v"))
    t0 = time.time()
    pairs = (
        ctr.select("n", F.col("nbr").alias("u"))
        .join(cb, "n")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .count()
    )
    t_pairs = time.time() - t0
    edges.unpersist()
    return {
        "lp_wedge_rows": {"rows": int(wedges), "sec": round(t_wedge, 2)},
        "lp_cand_pairs": {"rows": int(pairs), "sec": round(t_pairs, 2)},
    }


def chrf_gram_rows(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    t0 = time.time()
    ln = d.select(
        F.length(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z]", "")
        ).alias("l")
    )
    row = ln.agg(
        F.sum(
            sum(
                (F.greatest(F.col("l") - (n - 1), F.lit(0)) for n in (1, 2, 3)),
                F.lit(0),
            )
        ).alias("g")
    ).collect()[0]
    return {
        "chrf_gram_rows": {
            "rows": int(row["g"]), "sec": round(time.time() - t0, 2)
        }
    }


def containment_candidates(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    reps = dd.exact_collapse_reps(d)
    t0 = time.time()
    n = dd.blocked_overlap_pairs(
        reps, "doc_id", "text",
        ngram_n=3, size_ratio=None, candidates="rare-grams", max_df=20,
    ).count()
    return {
        "cont_cand_pairs": {"rows": int(n), "sec": round(time.time() - t0, 2)}
    }


def main():
    sf_dir = sys.argv[1]
    from speech_data_pipeline_spark.session import get_spark

    spark = get_spark("diag-cardinality")
    spark.sparkContext.setLogLevel("ERROR")
    metrics = {}
    metrics.update(chrf_gram_rows(spark, sf_dir))
    metrics.update(containment_candidates(spark, sf_dir))
    metrics.update(lp_candidates(spark, sf_dir))
    print(json.dumps({"sf_dir": sf_dir, "metrics": metrics}))


if __name__ == "__main__":
    main()
