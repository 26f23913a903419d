#!/bin/bash
# Round-9 measurement campaign (serialized — never concurrent with any
# other Spark run on this box):
#   1. search_query_likelihood sf10 second-decade reconciliation
#      (BENCH_SCALE.md round-8 table said 70.64s/15.7x while the prose
#      said 11.6x — re-measure min-of-2 serialized)
#   2. dedicated 3-repeat sets for the six >2x variance rows at sf1
#   3. canonical sf0.1 full-registry headline: min of TWO serialized
#      single-pass runs under the round-8 cold-cache semantics
set -e
cd "$(dirname "$0")/.."

VAR_ROWS="rollup_pricing sim_late_interaction_topk \
dedup_minhash_lsh_uncollapsed q17_small_quantity_revenue \
pipeline_governed_mix sim_cosine_histogram"

echo "=== 1. search_query_likelihood sf10 x2 ==="
for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=stress_data/sf10 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r9_sql_sf10_rep${rep}.json \
    python bench.py search_query_likelihood
done

echo "=== 2. variance rows sf1 x3 ==="
for rep in 1 2 3; do
  SPARK_GRAFT_SF_DIR=stress_data/sf1 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r9_var_rep${rep}.json \
    python bench.py $VAR_ROWS
done

echo "=== 3. canonical sf0.1 headline x2 (full 280-query registry) ==="
for rep in 1 2; do
  SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r9_sf01_rep${rep}.json \
    python bench.py
done

NEW="stats_kruskal_wallis stats_levene_bf stats_fdr_bh \
search_rm3_expansion graph_link_prediction dedup_minhash_estimate_audit \
eval_chrf"

echo "=== 4. round-9 new queries: two-decade + skew evidence ==="
for rep in 1 2 3; do
  SPARK_GRAFT_SF_DIR=stress_data/sf1 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r9_new_sf1_rep${rep}.json \
    python bench.py $NEW
done
SPARK_GRAFT_SF_DIR=stress_data/sf1skew SPARK_GRAFT_PASSES=1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r9_new_sf1skew.json \
  python bench.py $NEW
for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=stress_data/sf10 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r9_new_sf10_rep${rep}.json \
    python bench.py $NEW
done

echo "campaign done"
