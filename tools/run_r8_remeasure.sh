#!/bin/bash
# Round-8 targeted re-measurements (serialized; never run concurrent
# Spark work alongside):
# 1. Clean 3-repeat sets for the two remaining >5x max/min variance
#    rows in BENCH_SCALE.md (eval_mrr_at_k, text_unigram_train) at sf1.
# 2. Post-AQE-fix + post-slice sf1/sf1skew numbers for the two blocking
#    audit rows (sim_blocked_recall now runs its exact truth side on
#    the code-enforced <=2000-rep slice, so its old cells are obsolete
#    twice over).
set -e
cd "$(dirname "$0")/.."
VAR_Q="eval_mrr_at_k text_unigram_train"
AUD_Q="sim_blocked_recall sim_blocked_precision"
for rep in 1 2 3; do
  SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r8_var_rep${rep}.json \
    python bench.py $VAR_Q
done
for rep in 1 2 3; do
  SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r8_aud_sf1_rep${rep}.json \
    python bench.py $AUD_Q
done
for rep in 1 2 3; do
  SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r8_aud_sf1skew_rep${rep}.json \
    python bench.py $AUD_Q
done
echo "r8 remeasure done"
