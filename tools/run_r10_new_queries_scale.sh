#!/bin/bash
# Round-10 new-query scale evidence (serialized — run alone on the box):
# sf1 x2, sf1skew x1, sf10 x2 for the 18 queries added this round.
set -e
cd "$(dirname "$0")/.."

NEW="stats_wilson_ci stats_friedman_test stats_anova_twoway \
survival_nelson_aalen survival_logrank_test eval_krippendorff_alpha \
graph_connected_components lm_good_turing infra_compaction_plan \
mix_waterfill_budget embed_matryoshka_recall sim_binary_hamming_topk \
eval_mcnemar stats_bartlett stats_poisson_ratio stats_sign_test \
recs_slope_one ml_gaussian_nb"

for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=stress_data/sf1 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r10_new_sf1_rep${rep}.json \
    python bench.py $NEW
done
SPARK_GRAFT_SF_DIR=stress_data/sf1skew SPARK_GRAFT_PASSES=1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r10_new_sf1skew.json \
  python bench.py $NEW
for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=stress_data/sf10 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r10_new_sf10_rep${rep}.json \
    python bench.py $NEW
done
echo "new-query scale campaign done"
