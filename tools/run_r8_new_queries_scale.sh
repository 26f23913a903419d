#!/bin/bash
# Round-8 new-query scale evidence: sf1 + sf1skew single-pass runs of
# the eight queries added this round plus the rewritten
# sim_blocked_precision (serialized; never run concurrent Spark work
# alongside).
set -e
cd "$(dirname "$0")/.."
NEW_Q="stats_anova_f stats_mann_kendall text_js_divergence \
dedup_containment sim_cosine_histogram graph_adamic_adar \
search_query_likelihood eval_pass_at_k sim_blocked_precision"
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r8_new_sf1.json python bench.py $NEW_Q
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r8_new_sf1skew.json python bench.py $NEW_Q
echo "r8 new-query scale evidence done"
