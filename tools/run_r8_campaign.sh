#!/bin/bash
# Round-8 targeted measurement campaign under the cache-clearing bench
# (bench.py clears the storage pool between queries so each query is
# billed its OWN cost — the old accumulate-everything sessions let a
# cache-heavy batch thrash later queries: measured 5.6s solo vs 140s
# after a pair-heavy prefix at sf1). The round-7 full-registry files
# (BENCH_FULL / sf1 / sf1skew / sf10 / worst-set reps) stay as an
# internally consistent set; this script refreshes only the round-8
# evidence rows. All phases serialized.
set -e
cd "$(dirname "$0")/.."
AUD="sim_blocked_recall sim_blocked_precision"
NEW_Q="stats_anova_f stats_mann_kendall text_js_divergence \
dedup_containment sim_cosine_histogram graph_adamic_adar \
search_query_likelihood eval_pass_at_k stats_runs_test \
text_rake_keywords eval_corpus_bleu2 text_vocab_coverage \
dedup_source_matrix"
for rep in 1 2 3; do
  SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r8_aud_sf1_rep${rep}.json \
    python bench.py $AUD
done
for rep in 1 2 3; do
  SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r8_aud_sf1skew_rep${rep}.json \
    python bench.py $AUD
done
SPARK_GRAFT_PASSES=1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r8_new_sf01.json python bench.py $NEW_Q
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r8_new_sf1.json python bench.py $NEW_Q
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
  SPARK_GRAFT_BENCH_OUT=bench_scale/r8_new_sf1skew.json python bench.py $NEW_Q
echo "r8 campaign done"
