#!/bin/bash
# Round-7 campaign continuation: the phases after the sf1 anchor run
# (which keeps min-of-2 passes). Everything here is single-pass —
# the worst-set repeats take min across three separate runs, the skew
# run's signal is per-query deltas, sf10 is a spot-bench.
set -e
cd "$(dirname "$0")/.."
W2="dedup_minhash_lsh dedup_minhash_lsh_uncollapsed embed_mutual_knn \
eval_bootstrap_ci eval_ndcg_at_k graph_triangle_count json_props_extract \
mine_hard_negatives ml_perceptron_quality search_phrase_positions \
sim_allpairs_prefix sim_embedding_neardup text_unigram_train \
text_winnow_fingerprints graph_bfs_hops q17_small_quantity_revenue \
eval_calibration_bins search_bm25_topk q12_late_priority_counts \
q11_part_value_concentration select_mmr_diverse dedup_cdc_chunks \
q2_min_cost_supplier sim_allpairs_blocked"
W10=$(echo $W2 | tr ' ' '\n' | grep -v '^sim_allpairs_prefix$' | tr '\n' ' ')

echo "=== sf1 worst-set rep2 ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1_w10_rep2.json python bench.py $W2
echo "=== sf1 worst-set rep3 ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1_w10_rep3.json python bench.py $W2
echo "=== sf1skew full registry ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1skew.json python bench.py
echo "=== sf10 worst-set ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf10 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf10_w10.json python bench.py $W10
echo "=== campaign rest done ==="
