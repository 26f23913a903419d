#!/bin/bash
# Round-7 scale-evidence campaign: serialized bench runs over the
# stress decades (shared box — never run two benches concurrently).
# Produces bench_scale/*.json with the new `rows` cardinality maps.
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
# sf10 set: exclude sim_allpairs_prefix (quadratic-by-contract, ~45 min/pass
# — its 2674s round-6 measurement stands; merged back in post-step).
# All other worst-set tables exist at sf10 as of r7 (orders/lineitem/
# customer/part/supplier generated alongside events/documents/embeddings).
W10=$(echo $W2 | tr ' ' '\n' | grep -v '^sim_allpairs_prefix$' | tr '\n' ' ')

# Stress data (gitignored) is regenerated per round; sf10 now carries
# ALL fact tables so the second decade covers orders/lineitem rows
# (graph_triangle_count reads events, eval_bootstrap_ci reads lineitem
# — the two -1.0 placeholders in round 6's sf10_w10.json).
if [ ! -d stress_data/sf1 ]; then
  python tools/gen_scale.py --out stress_data/sf1 --scale 10
fi
if [ ! -d stress_data/sf1skew ]; then
  python tools/gen_scale.py --out stress_data/sf1skew --scale 10 --skew
fi
if [ ! -f stress_data/sf10/lineitem.parquet ]; then
  python tools/gen_scale.py --out stress_data/sf10 --scale 100
fi

echo "=== sf1 full registry ==="
SPARK_GRAFT_SF_DIR=stress_data/sf1 SPARK_GRAFT_BENCH_OUT=bench_scale/sf1.json \
  python bench.py
# Later phases run ONE measured pass (SPARK_GRAFT_PASSES=1): the
# worst-set repeats already take min across three separate runs, the
# skew run's signal is per-query deltas vs sf1 (not absolute minima),
# and sf10 is a spot-bench. Only the sf1 anchor run keeps min-of-2.
echo "=== sf1 worst-set rep2 ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1_w10_rep2.json \
  python bench.py $W2
echo "=== sf1 worst-set rep3 ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1_w10_rep3.json \
  python bench.py $W2
echo "=== sf1skew full registry ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf1skew \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf1skew.json \
  python bench.py
echo "=== sf10 worst-set ==="
SPARK_GRAFT_PASSES=1 SPARK_GRAFT_SF_DIR=stress_data/sf10 \
  SPARK_GRAFT_BENCH_OUT=bench_scale/sf10_w10.json \
  python bench.py $W10
echo "=== campaign done ==="
