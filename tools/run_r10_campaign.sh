#!/bin/bash
# Round-10 measurement campaign (serialized — never concurrent with any
# other Spark run on this box). VERDICT r9 asks #3, #4, #5:
#   1. candidate-cardinality diagnostics for graph_link_prediction /
#      eval_chrf / dedup_containment at sf1 and sf10
#   2. re-measure the three inverted round-9 sf0.1 cells min-of-2
#   3. sf10 capstone composites min-of-2
set -e
cd "$(dirname "$0")/.."

echo "=== 1. candidate cardinality sf1 / sf10 ==="
python tools/diag_cardinality_r10.py stress_data/sf1 \
  2>/dev/null | tail -1 > bench_scale/r10_card_sf1.json
python tools/diag_cardinality_r10.py stress_data/sf10 \
  2>/dev/null | tail -1 > bench_scale/r10_card_sf10.json

INV="ml_knn_label_accuracy ts_granger dedup_minhash_estimate_audit"
echo "=== 2. inverted sf0.1 cells x2 ==="
for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r10_inv_sf01_rep${rep}.json \
    python bench.py $INV
done

CAPS="pipeline_training_mix pipeline_curation_report"
echo "=== 3. sf10 capstones x2 ==="
for rep in 1 2; do
  SPARK_GRAFT_SF_DIR=stress_data/sf10 SPARK_GRAFT_PASSES=1 \
    SPARK_GRAFT_BENCH_OUT=bench_scale/r10_cap_sf10_rep${rep}.json \
    python bench.py $CAPS
done
echo "campaign done"
