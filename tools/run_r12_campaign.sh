#!/bin/bash
# Round-12 scale campaign — VERDICT r11 item 8: REPS>=2 warm records at
# the 1000x fixture for the 11 dup-graph queries whose shared artifacts
# round 11 introduced (edge list / CC labels / LPA labels).  The suffix
# twins stay excluded at 1000x by the standing heap-sizing rule (the rank
# pyramid is ~4 GB heap per M tokens; 270 M tokens does not fit the box —
# same exclusion as every prior campaign, disclosed in SCALING_MEASURED).
#
# Protocol (the round-11 campaign layout): slice-verify the fixture first
# (the standing correctness gate at scales where DuckDB oracles time
# out), then one REPS=3 tranche with only the dedup-chain setup builders
# enabled; SPARK_LOCAL_DIRS wiped per JVM.
set -x
cd /root/repo

DUPGRAPH="dedup_clusters dup_sampling_weights dedup_cluster_keep_best dup_community_modularity graph_double_sweep_diameter dup_label_propagation dup_eigencentrality dup_graph_pagerank dup_personalized_pagerank dup_bfs_hops graph_kcore"

# skip every setup builder EXCEPT the dedup chain the dup-graph family reads
SKIP_SETUP=_ps,_shared_simhash_sigs,_shared_token_blocks,_shared_ivf_index,_shared_srp_index,_shared_srpw_index,_shared_pq_index,_shared_sq_index,_shared_doc_features,_shared_bpe,_shared_bigram_lm,_shared_phrase_index,_shared_ivfpq_coarse,_shared_ivfpq_residual_index,_shared_suffix,_shared_sa_adjacent

export SPARK_LOCAL_DIRS=/tmp/spark-local-r12

if [ "${SKIP_SLICE:-0}" != "1" ]; then
  python tools/scaled_verify.py /root/repo/.scale/sf100 r12 --replica 777 \
    > scaled_verify_1000x_r12.json 2> scaled_verify_1000x_r12.err
  echo "slice verify exit $?"
fi

rm -rf "$SPARK_LOCAL_DIRS"; mkdir -p "$SPARK_LOCAL_DIRS"
df -h / | tail -1
SPARK_GRAFT_SF_DIR=/root/repo/.scale/sf100 SPARK_DRIVER_MEMORY=96g \
  SPARK_GRAFT_BENCH_FORCE_CHECKSUM=1 SPARK_GRAFT_BENCH_REPS=3 \
  SPARK_GRAFT_BENCH_SKIP_SETUP=$SKIP_SETUP \
  python bench.py $DUPGRAPH > bench_sf100_r12_dupgraph.raw 2> bench_sf100_r12_dupgraph.err
echo "sf100 dup-graph exit $?"
grep '"metric"' bench_sf100_r12_dupgraph.raw | head -1 > bench_sf100_r12_dupgraph.json || true

rm -rf "$SPARK_LOCAL_DIRS"
echo CAMPAIGN_R12_DONE
