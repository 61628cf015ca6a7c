#!/bin/bash
# Round-10 serial measurement pass. Run alone on the host; writes one
# log per stage under /tmp/r10/.
set -uo pipefail
cd "$(dirname "$0")/.."
mkdir -p /tmp/r10

echo "== genscale sf1 =="  && tools/run_main.sh graft.GenScale /tmp/graft-sf1 10  > /tmp/r10/gen_sf1.log  2>&1
echo "== genscale sf10 ==" && tools/run_main.sh graft.GenScale /tmp/graft-sf10 100 > /tmp/r10/gen_sf10.log 2>&1

# sf1 points for the round-9/10 families lacking them
export SPARK_GRAFT_BENCH_FILTER="dd_jaro,dd_wjaccard,dd_linkage,rc_,gr_hits,st_km,tx_rake,pl_pretrain,sp_epoch_shuffle,rj_band,str_,pl_chunk,pl_len_buckets,dc_semantic,rl_bt,st_kappa"
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 tools/run_main.sh graft.Bench > /tmp/r10/bench_sf01_filtered.log 2>&1
SPARK_GRAFT_SF_DIR=/tmp/graft-sf1     tools/run_main.sh graft.Bench > /tmp/r10/bench_sf1_filtered.log  2>&1

# sf10 continuity set (corpus-scan family + the two round-10 fixes)
export SPARK_GRAFT_BENCH_FILTER="pl_pretrain,dd_jaro,dd_dup_ngrams,dd_ppjoin,sp_quality_sample,tx_clf_score,tx_t5_spans"
SPARK_GRAFT_SF_DIR=/tmp/graft-sf10 tools/run_main.sh graft.Bench > /tmp/r10/bench_sf10_filtered.log 2>&1
unset SPARK_GRAFT_BENCH_FILTER

echo "ALL DONE"
