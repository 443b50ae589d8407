#!/usr/bin/env bash
# 100x scale sweep (VERDICT r7 item 1): the sf10 point for the heads whose
# adaptive rules only bite beyond the 10x sf1 sweep — dedup/ANN candidate
# generation, the sqrt(n) IVF stride, the corpus journey, the TPC-H join
# heads, and the round-8 additions (bpe_merges, dedup_incremental,
# stream_corpus_dedup). Generates data/sf10 (100x sf0.1, disjoint key
# spaces) via graft.ScaleUp on first use.
#
# Usage: tools/sweep_sf10.sh [only]
#   only: optional comma-separated query filter (default: the scale-head
#   set); the literal `all` sweeps the FULL registered surface (the
#   bench_sf10_full_surface.json refresh, VERDICT r15 ask #2)
#
# Output: the one-line bench JSON on stdout (grep '"metric"'), full map in
# $SPARK_GRAFT_BENCH_OUT (default bench_sf10.json).
set -euo pipefail
cd "$(dirname "$0")/.."

SF10_DIR=${SF10_DIR:-data/sf10}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}

HEADS="q1_pricing,q3_topk,q5_region,q6_forecast,dedup_exact,dedup_minhash,dedup_cluster,dedup_semantic,dedup_incremental,dedup_incremental_semantic,ann_lsh,ann_ivf,ann_ivf_trained,ann_bruteforce,decontam_fuzzy,vocab_topk,tfidf_topterms,bpe_merges,bpe_encode,bpe_artifact,config_corpus,curation_kmeans,curation_diversity,stream_corpus_dedup"

if [ ! -d "$SF10_DIR" ]; then
  echo "[sweep] generating $SF10_DIR (100x sf0.1) via graft.ScaleUp" >&2
  SPARK_GRAFT_CPUS=$CPUS sbt -batch \
    "runMain graft.ScaleUp /root/testdata/sf0.1 $SF10_DIR 100" >&2
fi

if [ "${1:-}" = "all" ]; then
  unset SPARK_GRAFT_ONLY
else
  export SPARK_GRAFT_ONLY="${1:-$HEADS}"
fi

SPARK_GRAFT_SF_DIR="$SF10_DIR" \
SPARK_GRAFT_CPUS=$CPUS \
SPARK_GRAFT_STREAM_SINK=parquet \
SPARK_GRAFT_BENCH_OUT=${SPARK_GRAFT_BENCH_OUT:-bench_sf10.json} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
