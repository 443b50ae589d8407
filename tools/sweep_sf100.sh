#!/usr/bin/env bash
# 1000x scale sweep: the sf100 point (1000x sf0.1 — lineitem 600M rows,
# orders 150M, events 100M, documents 5M, embeddings 2M, ~20 GB parquet)
# for the scale-critical heads. Together with the sf1 (10x) and sf10 (100x)
# gates this gives THREE measured decades of scaling for every adaptive
# rule (IVF sqrt(n) stride, LSH log2(n/32) planes, exact-dup pre-collapse,
# banded candidate generation) — the strongest local evidence that the
# 100 TB posture holds. Generates data/sf100 via graft.ScaleUp on first
# use (disjoint key spaces, same rule as sf1/sf10).
#
# Usage: tools/sweep_sf100.sh [only]
#   only: optional comma-separated query filter (default: the scale-head set)
#
# Output: the one-line bench JSON on stdout (grep '"metric"'), full map in
# $SPARK_GRAFT_BENCH_OUT (default bench_sf100.json).
set -euo pipefail
cd "$(dirname "$0")/.."

SF100_DIR=${SF100_DIR:-data/sf100}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}
# Size the single local JVM to the data, the way a cluster sizes executor
# memory: at 600M fact rows the 8g default is permanently spill-bound on
# the wide shuffles (and with the AQE initial-partition discipline the
# sort buffers OOM outright). 32g on the 128 GiB host = ~1 GiB per core,
# a standard executor shape.
export SPARK_DRIVER_MEM=${SPARK_DRIVER_MEM:-32g}
# Reduce parallelism is PER-PLAN by default since round 11
# (pipeline/Posture.scala): sort-dominated plans run at core count, wide
# aggregate/join plans at volume-scaled fan-out — no global export needed.

# The sf10 standing set minus the journey heads whose sf100 cost is pure
# row-linear repetition already priced by their stages (stream_corpus_*,
# config_corpus_* variants), plus the TPC-H joins that stress the shuffle
# path hardest at 600M fact rows.
HEADS="q1_pricing,q3_topk,q5_region,q6_forecast,dedup_exact,dedup_minhash,dedup_cluster,dedup_semantic,ann_lsh,ann_ivf,ann_bruteforce,decontam_fuzzy,vocab_topk,bpe_merges,config_corpus,curation_kmeans"

if [ ! -d "$SF100_DIR" ]; then
  echo "[sweep] generating $SF100_DIR (1000x sf0.1) via graft.ScaleUp" >&2
  SPARK_GRAFT_CPUS=$CPUS sbt -batch \
    "runMain graft.ScaleUp /root/testdata/sf0.1 $SF100_DIR 1000" >&2
fi

export SPARK_GRAFT_ONLY="${1:-$HEADS}"

SPARK_GRAFT_SF_DIR="$SF100_DIR" \
SPARK_GRAFT_CPUS=$CPUS \
SPARK_GRAFT_STREAM_SINK=parquet \
SPARK_GRAFT_BENCH_OUT=${SPARK_GRAFT_BENCH_OUT:-bench_sf100.json} \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
