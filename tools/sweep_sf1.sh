#!/usr/bin/env bash
# Full-query sweep at the sf1 (10x) scale point — the standing per-round
# scale gate (it caught the quadratic IVF build and the zero-row streaming
# staging bug in round 6). Generates data/sf1 from sf0.1 on first use, then
# runs graft.Bench over every gated query with the distributed parquet sink
# for the two result-linear streaming queries (stream_attach, stream_asof),
# so their 10x points time the operators rather than a driver-side collect.
#
# Usage: tools/sweep_sf1.sh [only]
#   only: optional comma-separated query filter (SPARK_GRAFT_ONLY)
#
# Output: the one-line bench JSON on stdout (grep '"metric"').
set -euo pipefail
cd "$(dirname "$0")/.."

SF1_DIR=${SF1_DIR:-data/sf1}
CPUS=${SPARK_GRAFT_CPUS:-$(nproc)}

if [ ! -d "$SF1_DIR" ]; then
  echo "[sweep] generating $SF1_DIR (10x sf0.1) via graft.ScaleUp" >&2
  SPARK_GRAFT_CPUS=$CPUS sbt -batch \
    "runMain graft.ScaleUp /root/testdata/sf0.1 $SF1_DIR 10" >&2
fi

if [ "${1:-}" != "" ]; then
  export SPARK_GRAFT_ONLY="$1"
fi

SPARK_GRAFT_SF_DIR="$SF1_DIR" \
SPARK_GRAFT_CPUS=$CPUS \
SPARK_GRAFT_STREAM_SINK=parquet \
  sbt -batch "runMain graft.Bench" 2>&1 | grep '"metric"'
