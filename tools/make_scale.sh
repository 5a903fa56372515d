#!/usr/bin/env bash
# Scale-rehearsal driver (VERDICT r8 item 1).
#
#   tools/make_scale.sh [gen|bench] [factor|factors]
#
#   gen   32        — build the x32 amplified corpus under target/scale/x32
#   bench 1,4,32    — run graft.BenchScale over the given factors and write
#                     BENCH_scale.json at the repo root; the confirm octave
#                     runs at 2 × the largest factor (x64 for 1,4,32)
#
# The amplifier itself is graft.ScaleGen (Scala — it IS a Spark job: the
# per-replica token salting / vector rotation are the same column
# transforms the engine is built from, and writing it in-engine keeps the
# salting semantics next to the kernels they must not collide with).
set -euo pipefail
cd "$(dirname "$0")/.."
mode="${1:-bench}"
arg="${2:-1,4,32}"
case "$mode" in
  gen)
    SPARK_GRAFT_SCALE_A="$arg" sbt "runMain graft.ScaleGen"
    ;;
  bench)
    SPARK_GRAFT_SCALE_FACTORS="$arg" SPARK_DRIVER_MEM="${SPARK_DRIVER_MEM:-16g}" \
      sbt "runMain graft.BenchScale"
    ;;
  *)
    echo "usage: $0 [gen|bench] [factor|factors]" >&2
    exit 2
    ;;
esac
