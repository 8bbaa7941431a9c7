#!/usr/bin/env bash
# JIT slow-mode A/B rehearsal (VERDICT r15 #1): the IouKernel sweep runs
# bimodally (62 ns/pair vs ~1 us/pair, 16x) in worker-forked executor
# JVMs only. This harness re-runs the kernel queries (q81 pair sweep +
# q80 greedy grouping, the two sites the r15 artifacts caught slow) on
# the adversarially skewed corpus under local-cluster, N times per arm:
#
#   base      - current defaults (r15's per-row-method restructuring in place)
#   codecache - -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m
#   c2only    - -XX:-TieredCompilation (C2 only, no tiered handoff)
#
# Per run it records q81/q80 seconds + cache_build_ms (the kernel bills
# to the cache build) from the Bench detail line. Analyze with
# tools/jit_ab_merge.py -> JIT_AB_r{N}.json.
#
# Usage: tools/jit_ab.sh <sfDir> <runsPerArm> <logDir> [arms...]
set -u
SF=${1:-/tmp/sf1_skew}
RUNS=${2:-6}
LOGDIR=${3:-/tmp/jit_ab}
shift 3 2>/dev/null || true
ARMS=("$@")
[ ${#ARMS[@]} -eq 0 ] && ARMS=(base codecache c2only)
mkdir -p "$LOGDIR"
cd "$(dirname "$0")/.."

opts_for() {
  case "$1" in
    base)      echo "" ;;
    codecache) echo "-XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m" ;;
    c2only)    echo "-XX:-TieredCompilation" ;;
    # Hypothesis arm: the hot group loop is ONE activation, so it only
    # ever runs as a tier-3 OSR compilation when C2's queue is flooded
    # on a fresh executor — and tier-3 INLINES the small kernel methods
    # WITH profiling counters, so the standalone tier-4 copies sit
    # unused. dontinline forces every call site through the standalone
    # methods (which tier up in milliseconds), trading ~ns of call
    # overhead for immunity to the caller's compilation level.
    dontinline) echo "-XX:CompileCommand=quiet -XX:CompileCommand=dontinline,org.apache.spark.sql.graft.IouKernel$::compute -XX:CompileCommand=dontinline,graft.queries.Domain$::sweepRowBoth" ;;
    # Hypothesis arm: fresh executor JVMs flood the C2 queue with Spark
    # startup + codegen classes; a hot loop that OSR-compiled at tier 3
    # stays there until C2 drains to its request. More compiler threads
    # shrink the window. (The base-arm canary read 5.3 s vs 19.4 s for
    # the identical warmed workload — the mode is executor-JVM-wide,
    # not kernel-specific.)
    cicount)   echo "-XX:CICompilerCount=6" ;;
    *)         echo "unknown arm $1" >&2; exit 2 ;;
  esac
}

# A CompileCommand naming a method that does not exist is a silent no-op,
# and -XX:CompileCommand=quiet also drops the JVM's echo of each command,
# so a renamed kernel would quietly turn the dontinline arm into the base
# arm. Check every target against the compiled classes before any run
# (exit 2 on a miss).
CLASSES=target/scala-2.13/classes
preflight() {
  local opts t klass meth
  opts=$(opts_for "$1") || exit 2
  for t in $(printf '%s\n' $opts | sed -n 's/^-XX:CompileCommand=dontinline,//p'); do
    klass=${t%%::*}; meth=${t##*::}
    if ! javap -p -cp "$CLASSES" "$klass" 2>/dev/null | grep -q " $meth("; then
      echo "arm $1: CompileCommand target $t not found under $CLASSES" \
        "(renamed, or not compiled yet: run sbt compile)" >&2
      exit 2
    fi
  done
}
for ARM in "${ARMS[@]}"; do preflight "$ARM"; done

for ARM in "${ARMS[@]}"; do
  OPTS=$(opts_for "$ARM")
  for i in $(seq 1 "$RUNS"); do
    LOG="$LOGDIR/${ARM}_$i.log"
    echo "== arm=$ARM run=$i =="
    SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
    SPARK_GRAFT_MASTER='local-cluster[4,8,8192]' SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_BENCH_ONLY=q80_grouped_detections,q81_iou_pairs \
    SPARK_GRAFT_BENCH_SWEEPS=1 SPARK_GRAFT_SF_DIR="$SF" \
    SPARK_GRAFT_EXECUTOR_OPTS="$OPTS" \
      sbt -batch "runMain graft.Bench" > "$LOG" 2>&1
    grep -h '"detail"' "$LOG" | tail -1
  done
done
echo "logs in $LOGDIR; merge with tools/jit_ab_merge.py"
