#!/usr/bin/env bash
# 10x scale smoke, one fresh JVM per query (see ScaleSmoke scaladoc:
# a single long-lived session running 42 plans x 2 scales thrashes the
# codegen cache / JIT state and intermittently inflates CPU ~10x on
# identical stages; the isolated profiles were always the stable
# numbers, so the committed record now uses the same isolation).
#
# Usage: tools/bench_scale.sh [query ...]   # default: all ScaleSmoke targets
# Env read by this script: SPARK_GRAFT_SCALE_PARTS (fragment file,
#   default /tmp/graft_scale_parts.jsonl), SPARK_DRIVER_MEM (heap, default 24g).
# Env read by ScaleSmoke: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE_DIR,
#   SPARK_GRAFT_SCALE_FACTOR (default 10), SPARK_GRAFT_SCALE_REPS (default 3),
#   SPARK_GRAFT_SCALE_WARM (default 1), SPARK_GRAFT_CPUS (default 32),
#   SPARK_GRAFT_ADVISORY_MB (AQE advisory partition size; unset = Spark's).
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch compile >/tmp/bench_scale_compile.log 2>&1 || {
  tail -30 /tmp/bench_scale_compile.log; exit 1; }

CP="target/scala-2.13/classes:/opt/spark/jars/*"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

PARTS="${SPARK_GRAFT_SCALE_PARTS:-/tmp/graft_scale_parts.jsonl}"
export SPARK_GRAFT_SCALE_PARTS="$PARTS"
# truncate only for a FULL sweep: a named-query rerun appends a
# superseding fragment (assemble is last-wins per query) — truncating
# there silently discarded the other 70 queries' fragments (round 9)
if [ $# -eq 0 ]; then : > "$PARTS"; fi

if [ $# -gt 0 ]; then
  QUERIES=("$@")
else
  # keep in sync with ScaleSmoke.targets (assemble validates completeness)
  QUERIES=($(java -cp "$CP" $ADD_OPENS -Xmx2g graft.PrintScaleTargets))
fi

# ParallelGC: must match build.sbt's javaOptions (this script invokes raw
# java, bypassing sbt) — see the round-8 q52 root cause there: G1 in a
# churned session inflates the heavy stages 3-10x; ParallelGC removes it.
GC_FLAGS="-XX:+UseParallelGC -XX:ReservedCodeCacheSize=2g -XX:+AlwaysPreTouch"

for q in "${QUERIES[@]}"; do
  # -Xms == -Xmx: same heap pin as build.sbt (round 10 — unpinned heaps
  # intermittently inflate task CPU via generation-resize commit churn)
  java -cp "$CP" $ADD_OPENS $GC_FLAGS \
    -Xms"${SPARK_DRIVER_MEM:-24g}" -Xmx"${SPARK_DRIVER_MEM:-24g}" \
    graft.ScaleSmoke "$q" 2>/dev/null | grep '^\[scale\]' || {
      echo "FAILED: $q"; exit 1; }
done

if [ $# -eq 0 ]; then
  java -cp "$CP" $ADD_OPENS -Xmx2g graft.ScaleSmoke --assemble
  echo "wrote BENCH_SCALE.json"
else
  echo "fragments in $PARTS (partial run; not assembling)"
fi
