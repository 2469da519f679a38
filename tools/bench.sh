#!/bin/bash
# Fresh-JVM bench driver: tools/bench.sh <sfDir> <reportPath> [queries] [reps]
# Mirrors verify.sh's JVM flags plus the sf10-tier GCLocker mitigation
# (BASELINE.md r19: JNI read-ahead + G1 spurious OOM on long spills).
set -e
set -o pipefail
SF=${1:?sfDir}
REPORT=${2:?reportPath}
QUERIES=${3:-}
REPS=${4:-2}
# SPARK_GRAFT_CP overrides the engine classes (e.g. a prior round's HEAD
# compiled into a scratch clone) so before/after focused benches run the
# SAME script + JVM flags with only the code under test swapped.
CP="/opt/spark/jars/*:${SPARK_GRAFT_CP:-/root/repo/target/scala-2.13/classes}"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
[ -n "$QUERIES" ] && export SPARK_GRAFT_BENCH_QUERIES="$QUERIES"
# pipefail + grep scoped so a crashed Bench JVM (OOM, classpath error)
# fails the script, while a grep that filters every line does not
SPARK_GRAFT_BENCH_REPS=$REPS \
SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_REPORT_PATH="$REPORT" \
java $OPENS -Xmx12g -XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=32 \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" graft.Bench 2>&1 | { grep -vE '^2[0-9/]' || true; }
[ -f "$REPORT" ] || { echo "[bench.sh] FAILED: no report at $REPORT" >&2; exit 1; }
