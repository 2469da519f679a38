#!/bin/bash
# Dev loop: run graft.Verify directly (no sbt JVM startup), then the
# DuckDB comparison. Usage: tools/verify.sh [sfDir] [outDir] [mainClass] [mainArgs...]
# (mainArgs follow sfDir and outDir on the main's command line)
set -e
SF=${1:-/root/testdata/sf0.01}
OUT=${2:-/tmp/verify_out}
MAIN=${3:-graft.Verify}
CP="/opt/spark/jars/*:/root/repo/target/scala-2.13/classes"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
rm -rf "$OUT"
# local-cluster masters (SPARK_GRAFT_MASTER) spawn executor JVMs via the
# in-process Worker, whose command builder needs both of these: a release
# distro has no launcher/target build dir, so the scala version must come
# from the env (load-spark-env.sh would set it under spark-submit)
export SPARK_HOME="${SPARK_HOME:-/opt/spark}"
export SPARK_SCALA_VERSION="${SPARK_SCALA_VERSION:-2.13}"
SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-8} java $OPENS -Xmx12g \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -cp "$CP" "$MAIN" "$SF" "$OUT" "${@:4}" 2>&1 | grep -v '^2[0-9/]*' || true
if [ "$MAIN" = "graft.Verify" ]; then
  # sf1 runs emit the driver-format artifact for the CURRENT round
  # (latest committed CORRECTNESS_r{N} + 1), so 10x-scale oracle
  # coverage is a per-round file, not prose. Override the path with
  # SPARK_GRAFT_CORRECTNESS_OUT; subset runs never write one.
  ART="${SPARK_GRAFT_CORRECTNESS_OUT:-}"
  if [ -z "$ART" ] && [ -z "${SPARK_GRAFT_VERIFY_QUERIES:-}" ] \
      && [[ "$SF" == */sf1 || "$SF" == */sf1/ ]]; then
    # max over BOTH artifact families: if this round's sf1 artifact is
    # already committed but the driver's CORRECTNESS_r{N} is not yet, a
    # re-run must still advance, not clobber the committed file.
    # COMMITTED artifacts only (git ls-files): a stray/uncommitted
    # CORRECTNESS_r*.json in the working tree must not inflate N and
    # land the sf1 artifact under a future round's label.
    N=$(git -C /root/repo ls-files 'CORRECTNESS_r*.json' 'CORRECTNESS_sf1_r*.json' \
        | sed 's/.*_r0*\([0-9]*\)\.json/\1/' | sort -n | tail -1)
    [ -n "$N" ] && ART="/root/repo/CORRECTNESS_sf1_r$((N + 1)).json"
    if [ -n "$ART" ] && [ -e "$ART" ]; then
      echo "[verify] WARNING: $ART already exists (uncommitted re-run this round) — overwriting" >&2
    fi
  fi
  python3 /root/repo/tools/validate.py "$SF" "$OUT" $ART
fi
