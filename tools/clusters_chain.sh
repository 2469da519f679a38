#!/bin/bash
# Chain-graph clusters benchmark + oracle, one command:
#   tools/clusters_chain.sh [artifactOut]
#
# Runs on BenchData's clusterschain0.1 tier (the sf0.1 documents plus a
# 64-doc sequential-overlap chain, a duplicate graph of diameter 63):
# 1. tools/bench.sh times dedup_clusters on it (noop sink, min over
#    interleaved passes, per-query task metrics);
# 2. the same dir runs through the NORMAL oracle gate
#    (SPARK_GRAFT_VERIFY_QUERIES=dedup_clusters tools/verify.sh), so the
#    large-star/small-star labels are adjudicated by the
#    exact recursive-CTE DuckDB oracle, not self-checked;
# 3. the bench report and the oracle verdict merge into one artifact.
set -e
OUT=${1:-bench_reports/clusters_chain.json}
CHAIN_DIR=target/benchdata/clusterschain0.1
cd /root/repo
[ -d "$CHAIN_DIR/documents.parquet" ] || {
  echo "[clusters-chain] no $CHAIN_DIR — run BenchData first:" >&2
  echo "  tools/verify.sh /root/testdata/sf0.1 target/benchdata graft.BenchData" >&2
  exit 1
}

REPORT=/tmp/chain_bench_report.json
rm -f "$REPORT"
tools/bench.sh "$CHAIN_DIR" "$REPORT" dedup_clusters

VERIFY_OUT=/tmp/chain_verify_out
ORACLE_LOG=/tmp/chain_oracle.log
SPARK_GRAFT_VERIFY_QUERIES=dedup_clusters tools/verify.sh "$CHAIN_DIR" "$VERIFY_OUT" \
  > "$ORACLE_LOG" 2>&1 || true
grep -E "^OK   dedup_clusters|^FAIL dedup_clusters|^ERR" "$ORACLE_LOG" || true
if grep -q "^OK   dedup_clusters" "$ORACLE_LOG"; then ORACLE=true; else ORACLE=false; fi

python3 - "$REPORT" "$ORACLE" "$OUT" <<'PY'
import json, sys
art = json.load(open(sys.argv[1]))
art["oracle_labels_match"] = sys.argv[2] == "true"
art["oracle"] = "DuckDB recursive-CTE transitive closure (clustersSql) on the planted dir, full rows+schema+hash gate"
with open(sys.argv[3], "w") as f:
    json.dump(art, f, indent=1)
    f.write("\n")
print(f"[clusters-chain] artifact written to {sys.argv[3]}: oracle_labels_match={art['oracle_labels_match']}")
PY
