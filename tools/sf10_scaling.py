#!/usr/bin/env python3
"""Merge an sf1 and an sf10 bench artifact into the per-round scaling
datapoint (bench_reports/sf10_r{N}.json).

The sf10 tier is 10x sf1 by construction (ScaleData.writeScaled applied
twice: 100x the driver's sf0.1), so the per-query sf10/sf1 wall ratio is
the direct evidence for the 100x design claims: ~<=10x means the query
scales at-or-better-than linearly in rows on fixed cores; anything above
10x must carry an adjudication (a named super-linear term or a measured
explanation), which this tool enforces by failing the build of the
artifact rather than writing an unadjudicated flag.

Usage:
  python3 tools/sf10_scaling.py <sf1_art> <sf10_art> <out> \
      [adjudications.json] [oracle_subset.json] [prev_round_out.json] \
      [spill_audit.json] [regression_verdicts.json]

adjudications.json: {"query_name": "why this exceeds 10x", ...}
Entries for queries that do NOT exceed the flag threshold are rejected
(a stale excuse must not ride along after a fix lands).

oracle_subset.json: a CORRECTNESS-format artifact from a
tools/validate.py run against the sf10 dir (the DuckDB-tractable query
subset); embedded verbatim so the scaling numbers and the correctness
evidence for the same tier live in one file. Any failing row aborts.

prev_round_out.json: the PRIOR round's output of this tool (e.g.
bench_reports/sf10_r17.json). When given, a ratio_delta_vs_prev block
is embedded so a round-over-round scaling REGRESSION (a ratio that got
worse, not just a slow absolute time) is machine-readable:
per-query ratio deltas plus a `regressions` list of queries whose
ratio worsened by more than REG_DELTA_X relatively AND REG_DELTA_ABS
absolutely (both, so sub-second jitter on tiny ratios doesn't flag).

spill_audit.json: a graft.Bench report (tools/bench.sh) over the sf10
dir. Its per-query task block `task_metrics` (spill, shuffle bytes,
peak task memory and task count from each query's first timed pass)
is the evidence for the sub-flag superlinear band (ratios between ~5x
and the 10x flag, where the adjudications.json path is rejected as
stale). Embedded verbatim as `spill_audit`, with every audited name
checked against the artifact's query set. A file that already is such
a block (`{"queries": {...}}`, optionally with inline notes) is
embedded as is.

regression_verdicts.json: {"query_name": "verdict", ...} — the
adjudication channel for the ratio_delta_vs_prev block (r18 verdict
ask #1: the regression rule must feed the gate, not stay
informational). Every name in the CURRENT round's `regressions` list
AND every name in the PREVIOUS artifact's `regressions` list (the
carried-over drift that this round must resolve) requires a verdict;
a missing one aborts the build, a verdict for a name in neither list
is rejected as stale. Current regressions are printed.
"""
import json
import sys

FLAG_RATIO = 10.0
REG_DELTA_X = 1.25    # ratio worsened by >25% relative ...
REG_DELTA_ABS = 0.5   # ... and by >0.5x absolute


def main() -> None:
    sf1_path, sf10_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    adj_path = sys.argv[4] if len(sys.argv) > 4 else None
    oracle_path = sys.argv[5] if len(sys.argv) > 5 else None
    prev_path = sys.argv[6] if len(sys.argv) > 6 else None
    audit_path = sys.argv[7] if len(sys.argv) > 7 else None
    verdicts_path = sys.argv[8] if len(sys.argv) > 8 else None
    sf1 = json.load(open(sf1_path))
    sf10 = json.load(open(sf10_path))
    adj = json.load(open(adj_path)) if adj_path else {}
    oracle = json.load(open(oracle_path)) if oracle_path else None
    if oracle is not None:
        def failing(v):
            if v.get("err") == "no_oracle":
                return False
            # an inline exclusion note (DuckDB-infeasible oracle) is an
            # adjudicated record, not a failure
            if str(v.get("err") or "").startswith("oracle_excluded"):
                return False
            if v.get("err") is not None:
                return True
            return not (v.get("rows_match") and v.get("schema_match")
                        and v.get("hash_match"))
        bad = [k for k, v in oracle.items()
               if not k.startswith("_") and failing(v)]
        if bad:
            sys.exit(f"sf10 oracle subset has failing rows: {bad}")

    q1, q10 = sf1["queries"], sf10["queries"]
    common = sorted(set(q1) & set(q10))
    if not common:
        sys.exit("no common queries between the two artifacts")
    only10 = sorted(set(q10) - set(q1))
    # graft.Bench records a query that failed every rep as -1 seconds;
    # a scaling artifact must never be built over one (a crash at 100x
    # would otherwise yield a negative ratio that sails under the flag
    # threshold, and a crash at sf1 would silently shift the median)
    broken = sorted(n for n in common if q1[n] < 0 or q10[n] < 0)
    if broken:
        sys.exit(f"failure-sentinel timings (-1) in the artifacts: {broken}")

    rows = {}
    flagged = []
    # a query whose sf1 time rounds to 0.000 has no ratio — but it must
    # not thereby ESCAPE adjudication: trivially-fast-at-sf1 plus
    # expensive-at-sf10 is exactly the shape the flag exists for
    ZERO_DENOM_ABS_S = 1.0
    for name in common:
        a, b = q1[name], q10[name]
        ratio = round(b / a, 3) if a > 0 else None
        entry = {"sf1_s": a, "sf10_s": b, "ratio": ratio}
        blown_zero = ratio is None and b > ZERO_DENOM_ABS_S
        if blown_zero:
            entry["zero_denominator_blowup"] = True
        if (ratio is not None and ratio > FLAG_RATIO) or blown_zero:
            flagged.append(name)
            if name not in adj:
                why = (f"scales {ratio}x (> {FLAG_RATIO}x)" if ratio is not None
                       else f"sf1 time rounds to 0 yet sf10 takes {b}s "
                            f"(> {ZERO_DENOM_ABS_S}s)")
                sys.exit(f"{name} {why} but has no adjudication — "
                         "explain it or fix it")
            entry["adjudication"] = adj[name]
        rows[name] = entry
    stale = sorted(set(adj) - set(flagged))
    if stale:
        sys.exit(f"adjudications for un-flagged queries (stale?): {stale}")

    out = {
        "note": ("sf1->sf10 scaling datapoint: 10x rows on fixed cores "
                 f"(cpus={sf10.get('cpus')}); ratio > {FLAG_RATIO}x requires "
                 "an adjudication (enforced by tools/sf10_scaling.py)"),
        "sf1_artifact": sf1_path,
        "sf10_artifact": sf10_path,
        "sf10_dir": sf10.get("sf"),
        "cpus": sf10.get("cpus"),
        "reps": {"sf1": sf1.get("reps"), "sf10": sf10.get("reps")},
        "generated_at": sf10.get("generated_at"),
        "subset_total_sf1_s": round(sum(q1[n] for n in common), 3),
        "subset_total_sf10_s": round(sum(q10[n] for n in common), 3),
        # index into the RATIO list, not rows: a == 0 entries have no
        # ratio and would otherwise skew (or overrun) the median index
        "median_ratio": (lambda rs: rs[len(rs) // 2])(sorted(
            r["ratio"] for r in rows.values() if r["ratio"] is not None)),
        "flagged_over_10x": flagged,
        "sf10_only_queries": only10,
        "queries": rows,
    }
    if oracle is not None:
        out["oracle_subset"] = oracle
    if prev_path:
        prev_art = json.load(open(prev_path))
        prev_rows = prev_art.get("queries", {})
        prev_regs = (prev_art.get("ratio_delta_vs_prev") or {}) \
            .get("regressions", []) or []
        verdicts = json.load(open(verdicts_path)) if verdicts_path else {}
        deltas = {}
        regressions = []
        for name, e in rows.items():
            pr = prev_rows.get(name, {}).get("ratio")
            if pr is not None and e["ratio"] is not None:
                deltas[name] = round(e["ratio"] - pr, 3)
                if (e["ratio"] > pr * REG_DELTA_X
                        and e["ratio"] - pr > REG_DELTA_ABS):
                    regressions.append(name)
        # the gate: every regression — this round's AND the carried-over
        # prev-round list this round must resolve — needs an inline
        # verdict, or the artifact refuses to build
        need = sorted(set(regressions) | (set(prev_regs) & set(rows)))
        missing = [n for n in need if n not in verdicts]
        if missing:
            sys.exit(f"ratio regressions without a verdict: {missing} — "
                     "re-run them under a quiet window and record the "
                     "verdict in regression_verdicts.json")
        stale_v = sorted(set(verdicts) - set(need))
        if stale_v:
            sys.exit(f"verdicts for non-regressed queries (stale?): {stale_v}")
        out["ratio_delta_vs_prev"] = {
            "prev_artifact": prev_path,
            "overlap": len(deltas),
            "regression_rule": (f"ratio > prev * {REG_DELTA_X} and "
                                f"ratio - prev > {REG_DELTA_ABS}"),
            "regressions": sorted(regressions),
            "prev_round_regressions": sorted(set(prev_regs) & set(rows)),
            "verdicts": {n: {
                "verdict": verdicts[n],
                "prev_ratio": prev_rows.get(n, {}).get("ratio"),
                "ratio": rows[n]["ratio"],
                "prev_sf10_s": prev_rows.get(n, {}).get("sf10_s"),
                "sf10_s": rows[n]["sf10_s"],
            } for n in need},
            "deltas": deltas,
        }
        if regressions:
            print(f"[scaling] RATIO REGRESSIONS vs {prev_path}: "
                  f"{sorted(regressions)} (verdicts recorded)")
    if audit_path:
        audit = json.load(open(audit_path))
        audit = audit.get("task_metrics", audit)
        unknown = sorted(set(audit.get("queries", {})) - set(rows))
        if unknown:
            sys.exit(f"spill_audit names not in the artifact: {unknown}")
        out["spill_audit"] = audit
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}: {len(rows)} queries, "
          f"median ratio {out['median_ratio']}, flagged: {flagged}")


if __name__ == "__main__":
    main()
