#!/usr/bin/env python3
"""Build the multi-JVM bench artifact (r17 verdict ask #3): per-query
local-cluster vs local[32] wall factors for the scale-sensitive tier.

Usage:
  python3 tools/cluster_compare.py <cluster_bench.json> <local_bench.json> \
      <out> [notes.json]

cluster_bench.json: graft.Bench full report from a
  SPARK_GRAFT_MASTER='local-cluster[...]' run (the artifact records its
  master; this tool refuses a local[N] one).
local_bench.json: the comparator graft.Bench report from a local[N]
  run on the same corpus (e.g. the committed full-catalog sf1 epoch).
notes.json: {"query": "why this query's factor exceeds FLAG_FACTOR", ...}
  — same stale-excuse guard as sf10_scaling.py: notes for un-flagged
  queries abort.

The factor isolates executor-JVM serialization + real (if network-less)
shuffle cost when the cluster's total task slots match the local run's
threads; the artifact records both configs so a slot mismatch is
visible rather than silently read as overhead.
"""
import json
import sys

FLAG_FACTOR = 2.0


def main() -> None:
    cl_path, lo_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    notes = json.load(open(sys.argv[4])) if len(sys.argv) > 4 else {}
    cl = json.load(open(cl_path))
    lo = json.load(open(lo_path))
    master = cl.get("master") or ""
    if not master.startswith("local-cluster"):
        sys.exit(f"cluster artifact's master is '{master}', not local-cluster")
    lo_master = lo.get("master") or f"local[{lo.get('cpus')}]"
    if lo_master.startswith("local-cluster"):
        sys.exit("comparator artifact must be a local[N] run")
    # same corpus or the factors are meaningless: a mismatched pairing
    # in the flattering direction (sf0.1 cluster vs sf1 local) yields
    # sub-1.0 factors that sail under the flag — refuse, like the
    # master-string checks above
    if cl.get("sf") != lo.get("sf"):
        sys.exit(f"corpus mismatch: cluster benched {cl.get('sf')!r} but "
                 f"local benched {lo.get('sf')!r}")
    if cl.get("reps") != lo.get("reps"):
        print(f"WARNING: reps differ (cluster {cl.get('reps')} vs local "
              f"{lo.get('reps')}) — factors compare best-of different "
              "sample sizes", file=sys.stderr)
    common = sorted(set(cl["queries"]) & set(lo["queries"]))
    if not common:
        sys.exit("no common queries")
    broken = [n for n in common if cl["queries"][n] < 0 or lo["queries"][n] < 0]
    if broken:
        sys.exit(f"failure-sentinel timings (-1): {broken}")
    rows = {}
    flagged = []
    # a query whose local time rounds to 0.000 has no factor — but
    # trivially-fast-locally yet slow-on-the-cluster is exactly the
    # shape the flag exists for (same guard as sf10_scaling.py's
    # zero_denominator_blowup)
    ZERO_DENOM_ABS_S = 1.0
    for n in common:
        c, l = cl["queries"][n], lo["queries"][n]
        f = round(c / l, 3) if l > 0 else None
        rows[n] = {"cluster_s": c, "local_s": l, "factor": f}
        blown_zero = f is None and c > ZERO_DENOM_ABS_S
        if blown_zero:
            rows[n]["zero_denominator_blowup"] = True
        if (f is not None and f > FLAG_FACTOR) or blown_zero:
            flagged.append(n)
            if n not in notes:
                why = (f"runs {f}x its local time" if f is not None else
                       f"local time rounds to 0 yet the cluster takes {c}s "
                       f"(> {ZERO_DENOM_ABS_S}s)")
                sys.exit(f"{n} {why} but has no note — explain it or fix it")
            rows[n]["note"] = notes[n]
    stale = sorted(set(notes) - set(flagged))
    if stale:
        sys.exit(f"notes for un-flagged queries (stale?): {stale}")
    factors = sorted(r["factor"] for r in rows.values() if r["factor"] is not None)
    out = {
        "note": (f"multi-JVM executors vs single-JVM local: factor > "
                 f"{FLAG_FACTOR}x requires an inline note "
                 "(enforced by tools/cluster_compare.py)"),
        "cluster_artifact": cl_path,
        "local_artifact": lo_path,
        "cluster_master": master,
        "local_master": lo_master,
        "sf": cl.get("sf"),
        "reps": {"cluster": cl.get("reps"), "local": lo.get("reps")},
        "subset_total_cluster_s": round(sum(cl["queries"][n] for n in common), 3),
        "subset_total_local_s": round(sum(lo["queries"][n] for n in common), 3),
        "median_factor": factors[len(factors) // 2],
        "flagged_over_2x": flagged,
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}: {len(rows)} queries, "
          f"median factor {out['median_factor']}, flagged: {flagged}")


if __name__ == "__main__":
    main()
