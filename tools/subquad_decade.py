#!/usr/bin/env python3
"""Build the third-decade scaling artifact for the sub-quadratic
dedup/ANN family (r18 verdict ask #5).

The 100 TB posture of the similarity tier rests on the claim that its
plans are corpus-linear (bucketed probes, banded LSH, IVF's ~nprobe/K
scan) rather than pair-quadratic. Two decades (sf1->sf10) are already
measured in bench_reports/sf10_r{N}.json; this tool adds the third:
an sf100sub corpus (10x the sf10 documents/embeddings, ScaleData's
SPARK_GRAFT_SF100_SUBQUAD tier) benched over just that family, with
each query's sf10->sf100 ratio compared against its own sf1->sf10
ratio. A linear-in-corpus plan should hold the per-decade ratio
roughly flat; a hidden quadratic term would multiply it by ~10.

Usage:
  python3 tools/subquad_decade.py <sf10_scaling.json> <sf100_bench.json> \
      <out> [adjudications.json]

sf10_scaling.json: the current round's tools/sf10_scaling.py output
  (carries per-query sf1_s and sf10_s, i.e. the prior decade).
sf100_bench.json: a graft.Bench report from the sf100sub corpus
  restricted to the sub-quadratic family.
adjudications.json: {"query": "why this decade's ratio exceeds
  RATIO_GROWTH_X times the prior decade's", ...} — notes for
  un-flagged queries abort (stale-excuse guard).
"""
import json
import sys

RATIO_GROWTH_X = 1.5


def main() -> None:
    scal_path, sf100_path, out_path = sys.argv[1], sys.argv[2], sys.argv[3]
    adj = json.load(open(sys.argv[4])) if len(sys.argv) > 4 else {}
    scal = json.load(open(scal_path))
    sf100 = json.load(open(sf100_path))
    q100 = sf100["queries"]
    prev = scal["queries"]
    common = sorted(set(q100) & set(prev))
    if not common:
        sys.exit("no overlap between the sf100 bench and the scaling artifact")
    broken = [n for n in common if q100[n] < 0]
    if broken:
        sys.exit(f"failure-sentinel timings (-1) at sf100: {broken}")
    rows = {}
    flagged = []
    for n in common:
        s1, s10 = prev[n]["sf1_s"], prev[n]["sf10_s"]
        s100 = q100[n]
        d1 = round(s10 / s1, 3) if s1 > 0 else None
        d2 = round(s100 / s10, 3) if s10 > 0 else None
        rows[n] = {"sf1_s": s1, "sf10_s": s10, "sf100_s": s100,
                   "decade1_ratio": d1, "decade2_ratio": d2}
        # flag when this decade's ratio grows past RATIO_GROWTH_X times
        # the prior decade's — the shape of a super-linear term kicking
        # in with corpus size, which the linear-plan claims forbid
        if d1 is not None and d2 is not None and d2 > d1 * RATIO_GROWTH_X:
            flagged.append(n)
            if n not in adj:
                sys.exit(f"{n}: decade2 ratio {d2} > {RATIO_GROWTH_X}x "
                         f"decade1 ratio {d1} with no adjudication — "
                         "explain it or fix it")
            rows[n]["adjudication"] = adj[n]
    stale = sorted(set(adj) - set(flagged))
    if stale:
        sys.exit(f"adjudications for un-flagged queries (stale?): {stale}")
    ratios = sorted(r["decade2_ratio"] for r in rows.values()
                    if r["decade2_ratio"] is not None)
    out = {
        "note": ("third batch-scale decade for the sub-quadratic "
                 "dedup/ANN family: sf100sub is 10x the sf10 documents/"
                 "embeddings (5M docs, 2M vectors) on fixed cores; a "
                 f"decade2 ratio > {RATIO_GROWTH_X}x the query's own "
                 "decade1 ratio requires an inline adjudication "
                 "(enforced by tools/subquad_decade.py)"),
        "scaling_artifact": scal_path,
        "sf100_artifact": sf100_path,
        "sf100_dir": sf100.get("sf"),
        "cpus": sf100.get("cpus"),
        "reps_sf100": sf100.get("reps"),
        "generated_at": sf100.get("generated_at"),
        "median_decade2_ratio": ratios[len(ratios) // 2],
        "flagged_growth": flagged,
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"wrote {out_path}: {len(rows)} queries, median decade2 ratio "
          f"{out['median_decade2_ratio']}, flagged: {flagged}")


if __name__ == "__main__":
    main()
