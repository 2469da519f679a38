#!/usr/bin/env python3
"""Ledger check: every artifact filename the repo's claims name must exist.

The r19 verdict found BASELINE.md claiming a full sf10 oracle
re-execution and naming `CORRECTNESS_sf10_r19.json` — a file that was
never committed. A measurement ledger whose claims can't be checked
against committed files defeats the per-round artifact discipline;
this check kills that defect class at round close.

Two scans:

1. BASELINE.md — tokens that look like artifact filenames
   (CORRECTNESS_*.json, BENCH_*.json, QUALITY_*.json, and any *.json
   under bench_reports/), each resolved against the repo root and
   bench_reports/.

2. Source-cited artifacts (added r22 — the r21 defect was a shipped
   scaladoc citing `OPTIMIZATION_r21.md`, a file that did not exist,
   which the BASELINE.md-only scan walked straight past): every
   `OPTIMIZATION_r<N>.md`, `bench_reports/<name>.json`, or
   `plans/r<N>/<name>` token in `src/**/*.scala` and `OPTIMIZATION_*.md`
   must resolve. Tokens containing `example` are illustrative
   placeholders and are skipped, as are transient `target/` paths.

Exit 1 with the missing list otherwise.

Usage: python3 tools/check_ledger.py [repo_root]
"""
import re
import sys
from pathlib import Path


def resolves(root: Path, name: str) -> bool:
    rel = name.lstrip("./")
    # target/ paths are transient build outputs (e.g. the
    # target/bench_report.json write-path contract) — path
    # documentation, not measurement claims; never required at rest
    if rel.startswith("target/"):
        return True
    dirs = [root] if "/" in rel else [root, root / "bench_reports"]
    if "*" in rel:  # prose globs (`sf*_r15_cpus8.json`) match by glob
        return any(list(d.glob(rel)) for d in dirs)
    return any((d / rel).is_file() for d in dirs)


def main() -> int:
    root = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).parent.parent
    missing = []

    # --- scan 1: BASELINE.md artifact names (bare or path-qualified) ---
    text = (root / "BASELINE.md").read_text()
    names = set(re.findall(r"[A-Za-z0-9_*./-]*[A-Za-z0-9_]+_[A-Za-z0-9_]+\.json", text))
    for name in sorted(names):
        if not resolves(root, name):
            missing.append(f"BASELINE.md: {name}")

    # --- scan 2: source-cited artifacts ---
    cited = re.compile(
        r"OPTIMIZATION_r\d+\.md"
        r"|bench_reports/[A-Za-z0-9_.*-]+\.json"
        # the trailing char class excludes '.' so a sentence-ending
        # period after a citation isn't swallowed into the filename
        r"|plans/r\d+/[A-Za-z0-9_.*-]*[A-Za-z0-9_*-]")
    sources = sorted(root.glob("src/**/*.scala")) + sorted(root.glob("OPTIMIZATION_*.md"))
    for src in sources:
        for name in sorted(set(cited.findall(src.read_text()))):
            if "example" in name:
                continue
            if not resolves(root, name):
                missing.append(f"{src.relative_to(root)}: {name}")

    if missing:
        print("LEDGER CHECK FAILED — claims name artifacts missing from "
              "the tree:")
        for name in missing:
            print(f"  {name}")
        return 1
    print(f"ledger check ok: {len(names)} BASELINE.md names and all "
          "source-cited artifacts resolve to committed files")
    return 0


if __name__ == "__main__":
    sys.exit(main())
