"""Summarise saved benchmark runs.

    python3 perfbench/report.py [results-dir]

Reads the per-run files ``run.py`` leaves in ``.perfbench/results`` and
prints, per workload, every end-to-end metric's median, quartiles and
spread (quartile distance over median) across the untraced runs, the
tracing overhead (traced median minus untraced median, over the untraced
median) and the median of every per-layer metric across the traced runs.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main(argv: list[str]) -> None:
    src = argv[0] if argv else os.path.join(ROOT, ".perfbench", "results")
    runs = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(src, "*-t[01].json"))):
        with open(path) as f:
            r = json.load(f)
        runs[r["workload"], r["trace"]].append(r)
    for wl in sorted({w for w, _t in runs}):
        plain, traced = runs.get((wl, 0), []), runs.get((wl, 1), [])
        base = plain or traced
        units = base[0]["units"]
        failed = sum(r["checks"]["failed"] for r in base)
        attempted = sum(r["checks"]["attempted"] for r in base)
        print(f"\n## {wl}: {len(plain)} untraced, {len(traced)} traced runs, "
              f"{failed} of {attempted} answer checks failed")
        print("| metric | unit | median | q1 | q3 | spread | traced median | overhead |")
        print("|---|---|---|---|---|---|---|---|")
        for m in base[0]["end_to_end"]:
            xs = [r["end_to_end"][m] for r in plain if m in r["end_to_end"]]
            ts = [r["end_to_end"][m] for r in traced if m in r["end_to_end"]]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else 0.0
            tmed = statistics.median(ts) if ts else float("nan")
            over = (tmed - med) / med if ts and med else float("nan")
            print(f"| {m} | {units.get(m, '')} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | "
                  f"{tmed:.4g} | {over:+.3f} |")
        if traced:
            print(f"\n| {wl} layer metric | unit | median of {len(traced)} traced runs |")
            print("|---|---|---|")
            for m in traced[0]["layers"]:
                if m in units:
                    print(f"| {m} | {units[m]} | {statistics.median(r['layers'].get(m, 0.0) for r in traced):.4g} |")


if __name__ == "__main__":
    main(sys.argv[1:])
