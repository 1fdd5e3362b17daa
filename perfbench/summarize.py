"""Summarize sets of benchmark runs of one workload.

    python3 perfbench/summarize.py runs-a.jsonl [runs-b.jsonl]

Each file holds the result lines (the last stdout line of run.py) of one
set of runs, one per line, typically one per seed. For every metric the
summary gives the median and the quartile spread, (Q3 - Q1) / median, next
to the metric's bound in BENCHMARK.json. With a second set it also gives
how much worse the second median is than the first, as a share of the
first, and whether that stays within the bound. Exits 1 when a run was
incorrect, a spread other than setup_s exceeds its bound, or the second
median is worse than the bound allows.
"""

from __future__ import annotations

import json
import os
import sys

from stats import median, quartile_spread, worse_by

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    sets = [load(p) for p in argv]
    ok = all(r["correct"] for runs in sets for r in runs)
    names = [n for n in metrics if n in sets[0][0]["metrics"]]
    for name in names:
        m = metrics[name]
        bound = m.get("bound")
        row = f"{name:34s} {m['unit']:6s}"
        meds = []
        for runs in sets:
            xs = [r["metrics"][name]["value"] for r in runs]
            meds.append(median(xs))
            spread = quartile_spread(xs) if len(xs) > 1 else float("nan")
            row += f"  n={len(xs):2d} median {meds[-1]:12.5g} spread {spread:6.3f}"
            if bound is not None and name != "setup_s" and spread > bound:
                ok = False
        if bound is not None:
            row += f"  bound {bound:.3f}"
            if len(meds) == 2:
                w = worse_by(meds[0], meds[1], m["better"])
                row += f"  worse_by {w:+.3f}"
                ok = ok and w <= bound
        print(row)
    print("PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
