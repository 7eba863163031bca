"""Round-over-round bench-pin comparison on per-key MEDIANS.

Round-10 VERDICT item 3: with only two pinned runs, one noisy pass
(dedup_winnow 7.01s in run1 vs 2.61s in run2) can flip a round's
regression verdict. bench.py now writes THREE passes per round
(forward/reverse/forward); this script reduces each key to a robust
per-round statistic and classifies the deltas:

- 3+ runs  → median (absorbs one outlier run entirely)
- 2 runs   → min (the statistic the round ≤10 judges actually used,
             so historical tags compare the way they were graded)

Usage: python scripts/compare_pins.py <old_tag> <new_tag> [threshold]
       e.g. python scripts/compare_pins.py r10 r11 1.3

Prints per-key ratios beyond the threshold in both directions plus the
common-key totals, and a spread line per flagged key (its min..max
across runs in each round) so "regression" vs "noise" is decidable
from the artifact: a key whose new-round spread CONTAINS the old
median is tagged noise-suspect, not a plan change, whichever way it
moved.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(tag: str) -> list[dict[str, float]]:
    runs = []
    for path in sorted(glob.glob(os.path.join(HERE, f"BENCH_PIN_{tag}_run*.json"))):
        with open(path) as fh:
            runs.append(json.load(fh)["queries"])
    if not runs:
        raise SystemExit(f"no BENCH_PIN_{tag}_run*.json found in {HERE}")
    return runs


def reduce_runs(runs: list[dict[str, float]]) -> dict[str, float]:
    keys = set().union(*runs)
    out = {}
    for k in keys:
        vals = [r[k] for r in runs if k in r]
        out[k] = statistics.median(vals) if len(vals) >= 3 else min(vals)
    return out


def spread(runs: list[dict[str, float]], k: str) -> str:
    vals = [r[k] for r in runs if k in r]
    return f"{min(vals):.2f}..{max(vals):.2f}"


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    old_tag, new_tag = args[0], args[1]
    thresh = float(args[2]) if len(args) > 2 else 1.3
    old_runs, new_runs = load_runs(old_tag), load_runs(new_tag)
    old, new = reduce_runs(old_runs), reduce_runs(new_runs)
    common = sorted(set(old) & set(new))
    t_old = sum(old[k] for k in common)
    t_new = sum(new[k] for k in common)
    print(
        f"common {len(common)} keys: {old_tag} {t_old:.1f}s -> "
        f"{new_tag} {t_new:.1f}s ({t_new / t_old:.2f}x)  "
        f"[{len(old_runs)} vs {len(new_runs)} runs, median>=3/min<3]"
    )
    flagged = []
    for k in common:
        r = new[k] / old[k] if old[k] else float("inf")
        if r >= thresh or r <= 1 / thresh:
            flagged.append((r, k))
    for r, k in sorted(flagged, reverse=True):
        # noise test: does the new-round spread contain the old median?
        vals = [runs[k] for runs in new_runs if k in runs]
        noise = min(vals) <= old[k] <= max(vals)
        print(
            f"{'REGRESS' if r > 1 else 'improve':7s} {k:28s} "
            f"{old[k]:6.2f} -> {new[k]:6.2f}  ({r:.2f}x)  "
            f"old spread {spread(old_runs, k)}, new spread {spread(new_runs, k)}"
            f"{'  [spread overlaps old median -> noise-suspect]' if noise else ''}"
        )
    only_new = sorted(set(new) - set(old))
    if only_new:
        print(f"new-only keys ({len(only_new)}): " + ", ".join(only_new))


if __name__ == "__main__":
    main()
