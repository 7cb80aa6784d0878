"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory is searched for the ``record.json`` files that
``run.py`` writes (by default under ``perfbench/_work/results/``).
For every workload and end-to-end metric the command prints each
side's median and quartiles over its untraced runs, their spread
(inter-quartile distance over the median) and a verdict against the
metric's bound from ``BENCHMARK.json``:

- ``ok``: NEW's median is not worse than BASE's by more than the bound;
- ``WORSE``: it is;
- ``NOISY``: a side's own spread exceeds the bound, so the pair is
  unresolved.

The exit code is 1 when any verdict is WORSE, else 0.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_records(top: str) -> dict[str, list[dict]]:
    """Untraced records under ``top``, by workload."""
    out: dict[str, list[dict]] = {}
    for path in glob.glob(os.path.join(top, "**", "record.json"), recursive=True):
        with open(path) as fh:
            rec = json.load(fh)
        if not rec.get("traced"):
            out.setdefault(rec["workload"], []).append(rec)
    return out


def verdict(base: list[float], new: list[float], bound: float, better: str) -> str:
    if stats.relative_spread(base) > bound or stats.relative_spread(new) > bound:
        return "NOISY"
    b, n = stats.median(base), stats.median(new)
    worse = (n - b) / b if better == "lower" else (b - n) / b
    return "WORSE" if worse > bound else "ok"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two benchmark result sets.")
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, new = load_records(args.base), load_records(args.new)
    worse = False
    print(f"{'workload':16} {'metric':20} {'side':4} {'n':>3} {'q1':>10} "
          f"{'median':>10} {'q3':>10} {'spread':>7}  verdict")
    for wl in sorted(set(base) | set(new)):
        for m in spec["end_to_end"]:
            name = m["name"]
            sides = {
                "base": [r["metrics"][name] for r in base.get(wl, [])],
                "new": [r["metrics"][name] for r in new.get(wl, [])],
            }
            for side, vals in sides.items():
                if not vals:
                    print(f"{wl:16} {name:20} {side:4}   0  (no runs)")
                    continue
                q1, q2, q3 = stats.quartiles(vals)
                print(f"{wl:16} {name:20} {side:4} {len(vals):3d} {q1:10.4g} "
                      f"{q2:10.4g} {q3:10.4g} {stats.relative_spread(vals):7.3f}")
            if sides["base"] and sides["new"]:
                v = verdict(sides["base"], sides["new"], m["bound"], m["better"])
                worse |= v == "WORSE"
                change = (
                    stats.median(sides["new"]) / stats.median(sides["base"]) - 1.0
                )
                print(f"{'':16} {name:20} change {change:+.3f} "
                      f"(bound {m['bound']})  {v}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
