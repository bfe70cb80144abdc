#!/usr/bin/env python3
"""Summarise the run records ``run.py`` leaves under ``.perfbench/runs``.

    python3 perfbench/report.py [--runs DIR]

For each workload and end-to-end metric: the median and quartile spread
over the untraced runs, the median over the traced runs, and the
tracing overhead (traced median over untraced median, minus one).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def unit(metric: str) -> str:
    return "ratio" if metric.endswith("_share") else "s"


def spread(values: list[float]) -> float | None:
    """Distance between the first and third quartile over the median."""
    if len(values) < 2 or statistics.median(values) == 0:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", default=os.path.join(ROOT, ".perfbench", "runs"))
    args = p.parse_args()
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(args.runs, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        key = (rec["stamp"]["workload"], rec["stamp"]["trace"])
        runs.setdefault(key, []).append(rec)

    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, 0), []), runs.get((workload, 1), [])
        failed = sum(r["failed"] for r in plain + traced)
        attempted = sum(r["attempted"] for r in plain + traced)
        print(f"{workload}: {len(plain)} untraced, {len(traced)} traced runs; "
              f"ops_failed_share={failed / max(1, attempted):.4g} ratio ({failed}/{attempted})")
        names = sorted({k for r in plain + traced for k in r["end_to_end"]})
        for name in names:
            a = [r["end_to_end"][name] for r in plain if name in r["end_to_end"]]
            b = [r["end_to_end"][name] for r in traced if name in r["end_to_end"]]
            cells = [f"  {name:<18} {unit(name):<6}"]
            if a:
                s = spread(a)
                cells.append(f"median {statistics.median(a):.4g}")
                cells.append("spread " + ("n/a" if s is None else f"{s:.3f}"))
            if b:
                cells.append(f"traced {statistics.median(b):.4g}")
            if a and b and statistics.median(a):
                cells.append(f"overhead {statistics.median(b) / statistics.median(a) - 1:+.1%}")
            print("  ".join(cells))


if __name__ == "__main__":
    main()
