"""Which per-layer counters repeat exactly across traced runs.

    python3 perfbench/determinism.py [RUN_JSON ...]

Reads the detail files traced runs leave in ``.perfbench_work/runs/``
(default: every ``*-t1-*.json`` there), groups them by workload and seed,
and prints a markdown table: a counter repeats exactly when every group
holding two or more runs has a single value for it. Times are left out;
they never repeat.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from run import WORK, per_layer_names

TIME_UNITS = {"s", "ms"}


def main(paths: list[str]) -> int:
    paths = paths or sorted(glob.glob(os.path.join(WORK, "runs", "*-t1-*.json")))
    groups: dict[tuple[str, int], list[dict]] = {}
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        s = d["settings"]
        groups.setdefault((s["workload"], s["seed"]), []).append(d["metrics"])
    repeated = {k: v for k, v in groups.items() if len(v) >= 2}
    if not repeated:
        print("no workload/seed with two traced runs", file=sys.stderr)
        return 1
    workloads = sorted({w for w, _ in repeated})
    print("| counter | " + " | ".join(workloads) + " |")
    print("|---|" + "---|" * len(workloads))
    for name, unit in per_layer_names().items():
        if unit in TIME_UNITS:
            continue
        cells = []
        for w in workloads:
            runs = [(seed, r) for (wl, seed), rs in repeated.items() if wl == w for r in rs]
            exact = all(len({r[name] for r in rs}) == 1
                        for (wl, _), rs in repeated.items() if wl == w)
            values = [r[name] for _, r in runs]
            cells.append(f"exact ({values[0]:.6g})" if exact
                         else f"varies {min(values):.6g}..{max(values):.6g}")
        print(f"| `{name}` ({unit}) | " + " | ".join(cells) + " |")
    print()
    print("runs per workload/seed: " + ", ".join(
        f"{w} seed {s}: {len(v)}" for (w, s), v in sorted(repeated.items())))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
