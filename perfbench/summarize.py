"""Summarize sets of benchmark runs: per workload and metric, the median,
quartiles and spread (IQR / median) of the runs' values, as Markdown.

    python3 perfbench/summarize.py perfbench/baseline/set1 perfbench/baseline/set2

Each directory holds one stdout file per run (`<workload>-seed<n>.out`),
whose last line is the run's JSON result. With two or more directories,
the last column compares each set's median with the first set's.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from stats import quartiles, spread


def load(directory: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values, one per run; raises on a failed run."""
    out: dict[str, dict[str, list[float]]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*-seed*.out"))):
        workload = os.path.basename(path).rsplit("-seed", 1)[0]
        with open(path) as f:
            res = json.loads(f.read().strip().splitlines()[-1])
        if not res["correct"]:
            raise ValueError(f"{path}: run failed its output checks")
        for name, m in res["metrics"].items():
            out.setdefault(workload, {}).setdefault(name, []).append(m["value"])
    return out


def main(dirs: list[str]) -> None:
    sets = [load(d) for d in dirs]
    print("| workload | metric | set | n | median | q1 | q3 | spread | vs first |")
    print("| --- | --- | --- | --- | --- | --- | --- | --- | --- |")
    for workload in sorted(sets[0]):
        for name in sets[0][workload]:
            first = quartiles(sets[0][workload][name])[1]
            for d, s in zip(dirs, sets):
                vals = s[workload][name]
                q1, med, q3 = quartiles(vals)
                print(f"| {workload} | {name} | {os.path.basename(d)} | "
                      f"{len(vals)} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
                      f"{spread(vals):.3f} | {med / first - 1:+.3f} |")


if __name__ == "__main__":
    main(sys.argv[1:])
