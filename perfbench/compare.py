"""Compare two result sets of the benchmark, metric by metric.

    python3 perfbench/compare.py parent.txt change.txt

A result set is one or more files holding the captured stdout of
``perfbench/run.py`` runs (``--trace 0``), concatenated in the order the
runs were made; the settings line before each result line names its
workload. Runs pair up in order: the i-th run of a workload in the
parent set with the i-th in the change set -- alternate which side runs
first when collecting them.

Per workload and end-to-end metric this prints each side's median and
quartiles, the pairs the change wins (ties count for neither side) and a
verdict:

- ``gain``: the change wins at least nine tenths of all pairs and the
  medians differ, in its favour, by more than the parent's quartile
  spread;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
- ``unresolved``: the parent's own quartile spread is wider than the
  bound and not every change run beats every parent run;
- ``same`` otherwise.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict
from pathlib import Path

BENCHMARK = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def load(paths: list[str]) -> dict[str, list[dict[str, float]]]:
    """workload -> the metric values of each run, in file order."""
    runs: dict[str, list[dict[str, float]]] = defaultdict(list)
    for path in paths:
        workload = None
        for line in Path(path).read_text().splitlines():
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "workload" in obj:
                workload = obj["workload"]
            elif "metrics" in obj and workload is not None:
                runs[workload].append(
                    {k: v["value"] for k, v in obj["metrics"].items()})
                workload = None
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], better: str,
            bound: float) -> tuple[str, int, int]:
    """(verdict, change wins, pairs compared)."""
    sign = 1 if better == "higher" else -1
    pairs = list(zip(parent, change))
    wins = sum(sign * (c - p) > 0 for p, c in pairs)
    p1, pm, p3 = quartiles(parent)
    cm = quartiles(change)[1]
    gain = sign * (cm - pm)
    if pairs and wins >= 0.9 * len(pairs) and gain > p3 - p1:
        return "gain", wins, len(pairs)
    if pm and (p3 - p1) / abs(pm) > bound and not (
            min(sign * c for c in change) > max(sign * p for p in parent)):
        return "unresolved", wins, len(pairs)
    if pm and -gain / abs(pm) > bound:
        return "regression", wins, len(pairs)
    return "same", wins, len(pairs)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", help="result file of the parent commit")
    ap.add_argument("change", help="result file of the change")
    args = ap.parse_args(argv)
    spec = json.loads(BENCHMARK.read_text())
    parent, change = load([args.parent]), load([args.change])
    for workload in sorted(set(parent) & set(change)):
        print(f"{workload}  ({len(parent[workload])} parent runs, "
              f"{len(change[workload])} change runs)")
        print(f"  {'metric':18s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s}"
              f" {'wins':>7s}  verdict")
        for m in spec["end_to_end"]:
            p = [r[m["name"]] for r in parent[workload]]
            c = [r[m["name"]] for r in change[workload]]
            v, wins, n = verdict(p, c, m["better"], m["bound"])
            fmt = "/".join
            print(f"  {m['name']:18s} {fmt(f'{x:.4g}' for x in quartiles(p)):>30s}"
                  f" {fmt(f'{x:.4g}' for x in quartiles(c)):>30s}"
                  f" {wins:>3d}/{n:<3d}  {v}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
