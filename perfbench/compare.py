#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or report the spread of one set.

    python3 perfbench/compare.py CHANGE_DIR                # spread only
    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR     # parent vs change

Each directory holds one file per run, named `<workload>.<n>.json`, whose
last line is the JSON line perfbench/run.py printed (perfbench/sweep.py
writes them). Run i of the parent is paired with run i of the change, so
make the runs alternately. One row per workload and metric: median and
quartiles of each side, the share of pairs the change won, and a verdict:

  unresolved  the parent's quartile spread (q3 - q1, as a share of its
              median) is wider than the metric's bound, and the change did
              not beat the parent on every run;
  worse       the change's median is worse than the parent's by more than
              the bound;
  better      the change won at least 9/10 of the pairs and the medians
              differ by more than the parent's quartile spread;
  same        otherwise.

Bounds and directions come from BENCHMARK.json beside this directory.
"""
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load_spec():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}


def load_runs(d):
    """{workload: [metrics dict per run, in file-name order]}"""
    runs = defaultdict(list)
    for f in sorted(Path(d).glob("*.json")):
        lines = [l for l in f.read_text().splitlines() if l.strip()]
        runs[f.name.split(".")[0]].append(json.loads(lines[-1]))
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(parent, change, better, bound):
    """Verdict row for one metric; `better` is "lower" or "higher"."""
    sign = 1 if better == "lower" else -1
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    pairs = list(zip(parent, change))
    won = sum(1 for p, c in pairs if sign * (p - c) > 0)
    worse_by = sign * (cm - pm) / pm if pm else 0.0
    if spread(parent) > bound and not all(sign * (p - c) > 0 for p in parent for c in change):
        v = "unresolved"
    elif worse_by > bound:
        v = "worse"
    elif pairs and won >= 0.9 * len(pairs) and abs(cm - pm) > (p3 - p1):
        v = "better"
    else:
        v = "same"
    return {"parent": (pm, p1, p3), "change": (cm, c1, c3),
            "won": f"{won}/{len(pairs)}", "delta": -worse_by, "verdict": v}


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    spec = load_spec()
    sets = [load_runs(d) for d in argv[1:]]
    for workload in sorted(sets[-1]):
        for name in sorted(sets[-1][workload][0]["metrics"]):
            m = spec.get(name, {})
            series = [[r["metrics"][name]["value"] for r in s.get(workload, [])
                       if name in r["metrics"]] for s in sets]
            unit = sets[-1][workload][0]["metrics"][name]["unit"]
            bound = m.get("bound")
            if len(sets) == 1:
                xs = series[0]
                q1, q2, q3 = quartiles(xs)
                sp = spread(xs)
                flag = "" if bound is None else ("ok" if sp <= bound / 3 else
                                                 "wide" if sp <= bound else "OVER BOUND")
                print(f"{workload:10} {name:32} n={len(xs):2} median={q2:.6g}{unit} "
                      f"q1={q1:.6g} q3={q3:.6g} spread={sp:.2%} "
                      f"bound={'-' if bound is None else f'{bound:.0%}'} {flag}")
            elif series[0] and series[1]:
                r = verdict(series[0], series[1], m.get("better", "lower"),
                            bound if bound is not None else float("inf"))
                (pm, p1, p3), (cm, c1, c3) = r["parent"], r["change"]
                print(f"{workload:10} {name:32} parent={pm:.6g} [{p1:.6g},{p3:.6g}] "
                      f"change={cm:.6g} [{c1:.6g},{c3:.6g}] {unit} "
                      f"gain={r['delta']:+.2%} won={r['won']} {r['verdict']}")


if __name__ == "__main__":
    main(sys.argv)
