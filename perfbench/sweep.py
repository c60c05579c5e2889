#!/usr/bin/env python3
"""Run the benchmark once per seed and keep each run's output.

    python3 perfbench/sweep.py --workload W --seeds 1-10 --out DIR [--trace 0|1]

Run from the root of a graft checkout. Writes DIR/<workload>.<seed>.json
(the run's stdout) and then prints each metric's median, quartiles and
spread (perfbench/compare.py DIR). Seconds per run come from
BENCHMARK.json.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", args.trace]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        lines = proc.stdout.strip().splitlines()
        print(lines[-2] if len(lines) > 1 else f"seed {seed}: exit {proc.returncode}",
              flush=True)
        if proc.returncode != 0:
            sys.exit(f"run with seed {seed} failed (exit {proc.returncode})")
        (out / f"{args.workload}.{seed:03d}.json").write_text(proc.stdout)
    subprocess.run([sys.executable, str(HERE / "compare.py"), str(out)], check=True)


if __name__ == "__main__":
    main()
