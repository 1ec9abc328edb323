"""Repeats the benchmark over several seeds and prints, per metric, the median
and the spread: the distance between the first and third quartiles as a share
of the median (statistics.quantiles, n=4), next to a third of the metric's
bound from BENCHMARK.json.

    python3 perfbench/steady.py --workload lake --runs 5 [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-3000:]}")
        lines = out.stdout.strip().splitlines()
        line = json.loads(lines[-1])
        print(f"seed {seed}: correct={line['correct']} failed={line['failed']}/{line['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()
                         if k in bounds), flush=True)
        print("  " + " ".join(l.strip() for l in lines if "diagnostics:" in l), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2 or statistics.median(vs) == 0:
            continue
        b = bounds.get(k)
        limit = f"  bound/3 {b / 3:.4f}" if b else ""
        print(f"{k:<34} median {statistics.median(vs):>14.4f}  spread {spread(vs):.4f}{limit}")


if __name__ == "__main__":
    main()
