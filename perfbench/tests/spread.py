#!/usr/bin/env python3
"""Run one workload under several seeds and report, per end-to-end metric,
the median and the interquartile range as a share of the median (the spread
the benchmark's bounds are checked against). Run from the repository root:

    python3 perfbench/tests/spread.py --workload curate --seeds 1 2 3 4 5
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--details", help="append each run's detail line to this file")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
             "--seconds", a.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
        lines = out.strip().splitlines()
        result = json.loads(lines[-1])
        if a.details:
            with open(a.details, "a") as f:
                f.write(f"{seed} {lines[-2]}\n")
        assert result["correct"] and result["failed"] == 0, result
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']}" for k, v in result["metrics"].items()),
              flush=True)
    worst = 0.0
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med
        flag = "" if name == "setup_s" else f" ({spread / bounds[name]:.2f} of bound {bounds[name]})"
        if name != "setup_s":
            worst = max(worst, spread / bounds[name])
        print(f"{name}: median {med:.4g} spread {spread:.3f}{flag}")
    print(f"worst spread / bound: {worst:.2f}")


if __name__ == "__main__":
    main()
