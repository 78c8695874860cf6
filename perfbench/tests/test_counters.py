#!/usr/bin/env python3
"""Counter-determinism test: two traced runs of the same workload and seed
must record identical jobs, stages, tasks, shuffle-write bytes and input rows
for every op they both ran (the first pass, the first warm pass and, on the
suite, every constraint alone and its memo rerun). Run from the repository
root:

    python3 perfbench/tests/test_counters.py [--workload suite|curate ...]

Exits 0 when every workload repeats exactly.
"""
import argparse
import json
import subprocess
import sys

FIELDS = ["jobs", "stages", "tasks", "shuffle_write_bytes", "input_rows"]


def traced_ops(workload, seed):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True).stdout
    lines = out.strip().splitlines()
    result = json.loads(lines[-1])
    if not result["correct"]:
        sys.exit(f"{workload}: traced run did not check out: {lines[-1]}")
    detail = next(l for l in lines if l.startswith("perfbench-detail "))
    return json.loads(detail[len("perfbench-detail "):])["ops"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="+", default=["suite", "curate"])
    ap.add_argument("--seed", type=int, default=3)
    a = ap.parse_args()
    bad = 0
    for w in a.workload:
        first, second = traced_ops(w, a.seed), traced_ops(w, a.seed)
        common = sorted(set(first) & set(second))
        if set(first) != set(second):
            print(f"{w}: op tags differ: {sorted(set(first) ^ set(second))}")
            bad += 1
        diffs = [t for t in common if first[t] != second[t]]
        for t in diffs:
            print(f"{w}: {t}: " + ", ".join(
                f"{f} {x} != {y}" for f, x, y in zip(FIELDS, first[t], second[t]) if x != y))
        bad += len(diffs)
        jobs = {p: sum(v[0] for t, v in first.items() if t.startswith(f"pb-{p}-"))
                for p in ["p0", "p1", "ct", "memo"]}
        print(f"{w}: {len(common)} ops, {len(diffs)} differ; jobs per pass {jobs}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
