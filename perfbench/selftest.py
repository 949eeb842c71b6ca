"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py        # from the repository root

Runs every workload in BENCHMARK.json once untraced and once traced at
--scale 0.01 for a few seconds, and fails unless each run exits 0, prints
its result line last, that line reports every output check passed, and it
names every end-to-end metric (untraced) or every per-layer metric (traced)
with its declared unit.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    spec = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "7", "--seconds", "3", "--trace", str(trace), "--scale", "0.01"]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = r.stdout.strip().splitlines()
            label = f"{w['name']} trace={trace}"
            if r.returncode != 0 or not lines:
                problems.append(f"{label}: exit {r.returncode}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != want:
                problems.append(f"{label}: metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[n for n in want if n in got and got[n] != want[n]]}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{label}: {res['failed']} failed ops, correct={res['correct']}")
            print(f"{label}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} metrics={len(got)}", flush=True)
    for p in problems:
        print("SELFTEST FAILED", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
