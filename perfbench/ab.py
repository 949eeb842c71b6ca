"""A/B runner: the same benchmark on two checkouts, interleaved.

    python3 perfbench/ab.py --a ../graft-parent --b . [--pairs 10] [--workloads discover]

Each pair runs every workload once on each side with the same seed,
alternating which side goes first. Both checkouts must carry the same
benchmark (perfbench/ and BENCHMARK.json); each builds itself on its first
run. Per workload and metric (every `metric` line a run prints, so the
workload-specific end-to-end metrics too) it reports each side's median and
quartiles, B's win fraction over the pairs (ties count for neither side),
and whether B's gain is claimable: B wins at least 9 of 10 pairs and the
medians differ by more than A's own quartile spread.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HIGHER_IS_BETTER = ("_per_s", "recall", "yield")


def bench_digest(root):
    h = hashlib.sha256()
    paths = [os.path.join(root, "BENCHMARK.json")]
    for d, _, fs in os.walk(os.path.join(root, "perfbench")):
        paths += [os.path.join(d, f) for f in fs if not f.endswith(".pyc")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()


def run(root, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    out = {}
    for line in r.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 4 and parts[0] == "metric":
            try:
                out[parts[1]] = float(parts[2])
            except ValueError:
                pass
    res = json.loads(r.stdout.strip().splitlines()[-1]) if r.returncode == 0 else None
    return out, res


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (float("nan"),) * 3
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout of the parent (A)")
    ap.add_argument("--b", required=True, help="checkout of the change (B)")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000, help="seed of the first pair")
    ap.add_argument("--workloads", default=None)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(a.b, "BENCHMARK.json")))
    if bench_digest(a.a) != bench_digest(a.b):
        sys.exit("ab: the two checkouts carry different benchmark code")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    vals = {}  # (workload, metric) -> {"A": [...], "B": [...]} in pair order
    failures = []
    for i in range(a.pairs):
        sides = [("A", a.a), ("B", a.b)] if i % 2 == 0 else [("B", a.b), ("A", a.a)]
        for w in workloads:
            for side, root in sides:
                metrics, res = run(root, w, a.seed + i, spec["run_seconds"])
                if res is None or not res["correct"]:
                    failures.append(f"pair {i} {w} {side}: {res}")
                for m, v in metrics.items():
                    vals.setdefault((w, m), {"A": [], "B": []})[side].append(v)
        print(f"pair {i + 1}/{a.pairs} done", file=sys.stderr, flush=True)
    print(f"{'workload':<14} {'metric':<30} {'A q1/med/q3':>32} {'B q1/med/q3':>32} "
          f"{'B wins':>7} claim")
    for (w, m), s in sorted(vals.items()):
        A, B = s["A"], s["B"]
        higher = m.endswith(HIGHER_IS_BETTER)
        n = min(len(A), len(B))
        wins = sum(1 for x, y in zip(A[:n], B[:n]) if (y > x if higher else y < x))
        qa, qb = quartiles(A), quartiles(B)
        spread = qa[2] - qa[0]
        claim = n > 0 and wins >= 0.9 * n and abs(qb[1] - qa[1]) > spread
        print(f"{w:<14} {m:<30} {qa[0]:10.4f}/{qa[1]:10.4f}/{qa[2]:10.4f} "
              f"{qb[0]:10.4f}/{qb[1]:10.4f}/{qb[2]:10.4f} {wins:>3}/{n:<3} {'yes' if claim else 'no'}")
    for f in failures:
        print("run not correct:", f)


if __name__ == "__main__":
    main()
