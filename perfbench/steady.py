"""Repeat workloads over several seeds and print each end-to-end metric's
spread against its bound.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]

For every workload the benchmark runs once per seed (seeds first-seed,
first-seed+1, ...). A metric's spread is the distance between the first
and third quartile of its values (statistics.quantiles, n=4) as a share
of their median. The bounds come from BENCHMARK.json at the repository
root; a spread should stay under a third of its bound. Exits 1 if any
run fails or any spread exceeds its bound.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = False
    for w in a.workloads.split(","):
        values = {}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            try:
                res = json.loads(last)
            except ValueError:
                res = None
            if p.returncode != 0 or not res or not res["correct"]:
                bad = True
                print(f"{w} seed {seed}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, xs in values.items():
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(k, 0.0)
            over = spread > bound
            bad |= over
            verdict = ("OVER BOUND" if over else "ok" if spread <= bound / 3
                       else "under bound, above a third")
            print(f"{w} {k}: median {med:.4g} spread {spread:.3f} bound {bound} "
                  f"({len(xs)} runs) {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
