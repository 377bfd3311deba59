"""Steadiness check: run one workload in two sets of runs and compare them.

    python3 perfbench/steady.py --workload ranges [--runs 10] [--first-seed 1] \\
        [--out results.jsonl]

Runs are untraced: steadiness concerns the end-to-end metrics. Set A uses
seeds first-seed .. first-seed+runs-1, set B the next `runs` seeds. For
every end-to-end metric it prints each set's median and quartiles
(statistics.quantiles, n=4) and the spread (quartile distance / median),
with whether the spread stays within the bound in BENCHMARK.json and
within a third of it, and whether set B's median is within the bound of
set A's, in either direction. It also prints the failed share of each set
and the wall time of every run. Exit code 0 when every spread and every
median drift is within its bound, the failed shares are equal and every
run is correct.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="append every run's result here as JSON lines")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    sets = []
    for s in range(2):
        results = []
        for i in range(a.runs):
            seed = a.first_seed + s * a.runs + i
            r, wall = run_once(a.workload, seed, seconds)
            print(f"set {'AB'[s]} seed {seed}: {wall:.1f} s wall" + ("" if r else " FAILED"), flush=True)
            if r is None:
                return 1
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall, **r}) + "\n")
            results.append((r, wall))
        sets.append(results)

    ok = True
    names = list(bounds)
    print(f"\n{'metric':34} {'set':3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7}  verdict")
    for n in names:
        meds = []
        for s, results in enumerate(sets):
            vals = [r["metrics"][n]["value"] for r, _ in results]
            med, q1, q3, spread = summary(vals)
            meds.append(med)
            within = spread <= bounds[n]
            ok &= within
            verdict = (f"spread {'<=' if within else '>'} bound ({bounds[n]}), "
                       f"{'<=' if spread <= bounds[n] / 3 else '>'} bound/3 ({bounds[n] / 3:.3f})")
            print(f"{n:34} {'AB'[s]:3} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:7.3f}  {verdict}")
        drift = (meds[1] - meds[0]) / meds[0] if meds[0] else float("inf")
        agree = abs(drift) <= bounds[n]
        ok &= agree
        print(f"{'':34} B vs A median {drift:+.3f} (bound {bounds[n]}): {'agree' if agree else 'DISAGREE'}")
    shares = [sum(r["failed"] for r, _ in rs) / sum(r["attempted"] for r, _ in rs) for rs in sets]
    correct = all(r["correct"] for rs in sets for r, _ in rs)
    print(f"\nfailed share: A {shares[0]:.6f}  B {shares[1]:.6f}  "
          f"({'equal' if shares[0] == shares[1] else 'DIFFERENT'}); all correct: {correct}")
    walls = [w for rs in sets for _, w in rs]
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s, "
          f"total {sum(walls):.0f} s")
    ok &= shares[0] == shares[1] and correct
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
