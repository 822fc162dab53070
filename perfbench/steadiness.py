#!/usr/bin/env python3
"""Steadiness of the benchmark: run each workload in two separate sets of
ten runs and compare the sets, metric by metric, against BENCHMARK.json's
bounds.

    python3 perfbench/steadiness.py

Every run lasts BENCHMARK.json's run_seconds and uses its own seed: 1-10 in
set 1, 11-20 in set 2. For each workload and end-to-end metric it prints
each set's median and quartiles (statistics.quantiles, n=4), the spread
(q3 - q1) / median, and the gap between the set medians as a share of the
first, signed so that positive is worse. A metric passes when both spreads
and the size of the gap, in either direction, are within its bound. The
failed share of attempted operations must be identical across sets.
Records go to .bench_build/steadiness.json.
"""
import json
import os
import statistics
import subprocess
import sys

SETS, RUNS, FIRST_SEED = 2, 10, 1
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed} failed (exit {r.returncode}):\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    metrics = spec["end_to_end"]
    record = {}
    ok = True
    for w in (w["name"] for w in spec["workloads"]):
        sets = []
        for k in range(SETS):
            runs = []
            for i in range(RUNS):
                seed = FIRST_SEED + k * RUNS + i
                r = run_once(w, seed, spec["run_seconds"])
                runs.append(r)
                print(f"{w} set {k + 1} seed {seed}: correct={r['correct']} "
                      f"attempted={r['attempted']} failed={r['failed']} " +
                      " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items()),
                      flush=True)
            sets.append(runs)
        record[w] = sets
        shares = {sum(r["failed"] for r in s) / sum(r["attempted"] for r in s) for s in sets}
        correct = all(r["correct"] for s in sets for r in s)
        print(f"\n{w}: failed share per set {sorted(shares)}; all correct: {correct}")
        ok &= correct and len(shares) == 1
        print(f"{'metric':<14}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}"
              f"{'gap':>9}{'bound':>8}  verdict")
        for m in metrics:
            n, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            verdict = "ok"
            for k, s in enumerate(sets):
                vals = [r["metrics"][n]["value"] for r in s]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                meds.append(med)
                if spread > bound:
                    verdict = "SPREAD"
                gap = ""
                if k > 0:
                    g = (med - meds[0]) / meds[0] * (1 if lower else -1)
                    gap = f"{g:+.3f}"
                    if abs(g) > bound:
                        verdict = "GAP"
                print(f"{n:<14}{k + 1:>4}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}"
                      f"{gap:>9}{bound:>8}" + (f"  {verdict}" if k == len(sets) - 1 else ""))
            ok &= verdict == "ok"
        print()
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steadiness.json"), "w") as f:
        json.dump(record, f)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
