#!/usr/bin/env python3
"""Steadiness check: sets of untraced runs of one workload, each run with
another seed, and whether the end-to-end metrics agree within the bounds
of ``BENCHMARK.json``.

    python3 perfbench/steady.py --workload ingest [--runs 10] [--sets 2]

For each set it prints every metric's median and quartiles
(``statistics.quantiles(n=4)``) and the spread, (Q3 - Q1) / median.
A metric passes when its spread is within its bound and, from the
second set on, its median differs from the first set's by no more than
the bound, in either direction. The share of failed operations must
be the same in every set. Exits 1 when anything does not pass.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_set(root, workload, seeds, seconds):
    out = []
    for seed in seeds:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        if p.returncode != 0:
            sys.exit(f"run with seed {seed} exited {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        out.append(res)
        print(f"  seed {seed}: " + ", ".join(
            f"{k} {v['value']:.4g}" for k, v in sorted(res["metrics"].items())),
            flush=True)
    return out


def summarize(bench, sets):
    ok = True
    first = {}
    for i, results in enumerate(sets):
        shares = {r["failed"] / r["attempted"] for r in results}
        correct = all(r["correct"] for r in results)
        print(f"set {i + 1}: {len(results)} runs, failed shares {sorted(shares)}"
              f", all correct: {correct}")
        ok &= correct and len(shares) == 1
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            vals = [r["metrics"][name]["value"] for r in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            verdict = "ok" if spread <= bound else "WIDE"
            line = (f"  {name:18s} median {med:12.5g}  Q1 {q1:12.5g}  "
                    f"Q3 {q3:12.5g}  spread {spread:6.1%} "
                    f"(bound {bound:.0%}, a third {bound / 3:.1%}) {verdict}")
            if i == 0:
                first[name] = med
            else:
                moved = (med - first[name]) / first[name]
                agree = abs(moved) <= bound
                line += f"; vs set 1 {moved:+.1%} {'ok' if agree else 'APART'}"
                ok &= agree
            ok &= verdict == "ok"
            print(line)
    if len(sets) > 1:
        shares = {r["failed"] / r["attempted"] for s in sets for r in s}
        ok &= len(shares) == 1
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sets = []
    for s in range(a.sets):
        seeds = range(a.first_seed + s * a.runs,
                      a.first_seed + (s + 1) * a.runs)
        print(f"set {s + 1}: seeds {seeds.start}..{seeds.stop - 1}", flush=True)
        sets.append(run_set(root, a.workload, seeds, bench["run_seconds"]))
    sys.exit(0 if summarize(bench, sets) else 1)


if __name__ == "__main__":
    main()
