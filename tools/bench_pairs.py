#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload, and their verdict.

Usage, from anywhere:

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload ingest_pit \\
        --pairs 10 --seeds 1,2,3

PARENT_DIR and CHANGE_DIR are full checkouts (e.g. from `git archive`). Each
pair runs `python3 perfbench/run.py --workload W --seed S --seconds N
--trace 0` (N is BENCHMARK.json's run_seconds, the same on both sides) once
in each checkout, the parent first on odd pairs and the change first on even
ones; pair i uses seed i of the list, cycling. The script writes nothing
itself: the only files the runs leave are what run.py writes under each
checkout's `.bench_build/`.

For each end-to-end metric of the change's BENCHMARK.json it prints each
side's median and quartiles, how many pairs the change won (ties count for
neither), whether the gain rule holds (the change wins at least nine tenths
of the pairs and the medians differ by more than the parent's interquartile
range), and how far the change's median sits from the parent's against the
metric's bound. When the parent's interquartile range exceeds that bound (as
a share of its median), the move is reported as unresolved, unless every
change run reads better than every parent run. Then the failed operations per
side. Exit code 1 when a run fails to print a result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    """One perfbench run; its result object (the last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"bench_pairs: {workload} seed {seed} failed in {checkout} (exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="1", help="comma-separated, cycled over the pairs")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    seeds = [int(s) for s in a.seeds.split(",")]
    sides = {"parent": a.parent, "change": a.change}
    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run(sides[side], a.workload, seed, seconds)
            runs[side].append(r)
        vals = {s: {k: v["value"] for k, v in runs[s][-1]["metrics"].items()} for s in sides}
        shown = " ".join(f"{m['name']} {vals['parent'].get(m['name'])}/{vals['change'].get(m['name'])}"
                         for m in bench["end_to_end"])
        print(f"pair {i + 1} seed {seed} {order[0]} first: parent/change {shown} "
              f"attempted {runs['parent'][-1]['attempted']}/{runs['change'][-1]['attempted']}",
              flush=True)

    print(f"\n{a.workload}: {a.pairs} pairs, {seconds} s runs, seeds {seeds}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(p, c))
        gain = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rule = wins >= 0.9 * len(p) and gain > pq[2] - pq[0]
        worse = -gain / pq[1] if pq[1] else 0.0
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else 0.0
        separated = all((y < x) if lower else (y > x) for x in p for y in c)
        if spread > m["bound"] and not separated:
            verdict = (f"unresolved: parent spread {spread:.1%} of its median "
                       f"exceeds the bound {m['bound']:.0%}")
        else:
            verdict = (f"median {'worse' if worse > 0 else 'better'} by {abs(worse):.1%} "
                       f"(bound {m['bound']:.0%}{', EXCEEDED' if worse > m['bound'] else ''})")
        print(f"  {name} ({m['unit']}): parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
              f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  change won {wins}/{len(p)}  "
              f"gain rule {'holds' if rule else 'does not hold'}  {verdict}")
    for s in sides:
        failed = sum(r["failed"] for r in runs[s])
        attempted = sum(r["attempted"] for r in runs[s])
        incorrect = sum(not r["correct"] for r in runs[s])
        print(f"  {s}: {failed} of {attempted} operations failed; {incorrect} runs not correct")


if __name__ == "__main__":
    main()
