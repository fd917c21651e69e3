#!/usr/bin/env python3
"""Steadiness check: run one workload repeatedly and summarise each metric.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--sets 2]
                                [--seconds <s>] [--trace 0] [--out <file.jsonl>]

Runs `perfbench/run.py` `--runs` times per set, each time with another
seed (set k uses seeds 1000*k + 1 .. 1000*k + runs). The sets are
interleaved, run i of every set before run i + 1 of any, so a host that
slows down during the command slows every set alike. It prints for every
metric of each set its median, first and third quartile (Python's
`statistics.quantiles(values, n=4)`) and the spread (q3 - q1) / median,
then how far each later set's median moved from the first set's, as a
share of the first. The bound of an end-to-end metric in BENCHMARK.json
should exceed its spread and that move with room to spare. Every run's
result line is appended to `--out` when given. Run from the repository
root; `--seconds` defaults to BENCHMARK.json's run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, timeout=1000)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, exit {p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(lines[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    sets = [[] for _ in range(a.sets)]
    for i in range(1, a.runs + 1):
        for k, results in enumerate(sets, 1):
            r = one(a.workload, 1000 * k + i, a.seconds, a.trace)
            results.append(r)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"workload": a.workload, "set": k,
                                        "seed": 1000 * k + i, **r}) + "\n")
            print(f"set {k} run {i}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}", file=sys.stderr, flush=True)
    names = list(sets[0][0]["metrics"])
    print(f"workload {a.workload}: {a.sets} sets x {a.runs} runs, {a.seconds:g} s each")
    print(f"{'metric':<24}{'set':>4}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}"
          f"{'move':>9}{'bound':>7}")
    for n in names:
        first = None
        for k, results in enumerate(sets, 1):
            med, q1, q3, spread = summary([r["metrics"][n]["value"] for r in results])
            move = "" if first is None else f"{(med - first) / first:+.3f}"
            first = med if first is None else first
            b = bounds.get(n)
            print(f"{n:<24}{k:>4}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}{spread:>9.3f}{move:>9}"
                  f"{'' if b is None else b:>7}")
    for k, results in enumerate(sets, 1):
        fails = {(r["failed"], r["attempted"]) for r in results}
        print(f"set {k}: correct={all(r['correct'] for r in results)} "
              f"failed/attempted={sorted(fails)}")


if __name__ == "__main__":
    main()
