#!/usr/bin/env python3
"""Steadiness check: run one workload k times, each in a fresh process
with its own seed, and print each metric's median, quartiles and spread
against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload search --runs 5
    python3 perfbench/steady.py --workload ingest --runs 10 --seed0 101

Spread is (Q3 - Q1) / median, with the quartiles of
``statistics.quantiles(values, n=4)``. A metric is steady when its spread
is under a third of its bound (``setup_s`` is exempt from the spread
test). Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1, help="first seed; run i uses seed0 + i")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["per_layer" if args.trace else "end_to_end"]
    values: dict[str, list[float]] = {m["name"]: [] for m in declared}
    walls, ok = [], True
    for i in range(args.runs):
        seed = args.seed0 + i
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
        ]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        notes = [ln.split("] ", 1)[1] for ln in proc.stderr.splitlines() if "] host:" in ln or "] peak RSS" in ln]
        walls.append(time.perf_counter() - t)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}, no result")
            ok = False
            continue
        res = json.loads(lines[-1])
        missing = sorted(set(values) - set(res["metrics"]))
        shown = " ".join(
            f"{m['name']}={res['metrics'][m['name']]['value']:.4g}"
            for m in declared[:8]
            if m["name"] in res["metrics"]
        )
        print(
            f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} wall={walls[-1]:.1f}s {shown}"
            + (f" MISSING {missing}" if missing else "")
        )
        for note in notes:
            print("    " + note)
        ok &= res["correct"] and res["failed"] == 0 and not missing
        for name, m in res["metrics"].items():
            if name in values:
                values[name].append(m["value"])

    print(f"\n{args.workload}: {args.runs} runs, median wall {statistics.median(walls):.1f} s per run")
    print(f"{'metric':34s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for m in declared:
        v = values[m["name"]]
        if len(v) < 2:
            continue
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / abs(med) if med else 0.0
        bound = m.get("bound")
        flag = ""
        if bound is not None and m["name"] != "setup_s":
            flag = "ok" if spread < bound / 3 else ("WIDE" if spread <= bound else "OVER")
            ok &= spread <= bound
        print(
            f"{m['name']:34s} {med:12.4g} {q1:12.4g} {q3:12.4g} {spread:8.3f} "
            f"{'' if bound is None else bound:>6} {flag}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
