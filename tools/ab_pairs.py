#!/usr/bin/env python
"""Interleaved fresh-process A/B of the benchmark between two checkouts.

Usage:
  python tools/ab_pairs.py --parent ../parent --change . --workload search \
      --pairs 10 --seed0 1

Runs ``BENCHMARK.json``'s command (``--trace 0``, ``run_seconds`` long)
once in each checkout per pair, each run a fresh process started in
that checkout's root.  Pair ``i`` uses seed ``seed0 + i``; the side that
runs first alternates from pair to pair (the parent first in pair 0).
Prints one line per run as it finishes, then one row per end-to-end
metric:

  <metric>  parent <median> [<q1>, <q3>]  change <median> [<q1>, <q3>]
            <change/parent - 1>  won <k>/<n>  gain=<yes|no>  in-bound=<yes|no>

``won`` counts the pairs in which the change read better (ties count
for neither side).  ``gain`` is the rule for claiming a gain: the change
won at least nine tenths of the pairs and the medians differ, in the
better direction, by more than the parent's interquartile range.
``in-bound`` says whether the change's median is no worse than the
parent's by more than the metric's bound.  The last stdout line is one
JSON object with every run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def quartiles(xs: list[float]) -> tuple[float, float]:
    """(q1, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p: float) -> float:
        k = (len(s) - 1) * p
        lo = int(k)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (k - lo)

    return q(0.25), q(0.75)


def run_once(checkout: str, command: list[str], workload: str, seed: int, seconds: float) -> dict:
    """One fresh-process run in ``checkout``: its result JSON, plus
    ``wall_s``; ``{"error": ...}`` when the run printed no result."""
    argv = command + [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t = time.perf_counter()
    proc = subprocess.run(argv, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        tail = "\n".join(proc.stderr.strip().splitlines()[-20:])
        return {"error": f"exit {proc.returncode}, no result line\n{tail}", "wall_s": wall}
    out["wall_s"] = wall
    return out


def verdict(metric: dict, pairs: list[tuple[float, float]]) -> dict:
    """Medians, quartiles, pairs won, gain and bound verdicts of one
    metric over (parent, change) value pairs."""
    lower = metric["better"] == "lower"
    parent, change = [p for p, _ in pairs], [c for _, c in pairs]
    pm, cm = median(parent), median(change)
    q1, q3 = quartiles(parent)
    won = sum(1 for p, c in pairs if (c < p if lower else c > p))
    gained = (pm - cm if lower else cm - pm) > q3 - q1
    limit = pm * (1 + metric["bound"]) if lower else pm * (1 - metric["bound"])
    return {
        "parent": (pm, q1, q3),
        "change": (cm, *quartiles(change)),
        "ratio": cm / pm - 1 if pm else float("nan"),
        "won": won,
        "gain": won >= 0.9 * len(pairs) and gained,
        "in_bound": cm <= limit if lower else cm >= limit,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(sides["parent"], "BENCHMARK.json")) as f:
        if json.load(f) != bench:
            print("warning: the two checkouts' BENCHMARK.json differ; using the change's",
                  file=sys.stderr)
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    runs: list[dict] = []
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            out = run_once(sides[side], bench["command"], args.workload, seed, bench["run_seconds"])
            pair[side] = out
            if "error" in out:
                print(f"pair {i} seed {seed} {side}: FAILED {out['error']}", flush=True)
                continue
            vals = " ".join(
                f"{m['name']}={out['metrics'][m['name']]['value']:.4g}"
                for m in bench["end_to_end"]
                if m["name"] in out["metrics"]
            )
            print(
                f"pair {i} seed {seed} {side}: correct={out['correct']} "
                f"failed={out['failed']}/{out['attempted']} {vals} ({out['wall_s']:.0f} s)",
                flush=True,
            )
        runs.append(pair)

    ok = [p for p in runs if "error" not in p["parent"] and "error" not in p["change"]]
    print(f"\n{args.workload}: {len(ok)} of {len(runs)} pairs completed on both sides")
    for side in sides:
        done = [p[side] for p in runs if "error" not in p[side]]
        print(
            f"  {side}: {sum(r['correct'] for r in done)}/{len(done)} runs correct, "
            f"{sum(r['failed'] for r in done)} of {sum(r['attempted'] for r in done)} ops failed"
        )
    if not ok:
        print(json.dumps({"workload": args.workload, "runs": runs}))
        return 1
    summary = {}
    for m in bench["end_to_end"]:
        name = m["name"]
        pairs = [
            (p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
            for p in ok
            if name in p["parent"]["metrics"] and name in p["change"]["metrics"]
        ]
        if not pairs:
            continue
        v = verdict(m, pairs)
        summary[name] = v
        print(
            f"  {name:<16} parent {v['parent'][0]:.4g} [{v['parent'][1]:.4g}, {v['parent'][2]:.4g}]"
            f"  change {v['change'][0]:.4g} [{v['change'][1]:.4g}, {v['change'][2]:.4g}]"
            f"  {v['ratio']:+.1%}  won {v['won']}/{len(pairs)}"
            f"  gain={'yes' if v['gain'] else 'no'}  in-bound={'yes' if v['in_bound'] else 'no'}"
        )
    print(json.dumps({"workload": args.workload, "summary": summary, "runs": runs}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
