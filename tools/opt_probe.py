#!/usr/bin/env python
"""Solo-measure registered queries: construction, noop-sink and count.

Usage:
  python tools/opt_probe.py                      # every registered query
  python tools/opt_probe.py q1_pricing_summary dedup_containment ...
  python tools/opt_probe.py --all-top 25         # slowest 25 from bench_detail.json

Builds the bench session, runs a warmup query, then for each query
takes the min over --runs (default 3) of:
  cons_s   building the DataFrame (``queries()[name](spark, sf)``, no
           action): py4j expression building plus any construction-time
           jobs such as fences and fixpoint rounds;
  noop_s   the noop sink (computes every column of every row, no
           optimizer count-shortcut);
  count_s  ``.count()`` on a fresh build.
Prints one line per query:
  <name>  noop_s=<min>  count_s=<min>  cons_s=<min>  jobs=<n>  memo_builds=<stores>
where jobs is the number of Spark jobs the last construction ran (from
the status tracker; process-level memos are warm after the first run,
so later runs are what the bench's best-of-2 loop sees) and
memo_builds names the session-memo stores (``caches.registered_caches``)
that gained entries during the query's first run, i.e. the memos this
query built rather than read (``-`` when none).  Ends with the
construction total over all measured queries and one JSON line
``{name: [noop_s, count_s, cons_s, jobs]}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--all-top", type=int, default=0)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from stac_geoparquet_spark.caches import registered_caches
    from stac_geoparquet_spark.session import get_spark

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    names = list(args.names)
    if args.all_top:
        with open(os.path.join(REPO, "bench_detail.json")) as f:
            detail = json.load(f)["queries"]
        names += [
            n for n in sorted(detail, key=detail.get, reverse=True)
            if n not in names
        ][: args.all_top]
    if not names:
        names = sorted(queries)

    spark = get_spark(app_name="opt-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # same warmup as bench.py (JVM + codegen shapes), abbreviated
    queries["q1_pricing_summary"](spark, args.sf_dir).count()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def last_job_id() -> int:
        # job ids only grow; the tracker's id list is capped at
        # spark.ui.retainedJobs, so compare maxima, not lengths
        return max(tracker.getJobIdsForGroup(None) or [-1])

    def memo_sizes() -> dict[str, int]:
        return {k: len(v) for k, v in registered_caches().items()}

    results = {}
    for name in names:
        fn = queries[name]
        best_noop = best_count = best_cons = float("inf")
        jobs, built = 0, []
        sizes0 = memo_sizes()
        for i in range(args.runs):
            sc.setJobDescription(f"{name} run{i}")
            j0 = last_job_id()
            tc = time.perf_counter()
            df = fn(spark, args.sf_dir)
            best_cons = min(best_cons, time.perf_counter() - tc)
            jobs = last_job_id() - j0
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.perf_counter() - t0)
            df2 = fn(spark, args.sf_dir)
            t0 = time.perf_counter()
            df2.count()
            best_count = min(best_count, time.perf_counter() - t0)
            if i == 0:
                built = [
                    k for k, n in memo_sizes().items()
                    if n > sizes0.get(k, 0)
                ]
        sc.setJobDescription(None)
        results[name] = [
            round(best_noop, 3),
            round(best_count, 3),
            round(best_cons, 3),
            jobs,
        ]
        print(
            f"{name:42s} noop_s={best_noop:7.3f} count_s={best_count:7.3f}"
            f" cons_s={best_cons:7.3f} jobs={jobs}"
            f" memo_builds={','.join(sorted(built)) or '-'}",
            flush=True,
        )

    total = sum(v[2] for v in results.values())
    total_jobs = sum(v[3] for v in results.values())
    print(
        f"TOTAL construction: {total:.1f}s, jobs={total_jobs} over "
        f"{len(results)} queries"
    )
    print(json.dumps(results, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
