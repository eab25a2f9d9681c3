"""Registry probe: the ``operators`` layer, in traced runs.

Runs 14 registry queries on seeded tables (``tables.py``) and times each
through its public entry, ``fn(spark, sf_dir)``, in three parts:
construction (the ``fn`` call, with any fences, fixpoint rounds and
collects it runs), planning (``executedPlan`` of the returned frame) and
execution (the frame written to a ``noop`` sink). The first pass is
cold: it builds each frame, checks it against its DuckDB oracle
(``tests/oracle_compare.py``), and so also compiles, warms the JIT and
builds any derived layout. The next passes are timed. Codegen compiles
are counted per pass: the queries generate more classes than Spark's
codegen cache holds, so a warm pass still compiles most of them.
"""

from __future__ import annotations

import time

import tables
from probes import median

QUERIES = (
    "q1_pricing_summary",
    "q8_market_share",
    "q21_waiting_suppliers",
    "dedup_containment",
    "hybrid_rrf_retrieval",
    "cross_lang_contamination",
    "entity_resolution_parts",
    "dsir_importance_weights",
    "bloom_filter_semijoin",
    "text_tfidf_top_terms",
    "ann_ivf_probe",
    "events_bootstrap_ci",
    "cql2_flagship_query",
    "stac_pipeline_roundtrip",
)
SF = 0.01  # lineitem 60,000 rows
TIMED_PASSES = 2
# a timed pass is skipped if, taking 1.25 times the previous pass (half
# the cold pass for the first), it would end later than this many seconds
# after the run started; a run must end within 180 s
RUN_LIMIT_S = 165.0


def one_pass(run, fns: dict, sf_dir: str, tag: str) -> dict:
    """Construct, plan and execute every query once; per-query seconds
    and jobs, and the pass's wall time and codegen compiles."""
    sc = run.spark.sparkContext
    jobs = run.engine.job_stage_totals
    out = {"queries": {}}
    comp0, t0 = run.engine.counters()["compiles"], time.perf_counter()
    for name in QUERIES:
        group = f"{tag}-{name}"
        sc.setJobGroup(f"{group}-c", group)
        t = time.perf_counter()
        df = fns[name](run.spark, sf_dir)
        construct = time.perf_counter() - t
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        plan = time.perf_counter() - t
        sc.setJobGroup(f"{group}-x", group)
        t = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        execute = time.perf_counter() - t
        out["queries"][name] = {
            "construct_s": construct,
            "plan_s": plan,
            "execute_s": execute,
            "construct_jobs": jobs(f"{group}-c")["jobs"],
            "execute_jobs": jobs(f"{group}-x")["jobs"],
        }
    out["pass_s"] = time.perf_counter() - t0
    out["compiles"] = run.engine.counters()["compiles"] - comp0
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


def registry_metrics(run) -> None:
    """The cold checked pass, then up to ``TIMED_PASSES`` timed ones;
    reports medians over the timed passes."""
    import __spark_entry__
    from tests.oracle_compare import compare

    sf_dir = run.path("tables")
    t = time.perf_counter()
    rows = tables.write_tables(sf_dir, run.seed, SF)
    run.log(f"registry tables {time.perf_counter() - t:.2f} s: {rows}")
    fns, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()

    comp0, t = run.engine.counters()["compiles"], time.perf_counter()
    for name in QUERIES:
        ok, msg = compare(fns[name](run.spark, sf_dir), oracles[name], sf_dir, strict=True)
        run.check(ok, f"registry {name} differs from its DuckDB oracle: {msg}")
    expect = (time.perf_counter() - t) / 2
    run.log(
        f"registry cold pass (oracle-checked): {2 * expect:.2f} s, "
        f"{run.engine.counters()['compiles'] - comp0:.0f} codegen compiles"
    )
    passes = []
    for p in range(TIMED_PASSES):
        if time.perf_counter() - run.t0 + 1.25 * expect > RUN_LIMIT_S:
            run.log(f"registry: time left for {p} timed passes only")
            break
        passes.append(one_pass(run, fns, sf_dir, f"registry-{p}"))
        expect = passes[-1]["pass_s"]
        run.log(
            f"registry pass {p + 1}: {passes[-1]['pass_s']:.2f} s, "
            f"{passes[-1]['compiles']:.0f} codegen compiles"
        )

    def med(name, key):
        return median(p["queries"][name][key] for p in passes)

    for key, unit in (
        ("construct_s", "s"),
        ("construct_jobs", "count"),
        ("plan_s", "s"),
        ("execute_s", "s"),
        ("execute_jobs", "count"),
    ):
        run.metric(f"operators.{key}", sum(med(q, key) for q in QUERIES), unit)
    for name in QUERIES:
        run.metric(f"operators.{name}.construct_s", med(name, "construct_s"), "s")
        run.metric(f"operators.{name}.execute_s", med(name, "execute_s"), "s")
    run.metric("operators.pass_s", median(p["pass_s"] for p in passes), "s")
    run.metric("operators.codegen_compiles", median(p["compiles"] for p in passes), "count")


METRICS = (
    [
        ("operators.construct_s", "s"),
        ("operators.construct_jobs", "count"),
        ("operators.plan_s", "s"),
        ("operators.execute_s", "s"),
        ("operators.execute_jobs", "count"),
    ]
    + [(f"operators.{q}.{k}", "s") for q in QUERIES for k in ("construct_s", "execute_s")]
    + [("operators.pass_s", "s"), ("operators.codegen_compiles", "count")]
)
