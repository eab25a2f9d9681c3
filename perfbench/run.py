#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed``, starts one Spark session through ``session.get_spark`` on
``local[<cores>]``, warms up, then drives one client thread in a closed
loop for ``--seconds`` and checks every output. Progress goes to stderr;
the last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.

Each run works in its own directory under ``.perfbench/runs`` (its
``TMPDIR``, Spark local dir and warehouse), removed at exit, so derived
layouts keyed under the temp dir never carry over from one run to the
next. Traced runs leave their spans in ``.perfbench/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# heap for the driver JVM; the engine's other confs stay as get_spark sets them
DRIVER_MEM = "3g"
# warm-up: a pass "stopped falling" unless it beats the previous one by more
# than this share; the pass cap keeps a run inside the time budget (README)
WARM_TOL = 0.05
WARM_MAX_PASSES = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """What a workload needs: the session, the seed, the window length,
    the tracer and the engine probe; ``metric`` records a result."""

    def __init__(self, args, run_dir: str):
        from probes import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.dir = run_dir
        self.tracer = Tracer()
        self.spark = None
        self.engine = None
        self.metrics: dict[str, dict] = {}
        self.op_totals: list[dict] = []  # traced runs: engine totals per op
        self.attempted = 0
        self.failed = 0
        self.checks_failed: list[str] = []
        self.t0 = time.perf_counter()

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.checks_failed.append(what)
            log(f"CHECK FAILED: {what}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        from stac_geoparquet_spark.session import get_spark

        from probes import Engine, calibration_ms

        self.calib0 = calibration_ms()
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(self.spark)
        return time.perf_counter() - t

    log = staticmethod(log)

    def warm_up(self, one_pass) -> tuple[int, float]:
        """Repeat ``one_pass`` until wall time, process-tree CPU and codegen
        compiles per pass have all stopped falling: none is below the
        previous pass by more than ``WARM_TOL`` (compiles: by more than 2),
        or ``WARM_MAX_PASSES`` have run. Prints every pass; returns
        (passes, seconds)."""
        from probes import cpu_s_between, tree_cpu

        prev = None
        t0 = time.perf_counter()
        for n in range(1, WARM_MAX_PASSES + 1):
            comp0, cpu0, t = self.engine.counters()["compiles"], tree_cpu(), time.perf_counter()
            one_pass()
            cur = (
                time.perf_counter() - t,
                cpu_s_between(cpu0, tree_cpu()),
                self.engine.counters()["compiles"] - comp0,
            )
            log(f"warm-up pass {n}: {cur[0]:.2f} s wall, {cur[1]:.2f} CPU-s, {cur[2]:.0f} codegen compiles")
            if prev is not None and (
                cur[0] >= prev[0] * (1 - WARM_TOL)
                and cur[1] >= prev[1] * (1 - WARM_TOL)
                and cur[2] >= prev[2] - 2
            ):
                break
            prev = cur
        else:
            log(f"warm-up did not settle in {WARM_MAX_PASSES} passes")
        return n, time.perf_counter() - t0

    def closed_loop(self, op, check) -> dict:
        """One client thread: call ``op(i)`` again as soon as it returns,
        until ``seconds`` have passed (at least once). ``check(i, out)``
        runs after each op, outside its timing. Returns per-op wall and
        CPU seconds plus the window's peak RSS, heap, JVM, cache and host
        counters."""
        from stac_geoparquet_spark import caches
        from stac_geoparquet_spark.operators import _io

        from probes import (
            RssSampler,
            calibration_ms,
            cpu_s_between,
            host_cpu_ticks,
            steal_share,
            tree_cpu,
        )

        def cache_entries() -> int:
            return sum(len(s) for s in caches.registered_caches().values())

        walls, cpus = [], []
        jvm0, cache0 = self.engine.counters(), cache_entries()
        layouts0, ticks0 = len(_io.LAYOUT_BUILD_LOG), host_cpu_ticks()
        self.engine.reset_heap_peak()
        end = time.perf_counter() + self.seconds
        with RssSampler() as rss:
            while not walls or time.perf_counter() < end:
                i = len(walls)
                self.tracer.op = i
                cpu0, t = tree_cpu(), time.perf_counter()
                try:
                    out = op(i)
                except Exception as e:  # an op failure is counted, not fatal
                    import traceback

                    traceback.print_exc()
                    log(f"op {i} failed: {e!r}")
                    self.failed += 1
                    out = None
                walls.append(time.perf_counter() - t)
                cpus.append(cpu_s_between(cpu0, tree_cpu()))
                self.attempted += 1
                if out is not None:
                    check(i, out)
        jvm1 = self.engine.counters()
        steal, calib1 = steal_share(ticks0, host_cpu_ticks()), calibration_ms()
        log(f"peak RSS {rss.peak_mb:.0f} MB: {rss.describe()}")
        # host diagnostics explain disagreement between runs; they never
        # normalise a metric
        log(
            f"host: CPU steal {steal:.2%} of the window; calibration loop "
            f"{self.calib0:.1f} ms at start, {calib1:.1f} ms at end"
        )
        return {
            "walls": walls,
            "cpus": cpus,
            "peak_rss_mb": rss.peak_mb,
            "heap_peak_mb": self.engine.heap_peak_mb(),
            "jit_ms": jvm1["jit_ms"] - jvm0["jit_ms"],
            "gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
            "compiles": jvm1["compiles"] - jvm0["compiles"],
            "compile_ms_est": (jvm1["compiles"] - jvm0["compiles"]) * jvm1["compile_mean_ms"],
            "cache_entries_added": cache_entries() - cache0,
            "layout_builds": len(_io.LAYOUT_BUILD_LOG) - layouts0,
            "steal_share": steal,
            "calib_end_ms": calib1,
        }

    def run_op(self, i: int, fn):
        """Run one op. A traced run gives it its own job group, records
        spans on even ops only (odd ops measure the tracing overhead), and
        keeps the op's engine totals in ``op_totals``. Setup and warm-up
        record no spans."""
        if not self.trace:
            return fn()
        group = f"op-{i}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.tracer.enabled = i % 2 == 0
        try:
            return fn()
        finally:
            self.tracer.enabled = False
            self.op_totals.append(self.engine.job_stage_totals(group))

    def report(
        self, setup: dict, w: dict, items_per_op: int, bytes_per_item: float, searches_per_op: int = 1
    ) -> None:
        """The metrics every workload reports: end to end, or with
        ``--trace 1`` the per-layer ones for setup, engine, JVM, caches
        and host. ``setup`` holds total_s (set-up wall time), session_s,
        generate_s, passes and warm_s.
        An op of ``searches_per_op`` searches reports latency and CPU per
        search."""
        from probes import median

        walls = w["walls"]
        n = len(walls)
        if not self.trace:
            self.metric("setup_s", setup["total_s"], "s")
            self.metric("peak_rss_mb", w["peak_rss_mb"], "MB")
            self.metric("cpu_s_per_op", sum(w["cpus"]) / n / searches_per_op, "s")
            self.metric("items_per_s", items_per_op * n / sum(walls), "1/s")
            self.metric("bytes_per_item", bytes_per_item, "B")
            self.latency([v / searches_per_op for v in walls])
            return
        self.metric("session.start_s", setup["session_s"], "s")
        self.metric("input.generate_s", setup["generate_s"], "s")
        self.metric("warmup.passes", setup["passes"], "count")
        self.metric("warmup.s", setup["warm_s"], "s")
        for key, unit in (
            ("stages", "count"),
            ("tasks", "count"),
            ("shuffle_write_bytes", "B"),
            ("spill_bytes", "B"),
        ):
            self.metric(f"spark.{key}", median(o[key] for o in self.op_totals), unit)
        self.metric("jvm.jit_ms", w["jit_ms"] / n, "ms")
        self.metric("jvm.gc_ms", w["gc_ms"] / n, "ms")
        self.metric("jvm.heap_peak_mb", w["heap_peak_mb"], "MB")
        self.metric("codegen.compiles", w["compiles"] / n, "count")
        self.metric("codegen.compile_ms", w["compile_ms_est"] / n, "ms-est")
        self.metric("caches.entries_added", w["cache_entries_added"], "count")
        self.metric("layout.builds", w["layout_builds"], "count")
        self.metric("host.steal_share", w["steal_share"], "ratio")
        self.metric("host.calib_ms", self.calib0, "ms")
        self.metric("host.calib_end_ms", w["calib_end_ms"], "ms")
        traced, plain = walls[0::2], walls[1::2] or walls[0::2]
        self.metric("trace.overhead_pct", (median(traced) / median(plain) - 1) * 100, "%")
        if w["cache_entries_added"] or w["layout_builds"]:
            log("not warmed: caches or layouts were built inside the timed window")

    def latency(self, walls: list[float]) -> None:
        """Median op latency. The highest percentile with at least ten
        samples beyond it is printed with the sample count; a run of a
        dozen or two ops supports no tail above the median, so it is not
        a metric."""
        from probes import median

        ms = sorted(v * 1e3 for v in walls)
        n = len(ms)
        tail = f"p{100 * (1 - 10 / n):.0f} {ms[int((1 - 10 / n) * n)]:.1f} ms" if n > 20 else "no tail"
        log(f"latency over {n} ops: p50 {median(ms):.1f} ms, {tail}")
        self.metric("latency_p50_ms", median(ms), "ms")

    def off_path(self, names: dict[str, str]) -> None:
        """Layers this workload's op never calls: reported as 0 so every
        run prints every per-layer metric."""
        for name, unit in names.items():
            self.metric(name, 0.0, unit)


def _stop(run: Run) -> None:
    """Stop the session, the gateway JVM and any Python worker left
    behind, and wait for each to end."""
    from probes import tree_pids

    leftovers = [p for p in tree_pids() if p != os.getpid()]
    if run.spark is not None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        run.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=20)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in leftovers:
        while time.time() < deadline:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline - 5 else signal.SIGTERM)
            except ProcessLookupError:
                break
            try:  # reap our own children; others are reaped by init
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    break
            except ChildProcessError:
                pass
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the search workload writes its catalog in a child process
    ap.add_argument("--build-catalog", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory; a
    # second TERM must not cut that clean-up short
    def terminate(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminate)

    sys.path.insert(0, ROOT)
    try:
        import stac_geoparquet_spark  # noqa: F401  the program under test
    except ImportError as e:
        log(f"cannot import the program from {ROOT}: {e}")
        return 2

    run_dir = os.path.join(ROOT, ".perfbench", "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    run = Run(args, run_dir)
    try:
        if args.build_catalog:
            import search

            search.build_catalog(run, args.build_catalog)
            return 0
        if args.workload == "ingest":
            import ingest as workload
        else:
            import search as workload
        workload.measure(run)
    finally:
        _stop(run)
        shutil.rmtree(run_dir, ignore_errors=True)
    if run.trace:
        run.tracer.write(
            os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
        )

    result = {
        "correct": not run.checks_failed and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
