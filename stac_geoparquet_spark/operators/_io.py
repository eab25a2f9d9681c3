"""Shared input helpers for the operator modules."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.caches import session_memo, source_stamp, table_path


@session_memo("io.scans")
def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)``: one file listing + schema
    read per (session, path, stamp) instead of one per query
    construction.

    ``spark.read.parquet`` costs a driver-side file listing and
    footer/schema read (~0.25 s per call measured at sf0.1), and the
    274 declared queries construct >500 scans of the SAME dozen files
    per bench run.  A catalog table pays this once; this memo gives
    bare-path reads the catalog behavior.  The value is the LOGICAL
    scan only — no rows are cached, and every action still computes
    from the parquet bytes.  Callers compose transformations on top
    exactly as with a catalog table."""
    return spark.read.parquet(path)


@session_memo("io.spread")
def _fewer_splits_than(spark: SparkSession, path: str, target: int) -> bool:
    # the split-count probe (``df.rdd.getNumPartitions()``) forces
    # analysis + physical planning of the scan (~0.1 s per call); the
    # answer is a pure function of (file set, target)
    return scan_parquet(spark, path).rdd.getNumPartitions() < target


def read_spread(
    spark: SparkSession, path: str, target: int | None = None
) -> DataFrame:
    """Read parquet, spreading the input across the cluster ONLY when
    the scan yields fewer splits than ``target`` (default: one per
    core — the single-small-file test fixture case, where one task
    would otherwise do all the per-row expression work).

    At scale this must be a no-op: a 100 TB table already scans as
    thousands of splits, and an unconditional ``repartition`` there is
    either a pointless full-table shuffle (repartition up) or a
    catastrophic parallelism collapse (repartition down to a small
    constant).  The partition count check is plan-time metadata (file
    listing), not a job — and it is memoized per (file stamp, target)
    so repeat constructions skip even the planning cost.
    """
    df = scan_parquet(spark, path)
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if _fewer_splits_than(spark, path, target):
        return df.repartition(target)
    return df


def fenced(df: DataFrame) -> DataFrame:
    """Lineage fence for a SMALL intermediate that multiple downstream
    consumers (or a fixpoint loop) will re-read.

    Contract — apply this when ALL hold, and only then:

    1. **Multi-consumer or iterative.**  A loop's plan tree grows by
       one full copy of the body per iteration until analysis time
       itself blows up; a multi-consumer subtree may be planned once
       per consumer.
    2. **Bounded output.**  ``localCheckpoint`` materializes the rows
       on the executors, so the input must be bounded by something
       OTHER than corpus size — a d×d matrix, a near-dup pair graph,
       a K-row centroid table.  Never fence a corpus-sized scan; cache
       or restructure instead.
    3. **Measured need.**  The fence truncates a loop's lineage, or
       backs a session memo that later queries read, or the query's
       final adaptive plan WITHOUT it reads a source more than once.
       Two consumers of one identical subtree usually share a single
       scan through a ``ReusedExchange``; there the fence only adds a
       construction-time job, and stays only where an interleaved A/B
       shows the query slower without it.  Pin the single read on the
       final plan (``tests/test_plans.py``) when deleting one.

    Eager by default (same as bare ``df.localCheckpoint()``): the fence
    runs the upstream job exactly once, NOW, and every consumer reads
    the materialized blocks.
    """
    return df.localCheckpoint()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Registry table ``name`` under ``sf_dir``: the one reader of a
    data dir's tables, a plain memoized scan.

    No toy-file spread (r10): interleaved A/B at sf0.1 showed the
    round-robin exchange of the documents text column cost more than
    every consumer's per-core work gains (tfidf 1.11 -> 0.97, a
    synthetic 200-ln/row in-row load 1.06 -> 0.32), and the relational
    family, which never spread, sits at the bench floor.  At scale a
    scan has its natural split count either way; ``read_spread`` stays
    the opt-in for a compute-bound toy-scale consumer.

    ``events`` may carry TIMESTAMP(NANOS), which Spark's parquet scan
    rejects outright (it has no nanosecond type).  It is read as a raw
    long (``spark.sql.legacy.parquet.nanosAsLong``, set here because a
    caller's session may not have it) and truncated to microseconds —
    exactly what DuckDB does loading the same file into its
    microsecond TIMESTAMP."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = scan_parquet(spark, table_path(sf_dir, name))
    if name == "events" and df.schema["ts"].dataType.simpleString() == "bigint":
        # integer `div`, NOT float division: ns epochs (~2^60) exceed a
        # double's 53-bit mantissa, so floor(ts/1000.0) is off by ±1us
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz"),
        )
    return df


# Bumped whenever the CONTENT a layout build writes changes (e.g. the
# canonical-by-id contract changed what the IVF layout holds; v3: the
# gram index switched to the canonical corpus; v4: toy-scale builds
# split the layout into one file per core so consumers' scans
# parallelize without a per-query exchange — same rows, new file
# layout).  Without it a layout materialized by older code is
# stamp-identical to the new one and would silently keep serving
# pre-upgrade content — the exact failure a long-lived cluster hits
# on an engine upgrade.
LAYOUT_FORMAT_VERSION = 4


def layout_write_partitions(
    spark: SparkSession, src_file: str, target: int | None = None
) -> int | None:
    """How many partitions a derived-layout BUILD should write, or
    ``None`` to keep the build's natural partitioning.

    Spark floors every scan split at ``spark.sql.files.openCostInBytes``
    (4 MB), so a layout that comes out as ONE small file — AQE
    advisory-size coalescing collapses any toy-scale shuffle to a
    single partition — is forever a single scan task no matter how
    many cores run the consumer (guide §6; the r10 scaling block's
    ~1.0 ratios were exactly this fixture floor).  Splitting the
    ONE-TIME build into one file per core makes every later scan of
    the layout parallel for free — unlike ``read_spread``, no
    round-robin exchange is re-paid inside each consuming query.

    Scale guard: only fires when the SOURCE is smaller than
    ``target x openCostInBytes`` (i.e. the whole table is below the
    cluster's minimum useful split volume — the toy regime).  At real
    scale the condition is false and the build keeps its natural
    multi-hundred-MB partitioning; repartitioning a 100-TB build down
    to a core-count constant would be a parallelism collapse.
    """
    if target is None:
        # Measured sweet spot, not a core count: more files buy scan
        # parallelism but every shuffle downstream pays ~8 ms per map
        # task in local mode (solo min-of-3 at sf0.1, docs canon:
        # quality_repetition 1.31 s @1 file -> 0.20 @32 -> 0.43 @8,
        # but dedup_containment 1.62 -> 3.21 @32 -> 1.63 @8 and
        # events_markov 0.44 -> 1.07 @32 -> 0.61 @8 — 32 files made
        # every shuffle-bearing consumer of the layout regress).
        # 8 files keeps the scan-bound wins and erases the shuffle
        # regressions; it is also core-count-independent, so a layout
        # built by a low-core session (the scratch path keys on source
        # stamp + format version only) serves every local config the
        # driver uses (8 and 32 cores).  Only reachable in the toy
        # regime below; at scale the function returns None and the
        # build keeps its natural partitioning.
        target = 8
    try:
        size = os.stat(os.path.abspath(src_file)).st_size
    except OSError:
        return None
    open_cost = int(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    if size < target * open_cost:
        return target
    return None


# Per-process log of layout builds that actually RAN (cache misses):
# [{"layout": basename, "seconds": s}].  bench.py copies it into
# bench_detail.json so a cold-scratch run's extra wall time is
# attributable mechanically (r10 verdict item 8) — never printed on
# the one-line stdout contract.
LAYOUT_BUILD_LOG: list[dict] = []

# Every published layout records the source file it derives from in
# this file (Spark's readers skip ``_``-prefixed files), so a later
# publish can tell its own stale copies and orphans from live layouts.
_SOURCE_RECORD = "_SOURCE"
# layout path -> source file, for every path this process computed
_LAYOUT_SOURCES: dict[str, str] = {}


def layout_scratch_path(src_file: str, prefix: str) -> str:
    """Scratch location for a derived layout of ``src_file``, keyed by
    the source's stamp AND the layout format version so a regenerated
    source — or upgraded build code — gets a fresh layout instead of
    silently serving stale data."""
    import hashlib
    import tempfile

    src = os.path.abspath(src_file)
    tag = hashlib.md5(
        f"{src}|{source_stamp(src)}|v{LAYOUT_FORMAT_VERSION}".encode()
    ).hexdigest()[:12]
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{tag}")
    _LAYOUT_SOURCES[path] = src
    return path


def _prune_layout_siblings(path: str) -> None:
    """Delete the other copies of ``path``'s layout prefix that are
    dead: built from the same source at an older stamp or format
    version, or from a source that no longer exists.  A copy of
    another live source, or one without a record, stays."""
    import shutil

    parent, name = os.path.split(path)
    prefix = name.rsplit("_", 1)[0]
    src = _LAYOUT_SOURCES.get(path)
    for sib in os.listdir(parent):
        if sib == name or ".build-" in sib or sib.rsplit("_", 1)[0] != prefix:
            continue
        try:
            with open(os.path.join(parent, sib, _SOURCE_RECORD)) as f:
                rec = f.read()
        except OSError:
            continue
        if rec == src or not os.path.exists(rec):
            shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)


def materialize_layout(path: str, build) -> str:
    """Build-once-publish-atomically protocol for derived layouts:
    if ``path`` already holds a _SUCCESS-marked copy, reuse it;
    otherwise call ``build(build_dir)`` to write into a private dir and
    publish with one rename.  Concurrent builders race benignly —
    whoever renames first wins (content is deterministic), the loser
    discards its copy — and no reader ever sees a half-written layout.
    A published build then deletes the same prefix's dead copies
    (``_prune_layout_siblings``), so the temp dir keeps one copy per
    (source, layout).
    """
    import shutil
    import time
    import uuid

    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    build_dir = f"{path}.build-{uuid.uuid4().hex[:8]}"
    t0 = time.perf_counter()
    try:
        build(build_dir)
        LAYOUT_BUILD_LOG.append(
            {
                "layout": os.path.basename(path),
                "seconds": round(time.perf_counter() - t0, 3),
            }
        )
        if path in _LAYOUT_SOURCES:
            with open(os.path.join(build_dir, _SOURCE_RECORD), "w") as f:
                f.write(_LAYOUT_SOURCES[path])
        os.rename(build_dir, path)
    except OSError:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            # real failure (not a lost publish race): don't leak the
            # partial build dir — repeated retries would otherwise
            # accumulate full-size partial layouts until the disk fills
            shutil.rmtree(build_dir, ignore_errors=True)
            raise
        shutil.rmtree(build_dir, ignore_errors=True)
    except BaseException:
        # build() itself failed mid-job: clean the private dir
        shutil.rmtree(build_dir, ignore_errors=True)
        raise
    _prune_layout_siblings(path)
    return path
