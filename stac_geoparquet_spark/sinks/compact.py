"""Small-file compaction — the maintenance operator every incremental
sink eventually needs. The reference's sync path re-exports one parquet
file per pgstac partition per run (`pgstac_reader.py:340-383`); at
100-TB ingest rates that pattern degenerates into millions of small
files whose footer/open costs dominate scans. Compaction rewrites a
directory into ~target-sized files while preserving rows exactly.

Shape: size the output from actual bytes on disk (Hadoop FS listing —
no data read), then one job: scan -> repartition(n) -> write to a fresh
directory, atomic swap by rename. `repartition` (round-robin) rather
than `coalesce`: coalesce(n) chains small inputs onto few tasks without
a shuffle, which serializes the read of many small files onto n tasks;
the shuffle spreads decode work across the cluster and produces evenly
sized outputs — the right trade for a maintenance job whose entire
point is I/O layout. For sort-clustered datasets use
`operators.layout.write_zordered` instead (compaction must not destroy
clustering).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from stac_geoparquet_spark.caches import parquet_files

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024

# footer keys Spark/pyarrow stamp themselves — everything else in a
# source footer is custom metadata compaction must carry forward
_STANDARD_FOOTER_KEYS = {
    b"org.apache.spark.sql.parquet.row.metadata",
    b"org.apache.spark.version",
    b"pandas",
    b"ARROW:schema",
}


def _custom_footer_kv(path: str) -> dict[str, str]:
    """Custom footer key-value metadata of the parquet files under
    ``path`` (empty when the dataset carries none).

    EVERY file's footer is read (footer-only reads — no data pages;
    negligible next to the full rewrite compaction is about to do),
    and compaction REFUSES on disagreement: stamping one file's
    metadata onto a mixed-write dataset would silently rewrite the
    others', and a sampled check would only make the refusal
    probabilistic.  Footer reads are independent, so they run on a
    thread pool — on a high-latency object store a many-thousand-file
    dataset would otherwise serialize minutes of driver-side metadata
    round-trips ahead of the parallel rewrite."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    filesystem, base = pafs.FileSystem.from_uri(path)
    files = [f.path for f in parquet_files(filesystem, base)]
    if not files:
        return {}

    def custom_kv(fname: str) -> dict[str, str]:
        md = pq.read_schema(fname, filesystem=filesystem).metadata or {}
        return {
            k.decode(): v.decode()
            for k, v in md.items()
            if k not in _STANDARD_FOOTER_KEYS
        }

    with ThreadPoolExecutor(max_workers=min(16, len(files))) as pool:
        kvs = list(pool.map(custom_kv, files))
    first = kvs[0]
    for fname, kv in zip(files[1:], kvs[1:]):
        if kv != first:
            raise ValueError(
                f"inconsistent custom footer metadata under {path}: "
                f"{files[0]} carries {sorted(first)} but {fname} carries "
                f"{sorted(kv)}; compacting would stamp one file's metadata "
                "onto all rows — resolve the mixed writes first"
            )
    return first


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> tuple[int, int, int]:
    """(n_files, total_bytes, n_output_files) from the FS listing only."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    # the hive-layout guard below must only see path components BELOW
    # the dataset root: a base directory that merely contains '='
    # (e.g. /data/run=3/table) is a fine place for a flat dataset
    base = str(fs.makeQualified(hpath).toUri().getPath()).rstrip("/")
    n_files = 0
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        name = p.getName()
        if name.endswith(".parquet"):
            # hive-partitioned layouts (key=value subdirs) are out of
            # scope: a flat rewrite would silently discard the
            # partitioning scheme (directory pruning, partition-column
            # types) — refuse rather than flatten
            parent = str(p.getParent().toUri().getPath())
            rel = parent[len(base):] if parent.startswith(base) else parent
            if "=" in rel:
                raise ValueError(
                    f"{path} is hive-partitioned ({p}); compact each "
                    "partition directory individually — a flat rewrite "
                    "would discard the partitioning scheme"
                )
            n_files += 1
            total += st.getLen()
    n_out = max(1, math.ceil(total / target_bytes))
    return n_files, total, n_out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_compact: int = 4,
) -> tuple[int, int]:
    """Compact a parquet directory in place; returns (files_before,
    files_after). No-op (returns counts unchanged) when the directory
    already has fewer than ``min_files_to_compact`` files or is already
    near target size per file."""
    n_files, total, n_out = plan_compaction(spark, path, target_bytes)
    if n_files < min_files_to_compact or n_out >= n_files:
        return n_files, n_files
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(jsc.hadoopConfiguration())
    tmp = path.rstrip("/") + ".compact-tmp"
    old_str = path.rstrip("/") + ".compact-old"
    old = Path(old_str)
    # Refuse to run over leftovers of an interrupted compaction:
    # Hadoop rename() returns False (it does not throw) when the
    # destination exists, and a silent False here would either skip the
    # swap while reporting success or — worse — let the unconditional
    # backup delete run after a half-done swap.
    if fs.exists(old):
        raise RuntimeError(
            f"stale {old_str} from an interrupted compaction; "
            "inspect/restore it before compacting again"
        )
    df = spark.read.parquet(path)
    # Footer key-value metadata (the geoparquet sink's geo /
    # stac-geoparquet contract) does NOT survive df.write.parquet;
    # when the source carries custom footer keys, rewrite through the
    # footer-stamping writer so compaction preserves them verbatim.
    kv = _custom_footer_kv(path)
    if kv:
        from stac_geoparquet_spark.sinks.geoparquet import (
            write_parquet_with_footer,
        )

        write_parquet_with_footer(df.repartition(n_out), tmp, kv)
    else:
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    # swap: rename old out of the way, new into place — each rename's
    # boolean checked, and the backup is deleted only after the new
    # directory is verified readable at `path`.
    if not fs.rename(Path(path), old):
        raise RuntimeError(f"compaction swap failed: rename {path} -> {old_str}")
    if not fs.rename(Path(tmp), Path(path)):
        # roll back so the data is back at `path` — and if even the
        # rollback fails, say exactly where the live data sits
        if fs.rename(old, Path(path)):
            raise RuntimeError(
                f"compaction swap failed: rename {tmp} -> {path}; "
                "original data restored in place"
            )
        raise RuntimeError(
            f"compaction swap failed: rename {tmp} -> {path}, and rollback "
            f"also failed — the live data is at {old_str}, the compacted "
            f"copy at {tmp}; nothing is at {path}"
        )
    after, _, _ = plan_compaction(spark, path, target_bytes)
    if after < 1:
        raise RuntimeError(
            f"compaction produced no parquet files at {path}; "
            f"backup preserved at {old_str}"
        )
    # a False return (Hadoop delete does not always throw) would leave
    # a poison backup that blocks every future compaction via the
    # stale-dir guard — surface it now, while the swap itself is done
    if not fs.delete(old, True):
        raise RuntimeError(
            f"compaction succeeded but deleting the backup {old_str} "
            "failed; remove it manually before the next compaction"
        )
    return n_files, after
