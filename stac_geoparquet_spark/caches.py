"""Session memos: intermediates derived from one source (a file or a
directory of parquet files), kept for the life of a Spark session.

Several operator families share a small intermediate between their
consumers — a ``.cache()``'d shingle table, a ``localCheckpoint()``'d
pair graph, a K-row centroid list, a parquet scan relation — so the
second and later consumers skip the build.  ``session_memo`` is the one
mechanism for that.  It decorates a builder ``build(spark, where,
*extra)`` and owns the whole contract:

- **Key.** ``(abspath(source), source_stamp(source), *extra)``.  The
  source is what the intermediate is derived from: ``where``, or
  ``table_path(where, table)`` when the memo names a table.  A file's
  stamp is its ``(mtime, size)``; a directory's covers every parquet
  file under it, found recursively (relative path, size and mtime of
  each), so an append, an overwrite, a deleted part file or one
  rewritten in place under its old name all change it.  A source
  regenerated mid-session therefore builds a fresh value instead of
  serving a stale one, the way every derived view of a Delta table is
  keyed on one table version.  That build drops the entries of older
  stamps for the same ``(source, *extra)``, unpersisting their
  DataFrames, so a source rewritten N times keeps one entry.  The
  absolute path makes a relative and an absolute spelling of one data
  dir share an entry, and keeps two dirs with the same basename apart.
- **Unstampable sources are never stored.**  A source the stamp cannot
  see — a URI of a scheme other than ``file``, or a path that cannot be
  read — is built on every call: with no stamp there is no way to tell
  a stale entry from a fresh one.
- **Session.** The session rides in the stored value and is
  identity-checked on a hit.  A DataFrame is bound to its
  SparkSession; handing session A's plan to a query of session B would
  cross-wire their SQLConf scopes, so a different session rebuilds.
  The stored reference keeps a stopped session alive, so no new
  session shares its identity and the key needs no application id.
- **Absent is not ``None``.** A builder may return ``None`` (an empty
  graph has no hyperball states) and that answer is cached too.
- **Registry.** Every store registers under a stable name, so
  ``clear_session_caches`` drops all of them at once (bench and test
  hygiene: a session that runs the whole registry would otherwise keep
  blocks from every family) and ``registered_caches`` lets the bench
  count entries added inside a timed window.

What a memo may hold is bounded: a fenced or cached intermediate far
below corpus size, a centroid list, a logical scan (no rows), a bool.
A memo earns its place by a second consumer (or a measured repeat) that
would otherwise rebuild it.
"""

from __future__ import annotations

import functools
import hashlib
import os
import stat
from urllib.parse import urlsplit
from urllib.request import url2pathname

_REGISTRY: dict[str, dict] = {}
_ABSENT = object()


def _local_path(src: str) -> str | None:
    """Absolute local path of ``src`` (a plain path or a ``file:`` URI),
    or None for a URI of any other scheme."""
    parts = urlsplit(src)
    if parts.scheme == "file":
        return os.path.abspath(url2pathname(parts.path))
    if parts.scheme:
        return None
    return os.path.abspath(src)


def parquet_files(filesystem, base: str) -> list:
    """pyarrow ``FileInfo`` of every ``.parquet`` file under ``base`` on
    ``filesystem``, recursively (hive-partitioned part files sit in
    subdirectories), sorted by path; empty when ``base`` does not
    exist.  The one listing of a GeoParquet directory: the sink's
    overwrite, the footer-metadata read and the directory stamp."""
    from pyarrow import fs as pafs

    sel = pafs.FileSelector(base, recursive=True, allow_not_found=True)
    return sorted(
        (f for f in filesystem.get_file_info(sel) if f.is_file and f.path.endswith(".parquet")),
        key=lambda f: f.path,
    )


def source_stamp(src: str) -> str | None:
    """Freshness stamp of a source — the one definition of the staleness
    contract that session memos and derived scratch layouts key on.

    A file: its ``(mtime, size)``.  A directory: a digest over every
    parquet file under it (relative path, size, mtime).  None when the
    source cannot be stamped: a non-``file`` URI, or an unreadable
    path."""
    path = _local_path(src)
    if path is None:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return f"{st.st_mtime_ns}:{st.st_size}"
        from pyarrow import fs as pafs

        files = parquet_files(pafs.LocalFileSystem(), path)
    except OSError:
        return None
    digest = hashlib.sha1()
    for f in files:
        rel = os.path.relpath(f.path, path)
        digest.update(f"{rel}\0{f.size}\0{f.mtime_ns}\n".encode())
    return f"dir:{digest.hexdigest()}"


def table_path(sf_dir: str, name: str) -> str:
    """Path of the registry table ``name`` under ``sf_dir``: the one
    spelling of ``<sf_dir>/<name>.parquet``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def _unpersist(value) -> None:
    """Unpersist every DataFrame in a stored value (one, or a tuple)."""
    from pyspark.sql import DataFrame

    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            try:
                v.unpersist()
            except Exception:  # session already stopped
                pass


def register_cache(name: str, store: dict) -> dict:
    """Register a session-memo dict under a stable name and return it."""
    if name in _REGISTRY and _REGISTRY[name] is not store:
        raise ValueError(f"duplicate session-cache name: {name}")
    _REGISTRY[name] = store
    return store


def session_memo(name: str, table: str | None = None):
    """Memoize ``build(spark, where, *extra)`` in the store ``name``.

    The source file is ``table_path(where, table)`` when ``table`` is
    given, else the path ``where`` itself; ``extra`` arguments join the
    key.  See the module docstring for the contract."""
    store = register_cache(name, {})

    def decorate(build):
        @functools.wraps(build)
        def memoized(spark, where: str, *extra):
            src = where if table is None else table_path(where, table)
            stamp = source_stamp(src)
            if stamp is None:  # unstampable: never stored
                return build(spark, where, *extra)
            path = _local_path(src)
            key = (path, stamp, *extra)
            hit = store.get(key, _ABSENT)
            if hit is not _ABSENT and hit[0] is spark:
                return hit[1]
            superseded = [
                k for k in store
                if k[0] == path and k[1] != stamp and k[2:] == key[2:]
            ]
            for old in superseded:
                _unpersist(store.pop(old)[1])
            value = build(spark, where, *extra)
            store[key] = (spark, value)
            return value

        return memoized

    return decorate


def registered_caches() -> dict[str, dict]:
    """Snapshot of the registry ({name: live store}) for tests/bench."""
    return dict(_REGISTRY)


def clear_session_caches(spark=None) -> dict[str, int]:
    """Unpersist and drop every registered session memo; returns
    {cache_name: entries_dropped}.

    ``.cache()``'d DataFrames are unpersisted immediately;
    ``localCheckpoint()``'d ones hold executor blocks that the
    ContextCleaner releases once the dropped references are GC'd.
    Passing ``spark`` additionally runs ``catalog.clearCache()``
    (drops EVERY cached plan in the session — fine for bench/test
    sessions, where the registry owns all caching).
    """
    dropped: dict[str, int] = {}
    for name, store in _REGISTRY.items():
        dropped[name] = len(store)
        for _session, value in store.values():
            _unpersist(value)
        store.clear()
    if spark is not None:
        try:
            spark.catalog.clearCache()
        except Exception:
            pass
    return dropped
