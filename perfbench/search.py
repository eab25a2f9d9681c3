"""``search`` workload: STAC-API-style searches over a GeoParquet catalog.

At setup the ``ingest`` path writes a seeded catalog of ``ITEMS`` items
(four collections, 18 months of datetimes, global bboxes clustered on
cities) once, spatially ordered, in a separate short-lived process, so
the measured session only reads and searches. A search has a
collection, a datetime interval, ``s_intersects`` with a bbox and
``eo:cloud_cover < N``, given as CQL2-JSON or CQL2-text, runs through
``stac.cql2`` over ``read_geoparquet`` and is hydrated through
``stac.inverse.to_item_dicts``. One op is a block of ``BLOCK`` searches:
one broad (a continent and a quarter) and four selective (a city and a
month), so every op has the same mix. Each result's id set is compared
with the same predicate evaluated on the generator's arrays.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import time

import numpy as np

import gen
import ingest
import registry
from probes import median

ITEMS = 24_000
BLOCK = 5  # searches per op
SEARCHES = 400
WARM_SEARCHES = 3
HYDRATE_SAMPLE = 3  # hydrated items per search whose geometry and bbox are compared


def search_op(run, cat_dir: str, s: dict) -> list[dict]:
    from stac_geoparquet_spark.sinks.geoparquet import read_geoparquet
    from stac_geoparquet_spark.stac.cql2 import cql2_filter
    from stac_geoparquet_spark.stac.cql2_text import cql2_text_filter
    from stac_geoparquet_spark.stac.inverse import to_item_dicts

    span = run.tracer.span
    with span("sinks.read_geoparquet"):
        df = read_geoparquet(run.spark, cat_dir)
    with span("cql2.translate"):
        if s["encoding"] == "json":
            hits = cql2_filter(df, gen.cql2_json(s))
        else:
            hits = cql2_text_filter(df, gen.cql2_text(s))
    with span("inverse.to_item_dicts"):
        return list(to_item_dicts(hits))


def row_group_boxes(files: list[str]) -> np.ndarray:
    """Per row group, the footer's bbox covering stats
    [min xmin, min ymin, max xmax, max ymax]."""
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(j).path: j for j in range(md.num_columns)}
        for g in range(md.num_row_groups):
            rg = md.row_group(g)

            def stat(name, attr):
                return getattr(rg.column(cols[f"bbox.{name}"]).statistics, attr)

            out.append([stat("xmin", "min"), stat("ymin", "min"), stat("xmax", "max"), stat("ymax", "max")])
    return np.array(out, float)


def matching_row_groups(boxes: np.ndarray, s: dict) -> int:
    xmin, ymin, xmax, ymax = s["bbox"]
    return int(
        np.sum(
            (boxes[:, 0] <= xmax) & (boxes[:, 2] >= xmin)
            & (boxes[:, 1] <= ymax) & (boxes[:, 3] >= ymin)
        )
    )


class ScanSpy:
    """Keeps the DataFrame ``to_item_dicts`` iterates, so the scan node's
    SQL metrics can be read from its executed plan after the action.
    Installed only in traced runs."""

    def __init__(self, df_class):
        self.cls = df_class
        self.orig = df_class.toLocalIterator
        self.last = None
        spy = self

        def wrapped(df, *a, **kw):
            spy.last = df
            return spy.orig(df, *a, **kw)

        df_class.toLocalIterator = wrapped

    def scan_metrics(self) -> dict:
        plan = self.last._jdf.queryExecution().executedPlan()
        leaves = plan.collectLeaves()
        out = {"files": 0.0, "rows": 0.0}
        for k in range(leaves.size()):
            m = leaves.apply(k).metrics()
            if m.contains("numFiles"):
                out["files"] += m.apply("numFiles").value()
                out["rows"] += m.apply("numOutputRows").value()
        return out

    def remove(self) -> None:
        self.cls.toLocalIterator = self.orig


def build_catalog(run, cat_dir: str) -> None:
    """Write the seeded catalog to ``cat_dir`` with the ingest op. Runs in
    its own process (``run.py --build-catalog``), so the heap the
    conversion grows is not part of the measured session."""
    session_s = run.start_session()
    t = time.perf_counter()
    src = ingest.ndjson_paths(run, "catalog")
    gen.Catalog(run.seed, ITEMS).write_ndjson(src)
    ndjson_s, t = time.perf_counter() - t, time.perf_counter()
    ingest.convert(run, src, cat_dir)
    run.log(
        f"catalog: session {session_s:.2f} s, NDJSON {ndjson_s:.2f} s, "
        f"conversion {time.perf_counter() - t:.2f} s"
    )


def measure(run) -> None:
    t0 = time.perf_counter()
    cat_dir = run.path("catalog")
    # the child makes its own run directory and the catalog lands in ours;
    # this session starts while the child works
    child = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", "search", "--seed", str(run.seed), "--seconds", "0",
         "--build-catalog", cat_dir],
        stdout=subprocess.DEVNULL,
    )
    try:
        session_s = run.start_session()
        cat = gen.Catalog(run.seed, ITEMS)
        searches = gen.make_searches(run.seed, SEARCHES, BLOCK)
    finally:
        if child.wait() != 0:
            raise RuntimeError(f"catalog build exited with {child.returncode}")
    generate_s = time.perf_counter() - t0
    files = sorted(glob.glob(os.path.join(cat_dir, "*.parquet")))
    layout = ingest.check_output(
        run, cat, files, np.random.default_rng(run.seed).choice(ITEMS, 64, replace=False)
    )
    boxes = row_group_boxes(files)
    ids = cat.ids()

    warm = gen.make_searches(run.seed + 1_000_003, WARM_SEARCHES)
    passes, warm_s = run.warm_up(lambda: [search_op(run, cat_dir, s) for s in warm])
    setup_s = generate_s + warm_s  # the session started inside generate_s
    run.log(
        f"setup {setup_s:.2f} s: catalog {generate_s:.2f} in its own process, "
        f"session {session_s:.2f} meanwhile, warm-up {warm_s:.2f} ({passes} passes)"
    )

    spy = ScanSpy(type(run.spark.range(1))) if run.trace else None
    scans: list[dict] = []  # traced runs: scan metrics per search
    hit_counts: list[int] = []

    def block(i):
        out = []
        for s in searches[(i * BLOCK) % SEARCHES :][:BLOCK]:
            out.append((s, search_op(run, cat_dir, s)))
            if spy is not None:
                scans.append(dict(spy.scan_metrics(), rg_match=matching_row_groups(boxes, s)))
        return out

    def check(i, out):
        for k, (s, items) in enumerate(out):
            check_search(i * BLOCK + k, s, items)

    def check_search(n, s, items):
        expected = gen.expected_hits(cat, s)
        got = [it["id"] for it in items]
        hit_counts.append(len(got))
        if not run.check(
            len(got) == len(set(got)) and set(got) == set(ids[expected].tolist()),
            f"search {n} ({s['kind']}, {s['encoding']}): {len(got)} ids, expected {len(expected)}",
        ):
            return
        pos = {iid: k for k, iid in enumerate(got)}
        for idx in expected[:HYDRATE_SAMPLE].tolist():
            it = items[pos[cat.item_id(idx)]]
            run.check(
                it["geometry"] == cat.geometry(idx) and it["bbox"] == cat.bbox[idx].tolist(),
                f"search {n}: hydrated {cat.item_id(idx)} differs from the input",
            )

    w = run.closed_loop(lambda i: run.run_op(i, lambda: block(i)), check)
    setup = {
        "total_s": setup_s,
        "session_s": session_s,
        "generate_s": generate_s,
        "passes": passes,
        "warm_s": warm_s,
    }
    # items_per_s counts catalog items searched: hit counts vary with the seed
    run.report(setup, w, ITEMS * BLOCK, layout["bytes"] / ITEMS, searches_per_op=BLOCK)
    if not run.trace:
        return
    spy.remove()
    ingest.codec_metrics(run, cat)
    run.metric("sinks.files_written", layout["files"], "count")
    run.metric("sinks.row_groups_written", layout["row_groups"], "count")
    run.metric("sinks.bytes_written", layout["bytes"], "B")
    run.metric("cql2.translate_ms", median(run.tracer.durations("cql2.translate")) * 1e3, "ms")
    run.metric(
        "inverse.hydrate_ms", median(run.tracer.durations("inverse.to_item_dicts")) * 1e3, "ms"
    )
    run.metric("search.jobs_per_search", median(o["jobs"] for o in run.op_totals) / BLOCK, "count")
    run.metric("scan.files_read", median(s["files"] for s in scans), "count")
    run.metric("scan.rows_read", median(s["rows"] for s in scans), "count")
    run.metric(
        "scan.rows_read_per_hit", sum(s["rows"] for s in scans) / max(sum(hit_counts), 1), "ratio"
    )
    run.metric(
        "scan.row_groups_matching_share",
        sum(s["rg_match"] for s in scans) / (len(scans) * len(boxes)),
        "ratio",
    )
    run.off_path(
        {
            "forward.read_infer_s": "s",
            "forward.read_parse_s": "s",
            "forward.t1_wkb_s": "s",
            "forward.t2_t5_s": "s",
            "sinks.spatial_sort_s": "s",
            "sinks.write_s": "s",
        }
    )
    registry.registry_metrics(run)
