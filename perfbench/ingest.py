"""``ingest`` workload: NDJSON -> normalized STAC -> GeoParquet.

One op converts ``ITEMS`` generated items, in ``FILES`` NDJSON files,
through the program's own path: ``stac.forward.read_stac_json`` (schema
inference), ``normalize_items`` (T1 WKB encode through T5) and
``sinks.geoparquet.to_geoparquet(spatial_order=True)``. Warm-up converts
a smaller catalog of the same shape until the passes settle.

The helpers here (``convert``, ``footer_stats``, ``codec_metrics``) are
also used by the ``search`` workload, which builds its catalog with them.
"""

from __future__ import annotations

import json
import os
import time
import warnings

import numpy as np

import gen
import registry
from probes import median

ITEMS = 30_000
WARM_ITEMS = 5_000
# the NDJSON input is split over this many files, as catalog exports are;
# the read stage then has more tasks than cores (README)
FILES = 12
CHECK_SAMPLE = 64


def convert(run, src: list[str], dst: str) -> list[str]:
    """The ingest op; each call into a layer is a span."""
    from stac_geoparquet_spark.sinks.geoparquet import to_geoparquet
    from stac_geoparquet_spark.stac.forward import normalize_items, read_stac_json

    span = run.tracer.span
    with warnings.catch_warnings():
        # the generated items carry a colliding "collection" property
        warnings.simplefilter("ignore")
        with span("forward.read_stac_json"):
            raw = read_stac_json(run.spark, src)
        with span("forward.normalize_items"):
            df = normalize_items(raw)
        with span("sinks.to_geoparquet"):
            return to_geoparquet(df, dst, spatial_order=True)


def ndjson_paths(run, name: str) -> list[str]:
    return [run.path(f"{name}-{k:02d}.ndjson") for k in range(FILES)]


def footer_stats(files: list[str]) -> dict:
    """Rows, row groups, bytes and footer keys of the files a sink wrote."""
    import pyarrow.parquet as pq

    out = {"files": len(files), "rows": 0, "row_groups": 0, "bytes": 0, "keys_ok": True}
    for f in files:
        md = pq.ParquetFile(f).metadata
        out["rows"] += md.num_rows
        out["row_groups"] += md.num_row_groups
        out["bytes"] += os.path.getsize(f)
        kv = md.metadata or {}
        out["keys_ok"] &= b"geo" in kv and b"stac-geoparquet" in kv
    return out


def check_output(run, cat: gen.Catalog, files: list[str], sample: np.ndarray) -> dict:
    """Row count, footer keys, and the sampled items' WKB and bbox."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    st = footer_stats(files)
    ok = run.check(st["rows"] == cat.n, f"row count {st['rows']} != {cat.n}")
    ok &= run.check(st["keys_ok"], "geo / stac-geoparquet footer keys missing")
    want = {cat.item_id(i): i for i in sample.tolist()}
    got = (
        ds.dataset(files, format="parquet")
        .to_table(columns=["id", "geometry", "bbox"], filter=pc.field("id").isin(list(want)))
        .to_pylist()
    )
    ok &= run.check(len(got) == len(want), f"sampled ids found {len(got)}/{len(want)}")
    for row in got:
        i = want[row["id"]]
        b = row["bbox"]
        ok &= run.check(
            row["geometry"] == gen.expected_wkb(cat.geometry(i)),
            f"{row['id']}: geometry WKB differs from the input",
        )
        ok &= run.check(
            [b["xmin"], b["ymin"], b["xmax"], b["ymax"]] == cat.bbox[i].tolist(),
            f"{row['id']}: bbox differs from the input",
        )
    st["ok"] = ok
    return st


def codec_metrics(run, cat: gen.Catalog) -> None:
    """Direct ``geom.wkb`` calls on a seeded sample, per geometry type:
    encode from the GeoJSON text T1 receives, decode from WKB."""
    from stac_geoparquet_spark.geom.wkb import geojson_to_wkb, wkb_to_geojson

    names = ("Point", "Polygon", "MultiPolygon")
    enc_all, dec_all, weights = [], [], []
    for kind, name in enumerate(names):
        idx = np.flatnonzero(cat.kind == kind)[:2000]
        texts = [json.dumps(cat.geometry(i)) for i in idx.tolist()]
        blobs = [geojson_to_wkb(t) for t in texts]
        enc, dec = [], []
        for _ in range(5):
            t = time.perf_counter()
            for s in texts:
                geojson_to_wkb(s)
            enc.append((time.perf_counter() - t) / len(texts) * 1e6)
            t = time.perf_counter()
            for b in blobs:
                wkb_to_geojson(b)
            dec.append((time.perf_counter() - t) / len(blobs) * 1e6)
        run.metric(f"wkb.encode_us.{name}", median(enc), "us")
        run.metric(f"wkb.decode_us.{name}", median(dec), "us")
        enc_all.append(median(enc))
        dec_all.append(median(dec))
        weights.append(float(np.mean(cat.kind == kind)))
    run.metric("wkb.encode_us_per_geom", float(np.dot(enc_all, weights)), "us")
    run.metric("wkb.decode_us_per_geom", float(np.dot(dec_all, weights)), "us")


def noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def prefix_metrics(run, src: list[str], dst: str) -> dict:
    """Spark fuses read -> T1 -> T5 -> write into one job, so run each
    prefix of the pipeline alone (to a ``noop`` sink, or the sink without
    its spatial sort) and attribute the differences to the layers."""
    from stac_geoparquet_spark.sinks.geoparquet import to_geoparquet
    from stac_geoparquet_spark.stac.forward import (
        encode_geometries,
        normalize_items,
        read_stac_json,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        t = time.perf_counter()
        raw = read_stac_json(run.spark, src)
        infer = time.perf_counter() - t
        parse = noop_s(raw)
        t1 = noop_s(encode_geometries(raw))
        t = time.perf_counter()
        norm = normalize_items(raw)
        t5 = time.perf_counter() - t + noop_s(norm)
        t = time.perf_counter()
        to_geoparquet(norm, dst, spatial_order=False)
        unsorted = time.perf_counter() - t
        t = time.perf_counter()
        to_geoparquet(norm, dst, spatial_order=True)
        full = time.perf_counter() - t
    return {
        "forward.read_infer_s": infer,
        "forward.read_parse_s": parse,
        "forward.t1_wkb_s": t1 - parse,
        "forward.t2_t5_s": t5 - t1,
        "sinks.write_s": unsorted - t5,
        "sinks.spatial_sort_s": full - unsorted,
    }


def measure(run) -> None:
    session_s = run.start_session()
    t = time.perf_counter()
    cat = gen.Catalog(run.seed, ITEMS)
    warm = gen.Catalog(run.seed + 1_000_003, WARM_ITEMS, prefix="wu")
    src = ndjson_paths(run, "items")
    warm_src = ndjson_paths(run, "warm")
    cat.write_ndjson(src)
    warm.write_ndjson(warm_src)
    generate_s = time.perf_counter() - t
    dst = run.path("out")
    sample = np.random.default_rng(run.seed).choice(ITEMS, CHECK_SAMPLE, replace=False)

    passes, warm_s = run.warm_up(lambda: convert(run, warm_src, run.path("warm-out")))
    run.log(
        f"setup {session_s + generate_s + warm_s:.2f} s: session {session_s:.2f}, "
        f"inputs {generate_s:.2f}, warm-up {warm_s:.2f} ({passes} passes)"
    )

    sink = {}

    def check(i, files):
        sink.update(check_output(run, cat, files, sample))

    w = run.closed_loop(lambda i: run.run_op(i, lambda: convert(run, src, dst)), check)
    setup = {
        "total_s": session_s + generate_s + warm_s,
        "session_s": session_s,
        "generate_s": generate_s,
        "passes": passes,
        "warm_s": warm_s,
    }
    run.report(setup, w, ITEMS, sink.get("bytes", 0) / ITEMS)
    if not run.trace:
        return
    for name, v in prefix_metrics(run, src, run.path("prefix-out")).items():
        run.metric(name, v, "s")
    codec_metrics(run, cat)
    run.metric("sinks.files_written", sink["files"], "count")
    run.metric("sinks.row_groups_written", sink["row_groups"], "count")
    run.metric("sinks.bytes_written", sink["bytes"], "B")
    run.off_path(
        {
            "cql2.translate_ms": "ms",
            "scan.files_read": "count",
            "scan.rows_read": "count",
            "scan.rows_read_per_hit": "ratio",
            "scan.row_groups_matching_share": "ratio",
            "inverse.hydrate_ms": "ms",
            "search.jobs_per_search": "count",
            **dict(registry.METRICS),
        }
    )
