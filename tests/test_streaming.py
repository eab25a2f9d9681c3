"""Structured Streaming tests: the streaming rollup must equal the
batch rollup over the same data; incremental sync must be exactly-once
across invocations."""

import glob
import os

from pyspark.sql import functions as F


def _write_event_files(spark, src_dir, n_files=3, rows_per_file=100):
    from stac_geoparquet_spark.streaming.events import EVENTS_SCHEMA

    os.makedirs(src_dir, exist_ok=True)
    base = 1704067200  # 2024-01-01T00:00:00Z epoch seconds
    for f in range(n_files):
        rows = []
        for i in range(rows_per_file):
            eid = f * rows_per_file + i
            rows.append(
                (
                    eid,
                    None,
                    eid % 17,
                    ["click", "view", "purchase"][eid % 3],
                    float(eid % 50) / 2.0,
                    '{"k": %d}' % (eid % 100),
                )
            )
        df = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
            "ts",
            F.timestamp_seconds(F.lit(base) + F.col("event_id") * 47).cast(
                "timestamp_ntz"
            ),
        )
        df.coalesce(1).write.mode("append").parquet(src_dir)
    return src_dir


def test_streaming_rollup_matches_batch(spark, tmp_path):
    from stac_geoparquet_spark.streaming.events import (
        hourly_rollup,
        stream_events_hourly,
    )

    src = _write_event_files(spark, str(tmp_path / "events_src"))
    ckpt = str(tmp_path / "ckpt")
    stream_events_hourly(spark, src, ckpt, output_table="t_stream_rollup")
    streamed = {
        tuple(r) for r in spark.table("t_stream_rollup").collect()
    }
    batch = {
        tuple(r) for r in hourly_rollup(spark.read.parquet(src)).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_incremental_sync_exactly_once(spark, tmp_path):
    from stac_geoparquet_spark.streaming.events import stream_events_to_sink

    src = str(tmp_path / "sync_src")
    out = str(tmp_path / "sync_out")
    ckpt = str(tmp_path / "sync_ckpt")

    _write_event_files(spark, src, n_files=2, rows_per_file=50)
    stream_events_to_sink(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 100

    # second invocation with NO new data: nothing re-processed
    stream_events_to_sink(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 100

    # new file arrives: only it is processed
    _write_event_files(spark, src, n_files=1, rows_per_file=30)
    # (the helper wrote files 0..0 again -> 30 new rows appended)
    stream_events_to_sink(spark, src, out, ckpt)
    assert spark.read.parquet(out).count() == 130


def test_sync_with_transform(spark, tmp_path):
    from stac_geoparquet_spark.streaming.events import stream_events_to_sink

    src = str(tmp_path / "tr_src")
    out = str(tmp_path / "tr_out")
    ckpt = str(tmp_path / "tr_ckpt")
    _write_event_files(spark, src, n_files=1, rows_per_file=60)

    stream_events_to_sink(
        spark,
        src,
        out,
        ckpt,
        transform=lambda df: df.filter(F.col("event_type") == "click").select(
            "event_id", "ts", "value"
        ),
    )
    got = spark.read.parquet(out)
    assert got.columns == ["event_id", "ts", "value"]
    assert got.count() == 20


def _write_session_files(spark, src_dir):
    """Time-ordered files: file f covers a distinct time band so
    maxFilesPerTrigger=1 advances the watermark between batches.
    Sessions: user u has events every 5 min for 4 events, then a 2-hour
    gap to the next file's band -> each file closes the prior band's
    sessions once the watermark passes band_end + gap."""
    from stac_geoparquet_spark.streaming.events import EVENTS_SCHEMA

    os.makedirs(src_dir, exist_ok=True)
    base = 1704067200
    for f in range(4):
        rows = []
        band = base + f * 7200  # 2h apart
        for u in range(3):
            for i in range(4):
                eid = f * 100 + u * 10 + i
                rows.append(
                    (
                        eid,
                        None,
                        u,
                        "click",
                        1.5,
                        "{}",
                    )
                )
        df = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(band) + (F.col("event_id") % 10) * 300
            ).cast("timestamp_ntz"),
        )
        df.coalesce(1).write.mode("append").parquet(src_dir)
    return src_dir


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: every emitted session
    must exactly match the batch gap-sessionization, and all sessions
    whose close time precedes the final watermark must be emitted."""
    from pyspark.sql.window import Window

    from stac_geoparquet_spark.streaming.events import (
        stream_events_sessions,
    )

    src = _write_session_files(spark, str(tmp_path / "sess_src"))
    ckpt = str(tmp_path / "sess_ckpt")
    stream_events_sessions(
        spark, src, ckpt, output_table="t_stream_sessions", gap_minutes=30
    )
    streamed = spark.table("t_stream_sessions")

    # batch oracle: gap-based sessions over the same events
    ev = spark.read.parquet(src).withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("long") - F.col("prev_ts").cast("long")
                    > 1800
                )
            ).cast("int"),
        )
        .withColumn(
            "sess_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .drop("sess_id")
    )

    streamed_set = {
        tuple(r)
        for r in streamed.select(
            "user_id", "session_start", "session_end", "n_events", "value_sum"
        ).collect()
    }
    batch_set = {tuple(r) for r in batch.collect()}
    # every emitted session is a real batch session (exact values)
    assert streamed_set <= batch_set
    # sessions from the first bands are closed well before the final
    # watermark -> must have been emitted (3 users x >= 2 closed bands)
    assert len(streamed_set) >= 6
    # nothing emitted twice
    assert streamed.count() == len(streamed_set)


def test_session_window_matches_custom_sessionizer(spark, tmp_path):
    """The built-in session_window rollup (batch mode) must agree with
    the custom stateful sessionizer's semantics: same session starts,
    counts and sums per user session."""
    from stac_geoparquet_spark.streaming.events import session_window_rollup

    src = _write_session_files(spark, str(tmp_path / "sw_src"))
    ev = spark.read.parquet(src)
    got = {
        (r.user_id, r.session_start, r.n_events, r.value_sum)
        for r in session_window_rollup(ev).collect()
    }
    # the generator writes 4 bands x 3 users, 4 events each, 5 min
    # apart inside a band, bands 2h apart -> 12 sessions of 4 events
    assert len(got) == 12
    assert all(n == 4 and v == 6.0 for (_, _, n, v) in got)


def test_stream_dedup_matches_batch(spark, sf_dir, tmp_path):
    """The stream-static incremental dedup must emit exactly the pairs
    the batch-mode entry (oracle-checked) produces for the same split."""
    from stac_geoparquet_spark.streaming.dedup import (
        INCOMING_MOD,
        band_index,
        dedup_incremental_minhash,
        stream_dedup_against_index,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "incoming")
    # two files => two potential micro-batches
    inc = docs.filter(F.col("doc_id") % INCOMING_MOD == 0)
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) != 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = stream_dedup_against_index(spark, src, band_index(spark, sf_dir))
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        tuple(r)
        for r in spark.table("t_stream_dedup").distinct().collect()
    }
    batch = {
        tuple(r) for r in dedup_incremental_minhash(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(batch) > 0 or sf_dir.endswith("sf0.001")


def test_sessionize_stream_late_event_does_not_regress_bounds(spark, tmp_path):
    """A late event admitted by the watermark must extend the stored
    session bounds monotonically (round-2 fix: `last = t` shrank
    session_end and pulled the event-time timeout backwards)."""
    import time as _time

    from stac_geoparquet_spark.streaming.events import (
        EVENTS_SCHEMA,
        stream_events_sessions,
    )

    src = str(tmp_path / "late_src")
    os.makedirs(src, exist_ok=True)
    base = 1704067200

    def write_file(rows):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA).withColumn(
            "ts", F.timestamp_seconds(F.col("value")).cast("timestamp_ntz")
        )
        df.coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mod-times => deterministic file order

    # batch 1: user 7 at t=base and base+50
    write_file([(1, None, 7, "click", float(base), "{}"),
                (2, None, 7, "click", float(base + 50), "{}")])
    # batch 2: LATE event for user 7 at base+20 (admitted: watermark is
    # base+50 - 1min) + a far-future user-8 event that pushes the
    # watermark past user 7's last + gap
    write_file([(3, None, 7, "click", float(base + 20), "{}"),
                (4, None, 8, "click", float(base + 7200), "{}")])
    # batch 3: another future event so the timed-out user-7 state emits
    write_file([(5, None, 8, "click", float(base + 7300), "{}")])

    stream_events_sessions(
        spark, src, str(tmp_path / "late_ckpt"),
        output_table="t_late_sessions", gap_minutes=30,
    )
    rows = {
        r.user_id: r
        for r in spark.table("t_late_sessions").collect()
    }
    assert 7 in rows, "user 7's session must have timed out and emitted"
    s = rows[7]
    assert s.session_start.timestamp() == base
    assert s.session_end.timestamp() == base + 50, (
        "late event must not regress session_end"
    )
    assert s.n_events == 3


def test_stream_decontam_matches_batch(spark, sf_dir, tmp_path):
    """The stream-static incremental decontamination must yield exactly
    the per-doc overlap counts the batch-mode entry (oracle-checked)
    produces for the same incoming split."""
    from stac_geoparquet_spark.streaming.decontam import (
        decontam_incremental,
        holdout_gram_index,
        stream_decontam_against_holdout,
    )
    from stac_geoparquet_spark.streaming.dedup import INCOMING_MOD

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "incoming_decontam")
    inc = docs.filter(F.col("doc_id") % INCOMING_MOD == 0)
    # two files => two potential micro-batches
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) != 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = stream_decontam_against_holdout(
        spark, src, holdout_gram_index(spark, sf_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_decontam")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_decontam"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["doc_id"], r["n_overlap"])
        for r in spark.table("t_stream_decontam")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .collect()
    }
    batch = {
        (r["doc_id"], r["n_overlap"])
        for r in decontam_incremental(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(batch) > 0 or sf_dir.endswith("sf0.001")


def test_stream_semdedup_matches_batch(spark, sf_dir, tmp_path):
    """The streaming semantic-dup detector must yield exactly the
    per-vector index-duplicate counts the batch-mode entry
    (oracle-checked) produces for the same incoming split — including
    vectors whose duplicate is found in a different micro-batch's cell
    (the join is stream-static, so each batch sees the whole index)."""
    import duckdb

    from stac_geoparquet_spark.streaming.dedup import INCOMING_MOD
    from stac_geoparquet_spark.streaming.semdedup import (
        semdedup_incremental,
        stream_semdedup_against_index,
    )

    src = str(tmp_path / "incoming_vecs")
    os.makedirs(src)
    con = duckdb.connect()
    # two files => two potential micro-batches; inject one exact
    # duplicate (vec 100 takes static vec 101's embedding) so the
    # stream provably fires
    base = os.path.join(sf_dir, "embeddings.parquet")
    con.execute(
        f"""COPY (
          SELECT e.vec_id,
                 CASE WHEN e.vec_id = 100 THEN s.embedding
                      ELSE e.embedding END AS embedding, e.label
          FROM read_parquet('{base}') e
          LEFT JOIN read_parquet('{base}') s ON s.vec_id = 101
          WHERE e.vec_id % {INCOMING_MOD} = 0
            AND e.vec_id % {2 * INCOMING_MOD} = 0
        ) TO '{src}/a.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (
          SELECT vec_id, embedding, label FROM read_parquet('{base}')
          WHERE vec_id % {INCOMING_MOD} = 0
            AND vec_id % {2 * INCOMING_MOD} <> 0
        ) TO '{src}/b.parquet' (FORMAT PARQUET)"""
    )
    # batch twin over a dataset with the same injected duplicate
    dup_dir = str(tmp_path / "sf_dup_stream")
    os.makedirs(dup_dir)
    con.execute(
        f"""COPY (
          SELECT e.vec_id,
                 CASE WHEN e.vec_id = 100 THEN s.embedding
                      ELSE e.embedding END AS embedding, e.label
          FROM read_parquet('{base}') e
          LEFT JOIN read_parquet('{base}') s ON s.vec_id = 101
        ) TO '{dup_dir}/embeddings.parquet' (FORMAT PARQUET)"""
    )

    stream = stream_semdedup_against_index(spark, src, dup_dir)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_semdedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_semdedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["vec_id"], r["n"])
        for r in spark.table("t_stream_semdedup")
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = {
        (r["vec_id"], r["n_index_dups"])
        for r in semdedup_incremental(spark, dup_dir).collect()
        if r["n_index_dups"] > 0
    }
    assert streamed == batch
    assert any(v == 100 for v, _ in batch), "injected dup must be found"


def test_stream_source_quota_matches_batch(spark, tmp_path, sf_dir):
    """Arrival-order per-source quota: the applyInPandasWithState
    stream over id-ordered files admits exactly the docs the batch
    stand-in admits, across multiple micro-batches (state carries the
    running count between batches)."""
    import os

    from pyspark.sql import functions as F

    from stac_geoparquet_spark.streaming.quota import (
        source_quota_incremental,
        stream_source_quota,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "incoming")
    # two id-ordered files => the quota must span micro-batches
    half = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    docs.filter(F.col("doc_id") <= half).orderBy("doc_id").coalesce(
        1
    ).write.mode("append").parquet(src)
    docs.filter(F.col("doc_id") > half).orderBy("doc_id").coalesce(
        1
    ).write.mode("append").parquet(src)

    q = (
        stream_source_quota(spark, src)
        .writeStream.format("memory")
        .queryName("t_stream_quota")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_quota"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["doc_id"], r["source"], r["admitted"])
        for r in spark.table("t_stream_quota").collect()
    }
    batch = {
        (r["doc_id"], r["source"], r["admitted"])
        for r in source_quota_incremental(spark, sf_dir).collect()
    }
    assert streamed == batch
    # the quota actually binds somewhere
    assert any(not a for (_, _, a) in batch)


def test_stream_novelty_matches_batch(spark, sf_dir, tmp_path):
    """The stream-static incremental novelty scorer must yield exactly
    the per-doc (n_grams, n_new) counts the batch-mode entry
    (oracle-checked) produces for the same incoming split."""
    from stac_geoparquet_spark.streaming.dedup import INCOMING_MOD
    from stac_geoparquet_spark.streaming.novelty import (
        corpus_gram_index,
        novelty_incremental,
        stream_novelty_against_index,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    src = str(tmp_path / "incoming_novelty")
    inc = docs.filter(F.col("doc_id") % INCOMING_MOD == 0)
    # two files => two potential micro-batches
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) == 0).coalesce(
        1
    ).write.mode("append").parquet(src)
    inc.filter(F.col("doc_id") % (2 * INCOMING_MOD) != 0).coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = stream_novelty_against_index(
        spark, src, corpus_gram_index(spark, sf_dir)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_novelty")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_novelty"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = {
        (r["doc_id"], r["n_grams"], r["n_new"])
        for r in spark.table("t_stream_novelty")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("seen"), F.lit(0)).otherwise(F.lit(1))
            ).alias("n_new"),
        )
        .collect()
    }
    batch = {
        (r["doc_id"], r["n_grams"], r["n_new"])
        for r in novelty_incremental(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_stream_psi_matches_batch(spark, sf_dir, tmp_path):
    """The stream-static PSI scorer must reproduce the oracle-checked
    batch entry exactly: per-type incoming counts aggregated over the
    micro-batched flagged rows + the frozen baseline + the smoothed
    term formula == events_psi_incremental's rows."""
    import math

    from stac_geoparquet_spark.operators.retrieval import INCOMING_MOD
    from stac_geoparquet_spark.streaming.psi import (
        psi_baseline,
        stream_psi_flagged,
    )
    from stac_geoparquet_spark.operators.timeseries import (
        events_psi_incremental,
    )
    from stac_geoparquet_spark.operators._io import read_table

    ev = read_table(spark, sf_dir, "events")
    inc = ev.filter(
        (F.col("event_id") % INCOMING_MOD == 0)
        & F.col("event_id").isNotNull()
    )
    src = str(tmp_path / "incoming_psi")
    # two files => two potential micro-batches
    inc.filter(F.col("event_id") % (2 * INCOMING_MOD) == 0).coalesce(
        1
    ).write.mode("append").parquet(src)
    inc.filter(F.col("event_id") % (2 * INCOMING_MOD) != 0).coalesce(
        1
    ).write.mode("append").parquet(src)

    baseline = psi_baseline(spark, sf_dir)
    stream = stream_psi_flagged(spark, src, baseline)
    q = (
        stream.writeStream.format("memory")
        .queryName("t_stream_psi")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # consumer-side rollup of the streamed rows (additive across
    # micro-batches) + the frozen baseline totals
    per = {
        r["event_type"]: (r["n_base"], r["n_inc"])
        for r in spark.table("t_stream_psi")
        .groupBy("event_type")
        .agg(
            F.max("n_base").alias("n_base"),
            F.count(F.lit(1)).alias("n_inc"),
        )
        .collect()
    }
    base_only = {
        r["event_type"]: r["n_base"] for r in baseline.collect()
    }
    # types with no incoming rows still carry a term (n_incoming = 0)
    all_types = set(per) | set(base_only)
    ta = sum(base_only.values())
    tb = sum(v[1] for v in per.values())
    k = len(all_types)

    batch = {
        r["event_type"]: r
        for r in events_psi_incremental(spark, sf_dir).collect()
    }
    assert set(batch) == all_types
    for t in all_types:
        nb = base_only.get(t, 0)
        ni = per.get(t, (0, 0))[1]
        r = batch[t]
        assert r["n_base"] == nb, t
        assert r["n_incoming"] == ni, t
        expect = round(
            ((nb + 1) / (ta + k) - (ni + 1) / (tb + k))
            * math.log(((nb + 1) * (tb + k)) / ((ni + 1) * (ta + k))),
            6,
        )
        assert abs(r["psi_term"] - expect) < 1e-9, t
