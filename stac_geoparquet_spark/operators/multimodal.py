"""Multimodal-column operators: image/audio/video as opaque ``binary``
columns with typed metadata.

A 100-TB training-data pipeline carries media as binary payloads next
to structured metadata. The heavyweight decoders (PIL / librosa /
ffmpeg) are NOT in this container; ``decode_image`` uses PIL when
installed, REALLY decodes PNG without it via the pure-stdlib codec in
``operators/png.py``, and raises ``NotImplementedError`` only for
non-PNG formats with no PIL. Everything Spark-side — schema, binary
column handling, Arrow batch shape through ``mapInPandas``,
partitioning — is real and oracle-tested.

The media table is synthesized deterministically from ``documents``
(the driver's tables carry no binary columns): ``payload =
unhex(repeat(md5(text), 1 + doc_id % 4))`` — byte-identical in Spark
and DuckDB, so even the byte-level feature extraction has an exact SQL
oracle (a byte's high nibble IS its first hex char).

Scale notes (100 TB):
- Payloads stay opaque binary end-to-end; Parquet stores them unencoded
  and Spark never materializes them except inside the Arrow batches of
  the one ``mapInPandas`` stage that decodes.
- ``mapInPandas`` receives Arrow record batches bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — with ~10 KB
  payloads the default 10k rows/batch is ~100 MB; real deployments set
  it lower for 1-10 MB images (documented knob, not hard-coded).
- Frame sampling is a generator explode: linear output, no shuffle
  until the terminal aggregation.
- The manifest aggregation is a single map-side-combinable groupBy on a
  3-value key.

Reference scope note: stac-geoparquet itself has no media handling; the
nearest analogue is its opaque-WKB geometry column + typed metadata
convention (arrow/_batch.py:47-57), which this module generalizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_geoparquet_spark.operators._canon import (
    DOCS_CANON_SQL as _DOCS_CANON_SQL,
)

HIST_BINS = 16  # byte high-nibble histogram
FRAME_STEP = 2  # sample every 2nd frame


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic media table: one row per document with a
    binary payload and typed per-modality metadata.

    Columns: doc_id, media_type, payload (binary), meta
    (struct<width,height,sample_rate,n_frames>) — absent fields null per
    modality, mirroring how a real lakehouse carries mixed media.
    """
    # canonical-by-id (_canon.py): an asset store is KEYED — one
    # payload per doc_id even when the doc was re-ingested, so the
    # whole mm_* family derives from the canonical corpus and its
    # oracles read the same canonical subquery
    from stac_geoparquet_spark.operators._canon import docs_canon

    # r10 session 2: no toy-file spread — the mm decode stages run
    # milliseconds of Python per row at test scale, so the round-robin
    # exchange of the payload column + 32 near-empty Arrow tasks cost
    # more than they parallelized (mm_phash solo noop 1.1-1.4 ->
    # 0.5-0.64 s, interleaved A/B).  At scale the scan's natural split
    # count IS the parallelism on both paths, and not round-robining
    # the payload bytes is exactly guide §2.3.
    docs = docs_canon(spark, sf_dir, spread=False)
    doc_id = F.col("doc_id")
    media_type = (
        F.when(doc_id % 3 == 0, "image")
        .when(doc_id % 3 == 1, "audio")
        .otherwise("video")
    )
    payload_hex = F.expr("repeat(md5(text), cast(1 + doc_id % 4 as int))")
    return docs.select(
        "doc_id",
        media_type.alias("media_type"),
        F.unhex(payload_hex).alias("payload"),
        F.struct(
            F.when(doc_id % 3 == 0, (64 + (doc_id % 16) * 32).cast("int"))
            .alias("width"),
            F.when(doc_id % 3 == 0, (64 + (doc_id % 9) * 32).cast("int"))
            .alias("height"),
            F.when(doc_id % 3 == 1, F.lit(16000).cast("int")).alias("sample_rate"),
            F.when(doc_id % 3 == 2, (1 + doc_id % 7).cast("int")).alias("n_frames"),
        ).alias("meta"),
    )


# --------------------------------------------------------------------------
# 1. media manifest — per-modality stats (pure built-ins, one shuffle)
# --------------------------------------------------------------------------
def mm_media_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = media_table(spark, sf_dir)
    return (
        m.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.round(F.avg(F.octet_length("payload")), 4).alias("avg_bytes"),
            F.round(F.avg("meta.width"), 4).alias("avg_width"),
            F.sum("meta.n_frames").alias("total_frames"),
        )
        .orderBy("media_type")
    )


MM_MANIFEST_SQL = f"""
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         unhex(repeat(md5(text), CAST(1 + doc_id % 4 AS INT))) AS payload,
         CASE WHEN doc_id % 3 = 0 THEN CAST(64 + (doc_id % 16) * 32 AS INT) END AS width,
         CASE WHEN doc_id % 3 = 2 THEN CAST(1 + doc_id % 7 AS INT) END AS n_frames
  FROM {_DOCS_CANON_SQL} documents
)
SELECT media_type,
       count(*) AS n_items,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       round(avg(octet_length(payload)), 4) AS avg_bytes,
       round(avg(width), 4) AS avg_width,
       CAST(sum(n_frames) AS BIGINT) AS total_frames
FROM m GROUP BY media_type ORDER BY media_type
"""


# --------------------------------------------------------------------------
# 2. video frame sampling — generator explode, no Python in the path
# --------------------------------------------------------------------------
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every FRAME_STEP-th frame index of each video, with a
    deterministic per-frame content key (stand-in for the frame-decode
    output a real pipeline would hash)."""
    m = media_table(spark, sf_dir).filter(F.col("media_type") == "video")
    frames = m.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0), F.col("meta.n_frames") - 1, F.lit(FRAME_STEP)
            )
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("frame_idx"))).alias(
            "frame_key"
        ),
    )


MM_FRAME_SAMPLE_SQL = f"""
WITH v AS (
  SELECT doc_id, CAST(1 + doc_id % 7 AS INT) AS n_frames
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 2
)
SELECT doc_id,
       unnest(generate_series(0, n_frames - 1, {FRAME_STEP})) AS frame_idx,
       md5(doc_id || ':' || unnest(generate_series(0, n_frames - 1, {FRAME_STEP}))) AS frame_key
FROM v
"""


# --------------------------------------------------------------------------
# 3. byte-histogram feature extraction — REAL binary mapInPandas path
# --------------------------------------------------------------------------
def extract_byte_histogram(payload: bytes) -> list[int]:
    """Deterministic fake 'decoder': 16-bin histogram of byte high
    nibbles. Stands in for image feature extraction; the Spark plumbing
    around it (binary column -> Arrow batch -> numpy -> array column)
    is exactly what a real decoder needs."""
    import numpy as np

    arr = np.frombuffer(payload, dtype=np.uint8)
    return np.bincount(arr >> 4, minlength=HIST_BINS).tolist()


def mm_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image byte-nibble histogram, exploded to (doc_id, bin, cnt)
    rows so the byte-level decode is exactly checkable in SQL (a byte's
    high nibble is the first hex char of its hex pair)."""
    import numpy as np
    import pandas as pd

    m = media_table(spark, sf_dir).filter(
        (F.col("media_type") == "image") & F.col("payload").isNotNull()
    )

    def feats(batches):
        for pdf in batches:
            out_ids, out_bins, out_cnts = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                hist = np.bincount(
                    np.frombuffer(payload, dtype=np.uint8) >> 4,
                    minlength=HIST_BINS,
                )
                nz = np.nonzero(hist)[0]
                out_ids.extend([doc_id] * len(nz))
                out_bins.extend(nz.tolist())
                out_cnts.extend(hist[nz].tolist())
            yield pd.DataFrame(
                {"doc_id": out_ids, "bin": out_bins, "cnt": out_cnts}
            )

    return m.select("doc_id", "payload").mapInPandas(
        feats, schema="doc_id bigint, bin int, cnt bigint"
    )


MM_IMAGE_FEATURES_SQL = f"""
WITH img AS (
  SELECT doc_id, repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS hx
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
),
nib AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, length(hx) // 2),
           i -> substr(hx, 2 * i - 1, 1)
         )) AS c
  FROM img
)
SELECT doc_id,
       CAST(('0x' || c)::BIGINT AS INT) AS bin,
       count(*) AS cnt
FROM nib GROUP BY doc_id, c
"""


# --------------------------------------------------------------------------
# 4. real decoder: PIL when present, pure-stdlib PNG codec otherwise
# --------------------------------------------------------------------------
def decode_image(payload: bytes):
    """Real image decode.  PIL handles every format when installed; in
    this container (no imaging libs) PNG payloads decode through the
    pure-stdlib codec in ``operators/png.py`` (zlib inflate + per-row
    unfilter — a genuine decode, exercised on real PNG byte streams in
    tests/test_multimodal.py), returning a ``png.DecodedImage``.
    Non-PNG formats without PIL raise NotImplementedError — an honest
    gate, not a fake."""
    try:
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload))  # pragma: no cover
    except ImportError:
        pass
    from stac_geoparquet_spark.operators import png

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return png.decode_png(payload)
    raise NotImplementedError(
        "only PNG decodes without PIL (operators/png.py); other formats "
        "need PIL, which is not installed — use extract_byte_histogram "
        "for the deterministic fake path"
    )


# --------------------------------------------------------------------------
# 5. resize — binary -> binary transform plumbing (stride downsample)
# --------------------------------------------------------------------------
RESIZE_STRIDE = 4


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'resize': stride-downsample the payload bytes (a
    stand-in for pixel-grid resampling — a real resize is the same
    binary->binary mapInPandas stage with PIL inside; see decode_image
    for the gate). Emits the new payload as hex so the byte-exact
    result is SQL-checkable. No shuffle: pure map over input splits."""
    import numpy as np
    import pandas as pd

    m = media_table(spark, sf_dir).filter(
        (F.col("media_type") == "image") & F.col("payload").isNotNull()
    )

    def resize(batches):
        for pdf in batches:
            out = {"doc_id": [], "orig_len": [], "new_len": [], "resized_hex": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.frombuffer(payload, dtype=np.uint8)[::RESIZE_STRIDE]
                out["doc_id"].append(doc_id)
                out["orig_len"].append(len(payload))
                out["new_len"].append(len(arr))
                out["resized_hex"].append(arr.tobytes().hex())
            yield pd.DataFrame(out)

    return m.select("doc_id", "payload").mapInPandas(
        resize,
        schema="doc_id bigint, orig_len bigint, new_len bigint, "
        "resized_hex string",
    )


MM_RESIZE_SQL = f"""
WITH img AS (
  SELECT doc_id, repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS hx
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
)
SELECT doc_id,
       CAST(length(hx) // 2 AS BIGINT) AS orig_len,
       CAST((length(hx) // 2 + {RESIZE_STRIDE} - 1) // {RESIZE_STRIDE} AS BIGINT) AS new_len,
       array_to_string(list_transform(
         generate_series(0, length(hx) // 2 - 1, {RESIZE_STRIDE}),
         i -> substr(hx, 2 * i + 1, 2)
       ), '') AS resized_hex
FROM img
"""


# --------------------------------------------------------------------------
# 6. audio window energy — the feature-extraction shape for the audio
# modality (windowed RMS energy is what VAD / silence trimming runs on)
# --------------------------------------------------------------------------
AUDIO_WINDOW = 16  # samples (bytes) per analysis window


def audio_energy_frame(m: DataFrame) -> DataFrame:
    """Windowed energy over any (doc_id, payload binary) frame — the
    decode stage mm_audio_energy wires to the synthetic media table;
    tests drive it with injected non-window-aligned payloads."""

    def energy(batches):
        import numpy as np
        import pandas as pd

        win = AUDIO_WINDOW
        for pdf in batches:
            out = {"doc_id": [], "window_idx": [], "n_samples": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = (
                    np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                    - 128
                )
                for widx in range(-(-len(arr) // win)):
                    seg = arr[widx * win : (widx + 1) * win]
                    out["doc_id"].append(doc_id)
                    out["window_idx"].append(widx)
                    out["n_samples"].append(len(seg))
                    out["energy"].append(int((seg * seg).sum()))
            yield pd.DataFrame(out)

    return m.select("doc_id", "payload").mapInPandas(
        energy,
        schema="doc_id bigint, window_idx bigint, n_samples bigint, "
        "energy bigint",
    )


def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per audio item and 16-sample window: sample count and energy
    (sum of squared zero-centered 8-bit samples). Integer-exact, so
    the 'decode' is byte-checkable in SQL like the image histogram.
    Same scale shape as the other decode stages: pure map over input
    splits, one Arrow batch pass, no shuffle; a trailing short window
    is kept (real audio is not window-aligned — pinned on injected
    odd-length payloads in tests/test_multimodal.py)."""
    m = media_table(spark, sf_dir).filter(
        (F.col("media_type") == "audio") & F.col("payload").isNotNull()
    )
    return audio_energy_frame(m)


MM_AUDIO_ENERGY_SQL = f"""
WITH au AS (
  SELECT doc_id, repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS hx
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 1 AND text IS NOT NULL
),
w AS (
  SELECT doc_id, hx, length(hx) // 2 AS n_bytes,
         unnest(generate_series(
           0, CAST(ceil(length(hx) / 2.0 / {AUDIO_WINDOW}) AS BIGINT) - 1
         )) AS window_idx
  FROM au
)
SELECT doc_id, window_idx,
       CAST(least({AUDIO_WINDOW}, n_bytes - window_idx * {AUDIO_WINDOW})
            AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(
         generate_series(window_idx * {AUDIO_WINDOW},
                         least(window_idx * {AUDIO_WINDOW} + {AUDIO_WINDOW} - 1,
                               n_bytes - 1)),
         i -> (('0x' || substr(hx, 2 * i + 1, 2))::BIGINT - 128)
              * (('0x' || substr(hx, 2 * i + 1, 2))::BIGINT - 128)
       )) AS BIGINT) AS energy
FROM w
"""


# --------------------------------------------------------------------------
# 6. content-defined chunking (CDC) dedup accounting — the blob-store
# shape of deduplication: split every payload at ROLLING-WINDOW
# boundaries (a boundary before byte p whenever the u32 value of the
# preceding CDC_WINDOW bytes is 0 mod CDC_MOD), hash each chunk, and
# report per-modality how much of the byte volume is duplicate chunks.
# Content-defined (not fixed-stride) boundaries make chunk identity
# survive insertions — the property backup systems and blob-store
# dedup (LBFS/Venti lineage) rely on; here it quantifies how much a
# media corpus would shrink under chunk-level dedup before anyone
# pays for perceptual hashing.
#
# Scale shape: boundary detection and chunk hashing are IN-ROW
# higher-order expressions over the hex string (one scan, no Python,
# no shuffle until the chunk rollup); the rollup is two chained keyed
# aggregates — (modality, chunk_hash) counts, then the 3-row modality
# report — both map-side combinable.  Expected chunks per blob =
# bytes / CDC_MOD, so the exploded frame is ~1/16th of the corpus
# byte volume in rows.
# --------------------------------------------------------------------------
CDC_WINDOW = 4  # rolling window, bytes
CDC_MOD = 16  # boundary when window value % CDC_MOD == 0 (~16 B chunks)


def mm_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_geoparquet_spark.operators._canon import docs_canon

    docs = docs_canon(spark, sf_dir).where(F.col("text").isNotNull())
    media_type = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    m = docs.select(
        media_type.alias("media_type"),
        F.expr("repeat(md5(text), cast(1 + doc_id % 4 as int))").alias(
            "hx"
        ),
    )
    # interior boundaries ascend by construction (sequence + filter
    # preserve order); cuts = [0] ++ bounds ++ [n_bytes]
    w, md = CDC_WINDOW, CDC_MOD
    c = m.selectExpr(
        "media_type",
        "hx",
        f"""concat(
              array(0),
              filter(sequence({w}, length(hx) div 2 - 1),
                     p -> conv(substr(hx, 2 * (p - {w}) + 1, {2 * w}),
                               16, 10) % {md} = 0),
              array(length(hx) div 2)
            ) AS cuts""",
    )
    ch = c.selectExpr(
        "media_type",
        "hx",
        """explode(zip_with(
             slice(cuts, 1, size(cuts) - 1),
             slice(cuts, 2, size(cuts) - 1),
             (s, e) -> struct(s AS s, e AS e)
           )) AS sp""",
    ).selectExpr(
        "media_type",
        "md5(substr(hx, 2 * sp.s + 1, 2 * (sp.e - sp.s))) AS chunk_hash",
        "CAST(sp.e - sp.s AS BIGINT) AS nb",
    )
    g = ch.groupBy("media_type", "chunk_hash").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("nb").alias("sb")
    )
    return g.groupBy("media_type").agg(
        F.sum("cnt").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.round(1 - F.count(F.lit(1)) / F.sum("cnt"), 6).alias(
            "dedup_ratio"
        ),
        F.round(F.sum("sb") / F.sum("cnt"), 4).alias("avg_chunk_bytes"),
    )


MM_CDC_SQL = f"""
WITH m AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS hx
  FROM {_DOCS_CANON_SQL} documents WHERE text IS NOT NULL
),
c AS (
  SELECT media_type, hx,
         list_concat(list_concat(
           [0],
           list_filter(range({CDC_WINDOW}, length(hx) // 2),
             p -> ('0x' || substr(hx, 2 * (p - {CDC_WINDOW}) + 1,
                                  {2 * CDC_WINDOW}))::BIGINT
                  % {CDC_MOD} = 0)),
           [length(hx) // 2]) AS cuts
  FROM m
),
ch AS (
  SELECT media_type,
         md5(substr(hx, 2 * cuts[i + 1] + 1,
                    2 * (cuts[i + 2] - cuts[i + 1]))) AS chunk_hash,
         cuts[i + 2] - cuts[i + 1] AS nb
  FROM c, unnest(range(0, len(cuts) - 1)) AS t(i)
),
g AS (
  SELECT media_type, chunk_hash, count(*) AS cnt, sum(nb) AS sb
  FROM ch GROUP BY 1, 2
)
SELECT media_type,
       CAST(sum(cnt) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       round(1 - count(*) * 1.0 / sum(cnt), 6) AS dedup_ratio,
       round(sum(sb) * 1.0 / sum(cnt), 4) AS avg_chunk_bytes
FROM g GROUP BY media_type
"""


QUERIES = {
    "mm_media_manifest": mm_media_manifest,
    "mm_frame_sample": mm_frame_sample,
    "mm_image_features": mm_image_features,
    "mm_resize": mm_resize,
}

ORACLE = {
    "mm_media_manifest": MM_MANIFEST_SQL,
    "mm_frame_sample": MM_FRAME_SAMPLE_SQL,
    "mm_image_features": MM_IMAGE_FEATURES_SQL,
    "mm_resize": MM_RESIZE_SQL,
}

QUERIES |= {
    "mm_audio_energy": mm_audio_energy,
    "mm_cdc_chunk_dedup": mm_cdc_chunk_dedup,
}

ORACLE |= {
    "mm_audio_energy": MM_AUDIO_ENERGY_SQL,
    "mm_cdc_chunk_dedup": MM_CDC_SQL,
}


# --------------------------------------------------------------------------
# 7. perceptual-hash dedup (round 8): the aHash shape over the media
#    payloads — 64 stride-sampled bytes per image, each bit = sample >
#    payload mean — grouped into exact-duplicate perceptual clusters.
#    With real images the 64 samples are the 8x8 grayscale thumbnail
#    (decode_image + png.resample provide the genuine pixel path,
#    exercised in tests/test_multimodal.py); over the synthetic byte
#    payloads the SAME pipeline is byte-exact in SQL, so the Spark
#    mapInPandas stage (numpy strided gather + mean compare — the real
#    deployment shape) has an exact oracle.  The mean compare is the
#    exact-int form sample*n_bytes > sum_bytes (no float division);
#    the hash is a 64-char bitstring (no int64 sign games).  One
#    Arrow-batched map, one keyed aggregate on the scaling hash.
# --------------------------------------------------------------------------
PHASH_BITS = 64


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    m = media_table(spark, sf_dir).filter(
        (F.col("media_type") == "image") & F.col("payload").isNotNull()
    )

    def phash(batches):
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = np.frombuffer(payload, dtype=np.uint8)
                n = len(b)
                if n == 0:
                    continue
                pos = (np.arange(PHASH_BITS, dtype=np.int64) * n) // PHASH_BITS
                samples = b[pos].astype(np.int64)
                total = int(b.sum())
                bits = samples * n > total
                ids.append(doc_id)
                hashes.append("".join("1" if x else "0" for x in bits))
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    hashed = m.select("doc_id", "payload").mapInPandas(
        phash, schema="doc_id bigint, phash string"
    )
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .where(F.col("n_images") >= 2)
    )


MM_PHASH_SQL = f"""
WITH img AS (
  SELECT doc_id, repeat(md5(text), CAST(1 + doc_id % 4 AS INT)) AS hx
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
),
b AS (
  SELECT doc_id, length(hx) // 2 AS n,
         list_transform(generate_series(1, length(hx) // 2),
                        i -> ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT)
           AS bytes
  FROM img WHERE length(hx) >= 2
),
bits AS (
  SELECT doc_id, j,
         CASE WHEN bytes[CAST((j * n) // {PHASH_BITS} AS INT) + 1] * n
                   > list_sum(bytes)
              THEN '1' ELSE '0' END AS bit
  FROM b, unnest(generate_series(0, {PHASH_BITS - 1})) AS t(j)
),
hashed AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY j) AS phash
  FROM bits GROUP BY doc_id
)
SELECT phash,
       CAST(count(*) AS BIGINT) AS n_images,
       CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
FROM hashed GROUP BY phash
HAVING count(*) >= 2
"""

QUERIES["mm_phash_dedup"] = mm_phash_dedup
ORACLE["mm_phash_dedup"] = MM_PHASH_SQL


# --------------------------------------------------------------------------
# Scene-cut detection (round 10): per sampled video frame, a
# luminance stand-in derived from the frame content key; a CUT is a
# consecutive-frame luminance jump above MM_CUT_TAU — the shot-
# boundary detector every video curation pipeline runs before
# keyframe selection (sample one frame per SHOT, not per fixed
# stride).  The luminance here is the md5 content key's leading 32
# bits scaled to [0, 1) — the deterministic fake standing in for the
# mean-luma a real decoder would emit (the mm-family contract:
# plumbing real, decode swappable), so cuts are reproducible on both
# engines bit-for-bit.
#
# Scale shape: the frame stream is doc-keyed; the lag comparison is
# ONE window partitioned by doc_id (a scaling key) ordered by
# frame_idx, then a per-video rollup — no self-join, nothing
# quadratic; counts exact int64, the cut rate one guarded division.
# --------------------------------------------------------------------------
MM_CUT_TAU = 0.5


def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    frames = mm_frame_sample(spark, sf_dir).withColumn(
        "lum",
        F.round(
            F.conv(F.substring("frame_key", 1, 8), 16, 10).cast("double")
            / F.lit(4294967296.0),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    scored = frames.withColumn(
        "delta",
        F.round(F.abs(F.col("lum") - F.lag("lum").over(w)), 6),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames_sampled"),
        F.sum(F.when(F.col("delta") > MM_CUT_TAU, 1).otherwise(0))
        .cast("bigint")
        .alias("n_cuts"),
        F.min(
            F.when(F.col("delta") > MM_CUT_TAU, F.col("frame_idx"))
        ).alias("first_cut_idx"),
        F.round(
            F.sum(F.when(F.col("delta") > MM_CUT_TAU, 1).otherwise(0))
            .cast("double")
            / F.expr(
                "nullif(CAST(count(*) - 1 AS DOUBLE), 0.0)"
            ),
            6,
        ).alias("cut_rate"),
    )


MM_SCENE_CUTS_SQL = f"""
WITH v AS (
  SELECT doc_id, CAST(1 + doc_id % 7 AS INT) AS n_frames
  FROM {_DOCS_CANON_SQL} documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT doc_id,
         CAST(f AS BIGINT) AS frame_idx,
         round(('0x' || substr(md5(doc_id || ':' || f), 1, 8))::BIGINT
               / 4294967296.0, 6) AS lum
  FROM (
    SELECT doc_id,
           unnest(generate_series(0, n_frames - 1, {FRAME_STEP})) AS f
    FROM v
  ) u
),
scored AS (
  SELECT doc_id, frame_idx,
         round(abs(lum - lag(lum) OVER (PARTITION BY doc_id
                                        ORDER BY frame_idx)), 6) AS delta
  FROM frames
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_frames_sampled,
       CAST(sum(CASE WHEN delta > {MM_CUT_TAU} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cuts,
       min(CASE WHEN delta > {MM_CUT_TAU} THEN frame_idx END)
         AS first_cut_idx,
       round(CAST(sum(CASE WHEN delta > {MM_CUT_TAU} THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / nullif(CAST(count(*) - 1 AS DOUBLE), 0.0), 6) AS cut_rate
FROM scored
GROUP BY doc_id
"""


QUERIES["mm_scene_cuts"] = mm_scene_cuts
ORACLE["mm_scene_cuts"] = MM_SCENE_CUTS_SQL
