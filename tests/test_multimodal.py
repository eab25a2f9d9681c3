"""Multimodal-column tests: binary payload determinism, mapInPandas
batch plumbing, decode-stub gating, and DuckDB oracle agreement."""

import hashlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

SF = "/root/testdata/sf0.001"


def test_media_table_schema_and_determinism(spark):
    from stac_geoparquet_spark.operators.multimodal import media_table

    m = media_table(spark, SF)
    assert [f.name for f in m.schema.fields] == [
        "doc_id",
        "media_type",
        "payload",
        "meta",
    ]
    assert m.schema["payload"].dataType.simpleString() == "binary"
    row = m.filter("doc_id = 0").collect()[0]
    # doc 0: image, payload = unhex(md5(text) * 1) = 16 bytes
    assert row["media_type"] == "image"
    assert len(row["payload"]) == 16
    assert row["meta"]["width"] == 64
    assert row["meta"]["sample_rate"] is None
    # byte-identical with hashlib on the raw text
    text = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("doc_id = 0")
        .collect()[0]["text"]
    )
    assert row["payload"] == hashlib.md5(text.encode()).digest()


def test_extract_byte_histogram_reference():
    from stac_geoparquet_spark.operators.multimodal import (
        HIST_BINS,
        extract_byte_histogram,
    )

    payload = bytes(range(256))
    hist = extract_byte_histogram(payload)
    assert len(hist) == HIST_BINS
    assert hist == [16] * HIST_BINS
    assert extract_byte_histogram(b"") == [0] * HIST_BINS


def test_image_features_match_local_decode(spark):
    from stac_geoparquet_spark.operators.multimodal import (
        extract_byte_histogram,
        media_table,
        mm_image_features,
    )

    got = {
        (r["doc_id"], r["bin"]): r["cnt"]
        for r in mm_image_features(spark, SF).collect()
    }
    local = {}
    for r in media_table(spark, SF).filter("media_type = 'image'").collect():
        for b, c in enumerate(extract_byte_histogram(r["payload"])):
            if c:
                local[(r["doc_id"], b)] = c
    assert got == local
    assert len(got) > 0


def test_frame_sample_steps(spark):
    from stac_geoparquet_spark.operators.multimodal import (
        FRAME_STEP,
        mm_frame_sample,
    )

    rows = mm_frame_sample(spark, SF).collect()
    assert len(rows) > 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    for doc_id, idxs in by_doc.items():
        assert sorted(idxs) == list(range(0, max(idxs) + 1, FRAME_STEP))


def test_decode_stub_gated():
    from stac_geoparquet_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stub not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


@pytest.mark.parametrize(
    "name", ["mm_media_manifest", "mm_frame_sample", "mm_image_features"]
)
def test_multimodal_oracles(spark, name):
    from stac_geoparquet_spark.operators import multimodal
    from tests.oracle_compare import compare

    ok, msg = compare(
        multimodal.QUERIES[name](spark, SF), multimodal.ORACLE[name], SF
    )
    assert ok, f"{name}: {msg}"


def test_audio_energy_trailing_short_window(spark):
    """The synthetic media payloads are always 16-byte-aligned, so the
    trailing-short-window branch never fires in the oracle gate; pin
    it here on an injected 20-byte payload against a hand computation
    AND DuckDB evaluating the oracle's window arithmetic on the same
    literal bytes."""
    import duckdb

    from stac_geoparquet_spark.operators.multimodal import (
        AUDIO_WINDOW,
        audio_energy_frame,
    )

    payload = bytes(range(40, 60))  # 20 bytes: one full window + 4 tail
    m = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id bigint, payload binary"
    )
    rows = {
        r["window_idx"]: r for r in audio_energy_frame(m).collect()
    }
    assert set(rows) == {0, 1}
    assert rows[0]["n_samples"] == AUDIO_WINDOW
    assert rows[1]["n_samples"] == 4
    expect = {
        0: sum((b - 128) ** 2 for b in payload[:16]),
        1: sum((b - 128) ** 2 for b in payload[16:]),
    }
    assert {w: r["energy"] for w, r in rows.items()} == expect

    hx = payload.hex()
    duck = dict(
        duckdb.connect().execute(
            f"""
            SELECT window_idx,
                   CAST(list_sum(list_transform(
                     generate_series(window_idx * {AUDIO_WINDOW},
                                     least(window_idx * {AUDIO_WINDOW} + {AUDIO_WINDOW} - 1,
                                           length('{hx}') // 2 - 1)),
                     i -> (('0x' || substr('{hx}', 2 * i + 1, 2))::BIGINT - 128)
                          * (('0x' || substr('{hx}', 2 * i + 1, 2))::BIGINT - 128)
                   )) AS BIGINT)
            FROM (SELECT unnest(generate_series(
                    0, CAST(ceil(length('{hx}') / 2.0 / {AUDIO_WINDOW}) AS BIGINT) - 1
                  )) AS window_idx)
            """
        ).fetchall()
    )
    assert duck == expect


# ---------------------------------------------------------------------------
# Pure-stdlib PNG codec (round-4: real decode for the no-PIL container)
# ---------------------------------------------------------------------------
def _rand_pixels(n: int, seed: int) -> bytes:
    # deterministic pseudo-random bytes without RNG state
    out = bytearray()
    x = seed
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        out.append(x & 0xFF)
    return bytes(out)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_roundtrip_all_filters(channels):
    """Encode with every row filter (None/Sub/Up/Average/Paeth) forced
    in turn, decode, and require byte-exact pixels — covers each
    unfilter branch against a genuine PNG byte stream."""
    from stac_geoparquet_spark.operators.png import decode_png, encode_png

    w, h = 7, 5
    pixels = _rand_pixels(w * h * channels, seed=channels)
    png_bytes = encode_png(w, h, channels, pixels, row_filters=[0, 1, 2, 3, 4])
    img = decode_png(png_bytes)
    assert (img.width, img.height, img.channels) == (w, h, channels)
    assert img.pixels == pixels


@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=10),
    channels=st.sampled_from([1, 2, 3, 4]),
    data=st.data(),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_property(w, h, channels, data):
    """decode(encode(x)) == x for random dimensions, channel counts
    (gray / gray+alpha / RGB / RGBA), pixel content, and a random
    per-row filter choice — the writer half of the codec gets the same
    rigor as the reader (r04 verdict task #5).  Degenerate 1×1 and
    1-wide images (no left neighbor for Sub/Average/Paeth) are in the
    strategy range on purpose."""
    from stac_geoparquet_spark.operators.png import decode_png, encode_png

    pixels = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255),
                min_size=w * h * channels,
                max_size=w * h * channels,
            )
        )
    )
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    img = decode_png(encode_png(w, h, channels, pixels, row_filters=filters))
    assert (img.width, img.height, img.channels) == (w, h, channels)
    assert img.pixels == pixels


def test_png_palette_expansion():
    """Hand-built palette (color type 3) PNG: indices expand through
    PLTE to RGB."""
    import struct
    import zlib

    from stac_geoparquet_spark.operators.png import decode_png

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    # 3x2 image of indices, each row filter None
    rows = b"\x00" + bytes([0, 1, 2]) + b"\x00" + bytes([2, 1, 0])
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette)
        + chunk(b"IDAT", zlib.compress(rows))
        + chunk(b"IEND", b"")
    )
    img = decode_png(payload)
    assert (img.width, img.height, img.channels) == (3, 2, 3)
    assert img.pixel(0, 0) == (255, 0, 0)
    assert img.pixel(1, 0) == (0, 255, 0)
    assert img.pixel(2, 0) == (0, 0, 255)
    assert img.pixel(0, 1) == (0, 0, 255)


def test_png_out_of_scope_shapes_rejected():
    import struct
    import zlib

    from stac_geoparquet_spark.operators.png import decode_png, encode_png

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    with pytest.raises(ValueError):
        decode_png(b"not a png at all")
    # interlaced
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(bad)
    # 16-bit depth
    bad16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00"))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(bad16)
    # truncated pixel data
    short = encode_png(2, 2, 1, bytes(4))[:-20]
    with pytest.raises(ValueError):
        decode_png(short)


def test_decode_image_falls_back_to_stdlib_png():
    """Without PIL, decode_image must REALLY decode PNG payloads (the
    round-3 gate closed) and still raise cleanly for other formats."""
    from stac_geoparquet_spark.operators.multimodal import decode_image
    from stac_geoparquet_spark.operators.png import encode_png

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; stdlib fallback not exercised")
    except ImportError:
        pass
    pixels = _rand_pixels(4 * 3 * 3, seed=9)
    img = decode_image(encode_png(4, 3, 3, pixels))
    assert (img.width, img.height, img.channels) == (4, 3, 3)
    assert img.pixels == pixels
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg")


def test_png_resize_nearest():
    from stac_geoparquet_spark.operators.png import (
        DecodedImage,
        resize_nearest,
    )

    # 2x2 gray checkerboard -> 4x4 block-doubled
    img = DecodedImage(2, 2, 1, bytes([0, 255, 255, 0]))
    up = resize_nearest(img, 4, 4)
    assert up.pixels == bytes(
        [0, 0, 255, 255, 0, 0, 255, 255, 255, 255, 0, 0, 255, 255, 0, 0]
    )
    down = resize_nearest(up, 2, 2)
    assert down.pixels == img.pixels
    with pytest.raises(ValueError):
        resize_nearest(img, 0, 2)


def test_png_decode_inside_spark_worker(spark):
    """The real decode runs where it will in production: inside a
    mapInPandas closure over a binary payload column, calling the
    package's decoder, which ships pickled by value."""
    import pandas as pd

    from stac_geoparquet_spark.operators.png import decode_png, encode_png

    rows = [
        (i, encode_png(2 + i, 3, 3, _rand_pixels((2 + i) * 3 * 3, seed=i)))
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")

    def decode(batches):
        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "channels": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = decode_png(bytes(payload))
                out["doc_id"].append(doc_id)
                out["width"].append(img.width)
                out["height"].append(img.height)
                out["channels"].append(img.channels)
            yield pd.DataFrame(out)

    got = {
        r["doc_id"]: (r["width"], r["height"], r["channels"])
        for r in df.repartition(2).mapInPandas(
            decode, "doc_id bigint, width int, height int, channels int"
        ).collect()
    }
    assert got == {i: (2 + i, 3, 3) for i in range(4)}


def test_png_corrupt_idat_raises_valueerror():
    """The documented contract is ValueError on malformed input — a
    corrupt deflate stream or a missing IDAT must not leak zlib.error
    through a decode stage guarding `except ValueError`."""
    import struct
    import zlib

    from stac_geoparquet_spark.operators.png import decode_png

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    head = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    )
    with pytest.raises(ValueError):
        decode_png(head + chunk(b"IDAT", b"not deflate") + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(head + chunk(b"IEND", b""))  # no IDAT at all
