"""Multimodal plumbing tests (EXT E5): payload schema, Arrow-batch decode,
resize stub, frame sampling, byte-budget repartitioning."""

from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators import multimodal as M


def docs_sample(tables):
    return tables["documents"].select("doc_id", "text", "n_chars").limit(50)


def test_attach_payload_schema(tables):
    df = M.attach_payload(docs_sample(tables))
    assert dict(df.dtypes)["payload"] == "binary"
    meta = [f for f in df.schema.fields if f.name == "media_meta"][0]
    names = [f.name for f in meta.dataType.fields]
    assert names == ["media_type", "width", "height", "duration_ms"]
    row = df.first()
    # payload = sha256 hex cast to binary: 64 ASCII bytes (the DuckDB
    # oracle for multimodal_features depends on exactly these bytes)
    assert row.media_meta.media_type == "image" and len(row.payload) == 64


def test_decode_features_deterministic(tables):
    df = M.attach_payload(docs_sample(tables))
    out = M.decode_features(df)
    assert "payload" not in out.columns  # payload dropped before any shuffle
    a = sorted(map(tuple, out.select("doc_id", "n_bytes", "checksum").collect()))
    b = sorted(map(tuple, M.decode_features(df).select("doc_id", "n_bytes", "checksum").collect()))
    assert a == b
    assert all(r[1] == 64 for r in a)


def test_frame_sample_counts(tables):
    df = M.attach_payload(
        docs_sample(tables), media_type="video", duration_expr=F.col("n_chars") * 40
    )
    frames = M.frame_sample_plan(df, every_ms=1000)
    got = (
        frames.groupBy("doc_id")
        .count()
        .join(df.select("doc_id", F.col("media_meta.duration_ms").alias("d")), "doc_id")
        .collect()
    )
    for r in got:
        assert r["count"] == r.d // 1000 + 1
    ts = frames.filter(F.col("frame_idx") == 2).select("frame_ts_ms").first()
    assert ts.frame_ts_ms == 2000


def test_repartition_for_payloads_scales_with_bytes(tables):
    df = M.attach_payload(docs_sample(tables))
    out = M.repartition_for_payloads(df, est_row_bytes=64 << 20, target_partition_bytes=128 << 20)
    # 50 rows × 64 MB ≈ 3.2 GB → 25 partitions of ~2 rows, never one fat task
    assert out.rdd.getNumPartitions() == 25


def test_wav_round_trip(spark):
    from clickhouse_flatfile_tool_spark.operators.multimodal import (
        decode_wav_meta,
        synthesize_wav_payloads,
    )

    df = spark.createDataFrame(
        [(0, 8000), (1, 441), (2, 100), (5, 0)], "doc_id long, n_chars long"
    )
    out = {r.doc_id: r for r in decode_wav_meta(
        synthesize_wav_payloads(df), keep=["doc_id"]
    ).collect()}
    assert out[0].sample_rate == 8000 and out[0].channels == 1
    assert out[1].sample_rate == 16000 and out[1].channels == 2
    assert out[2].sample_rate == 44100 and out[2].channels == 1
    assert out[1].n_samples == 441 and out[1].duration_ms == 441 * 1000 // 16000
    assert out[5].n_samples == 0 and out[5].duration_ms == 0
    assert all(r.bits_per_sample == 16 for r in out.values())


def test_wav_decoder_rejects_garbage(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    from clickhouse_flatfile_tool_spark.operators.multimodal import decode_wav_meta

    bad = spark.createDataFrame(
        [(1, bytearray(b"not a wav file at all, definitely"))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception) as ei:
        decode_wav_meta(bad, keep=["doc_id"]).collect()
    assert "RIFF" in str(ei.value) or "canonical" in str(ei.value)


def test_png_roundtrip_and_crc_rejection(spark):
    import struct
    import zlib

    from clickhouse_flatfile_tool_spark.operators import multimodal as M

    df = spark.createDataFrame([(0, 100), (1, 700), (2, 5)], "doc_id long, n_chars long")
    png = M.synthesize_png_payloads(df)
    meta = {r.doc_id: r for r in M.decode_png_meta(png, keep=["doc_id"]).collect()}
    assert meta[0].width == 101 and meta[0].color_type == 0 and meta[0].channels == 1
    assert meta[1].width == 61 and meta[1].color_type == 2 and meta[1].channels == 3
    assert meta[2].width == 6 and meta[2].height == 3 and meta[2].channels == 4
    assert all(m.n_pixels == m.width * m.height for m in meta.values())
    # the synthesized bytes are a real PNG container: signature + valid CRC
    raw = bytes(png.filter("doc_id = 0").first().payload)
    assert raw[:8] == b"\x89PNG\r\n\x1a\n"
    assert zlib.crc32(raw[12:29]) == struct.unpack(">I", raw[29:33])[0]
    # corrupting one IHDR byte must fail the CRC check, not yield garbage
    bad = raw[:16] + bytes([raw[16] ^ 0xFF]) + raw[17:]
    bad_df = spark.createDataFrame([(0, bytearray(bad))], "doc_id long, payload binary")
    import pytest as _pytest

    with _pytest.raises(Exception, match="CRC|PythonException"):
        M.decode_png_meta(bad_df, keep=["doc_id"]).collect()


def test_jpeg_roundtrip_and_marker_walk(spark):
    import struct

    from clickhouse_flatfile_tool_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [(0, 100), (1, 700), (5, 42)], "doc_id long, n_chars long"
    )
    jpg = M.synthesize_jpeg_payloads(df)
    meta = {r.doc_id: r for r in M.decode_jpeg_meta(jpg, keep=["doc_id"]).collect()}
    # width = n_chars % 640 + 1, height = doc_id % 480 + 1
    assert meta[0].width == 101 and meta[0].height == 1
    assert meta[1].width == 61 and meta[1].height == 2
    # even ids are 3-component, odd ids 1-component; every 5th progressive
    assert meta[0].n_components == 3 and meta[0].progressive
    assert meta[1].n_components == 1 and not meta[1].progressive
    assert meta[5].n_components == 1 and meta[5].progressive
    assert all(m.n_pixels == m.width * m.height for m in meta.values())
    # the synthesized bytes are a real marker stream: SOI first, EOI last,
    # and the decoder found the SOF by WALKING segments (an extra COM
    # segment sits between APP0 and SOF)
    raw = bytes(jpg.filter("doc_id = 0").first().payload)
    assert raw[:2] == b"\xff\xd8" and raw[-2:] == b"\xff\xd9"
    assert b"\xff\xfe" in raw  # COM segment present


def test_jpeg_decoder_rejects_corrupt_streams(spark):
    import pytest as _pytest

    from clickhouse_flatfile_tool_spark.operators import multimodal as M

    cases = [
        (b"GIF89a not a jpeg", "SOI"),             # bad SOI
        (b"\xff\xd8\xff\xe0\x00\x99", "truncated"),  # truncated segment
        (b"\xff\xd8\xff\xd9", "SOF"),              # no SOF at all
    ]
    # The typed-rejection contract is checked WITHOUT the Spark boundary:
    # a Python worker dying under memory pressure surfaces as a
    # Py4JJavaError whose string carries only a Java stacktrace, so a
    # message-match through collect() can flake (VERDICT r11 #1).
    for payload, msg in cases:
        with _pytest.raises(ValueError, match=msg):
            M.parse_jpeg_meta_record(payload)
    # Spark-level: the error must propagate out of the job — any raised
    # exception (PythonException or a worker-crash wrapper) is a rejection.
    bad = spark.createDataFrame(
        [(1, bytearray(cases[0][0]))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception):
        M.decode_jpeg_meta(bad, keep=["doc_id"]).collect()


def test_bmp_roundtrip_and_corrupt_rows(spark):
    """BMP synth->decode round trip; corrupt/truncated/wrong-magic bytes
    yield NULL metadata, not exceptions."""
    from clickhouse_flatfile_tool_spark.operators.multimodal import (
        decode_bmp_meta,
        synthesize_bmp_payloads,
    )

    docs = spark.createDataFrame(
        [(i, 100 + i * 7) for i in range(10)], "doc_id long, n_chars int"
    )
    out = decode_bmp_meta(synthesize_bmp_payloads(docs), keep=["doc_id"])
    rows = {r.doc_id: r for r in out.collect()}
    depths = [1, 4, 8, 24, 32]
    for i in range(10):
        r = rows[i]
        assert r.width == (100 + i * 7) % 640 + 1
        assert r.height == i % 480 + 1
        assert r.bits_per_pixel == depths[i % 5]
    bad = spark.createDataFrame(
        [(1, b"NOPE" + b"\x00" * 60), (2, b"BM"), (3, None)],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in decode_bmp_meta(bad, keep=["doc_id"]).collect()}
    assert all(got[i].width is None for i in (1, 2, 3))


def test_dhash64_bit_order_golden(spark):
    """dHash bit packing must be exactly sum(bit(r,c) << (r*8+c)) over
    p(r,c) < p(r,c+1) — verified against a pure-Python recompute."""
    from clickhouse_flatfile_tool_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    got = {
        r.doc_id: r.dhash
        for r in MM.dhash64(MM.synthesize_tile_payloads(docs)).collect()
    }

    def py_hash(doc_id, n_groups=50):
        base = doc_id % n_groups
        px = [
            [(base * 7 + r * 13 + c * 29) % 256 for c in range(9)]
            for r in range(8)
        ]
        pos = doc_id % 72
        px[pos // 9][pos % 9] = (px[pos // 9][pos % 9] + doc_id % 5) % 256
        h = 0
        for r in range(8):
            for c in range(8):
                if px[r][c] < px[r][c + 1]:
                    h |= 1 << (r * 8 + c)
        return h - (1 << 64) if h >= 1 << 63 else h  # signed int64

    for i in range(40):
        assert got[i] == py_hash(i), i


def test_image_neardup_band_join_exact(spark):
    """The 4×16-bit band join must find EVERY pair with Hamming ≤ 3
    (pigeonhole) — compared against the brute-force all-pairs set."""
    from clickhouse_flatfile_tool_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    hashed = MM.dhash64(MM.synthesize_tile_payloads(docs))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in MM.image_neardup_pairs(hashed).collect()
    }
    hs = {r.doc_id: r.dhash for r in hashed.collect()}
    brute = {
        (a, b, bin((hs[a] ^ hs[b]) & (1 << 64) - 1).count("1"))
        for a in hs
        for b in hs
        if a < b and bin((hs[a] ^ hs[b]) & (1 << 64) - 1).count("1") <= 3
    }
    assert got == brute and len(brute) > 0


def test_image_neardup_rejects_lossy_threshold(spark):
    import pytest

    from clickhouse_flatfile_tool_spark.operators import multimodal as MM

    docs = spark.createDataFrame([(1, 1)], "doc_id long, dhash long")
    with pytest.raises(ValueError, match="exact"):
        MM.image_neardup_pairs(docs, max_hamming=4, bands=4)
