"""Multimodal column plumbing (EXT E5, SURVEY §2.10): opaque binary payloads
(image/audio/video) with typed metadata, processed by Arrow-batched pandas
UDFs over ``mapInPandas``.

Pixel and sample decoding is STUBBED — image/audio libraries are not in
this environment (swap ``_decode_stub`` for PIL/ffmpeg in
``decode_features``) — but the WAV, PNG, JPEG and BMP headers are built
and parsed for real, with no external library.

Design: binary payloads ride a ``binary`` column; metadata is a struct
(media_type, width, height, …).  ``mapInPandas`` receives an iterator of
Arrow record batches, so one task never materializes its whole partition —
the only layout that survives multi-MB payloads at scale.  Repartition by
byte budget, not row count, before heavy decode (``repartition_for_payloads``).
Every per-row synthesizer runs through ``_with_payload`` and every decoder
through ``_decode_meta``, whose output columns and types are a ``*_META``
struct; the tile synthesizer and ``dhash64`` are vectorized numpy instead.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), False),  # image/audio/video
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)


def attach_payload(
    df: DataFrame,
    payload_col: str = "payload",
    media_type: str = "image",
    duration_expr=None,
) -> DataFrame:
    """Fixture path: synthesize a deterministic fake binary payload + typed
    metadata from existing columns (the container has no real media files).
    The payload bytes are a hash-derived pseudo-image so sizes vary.
    ``duration_expr`` (Column, ms) populates duration for video payloads —
    deriving it from a data column keeps downstream frame plans
    oracle-checkable."""
    fake = F.sha2(F.concat_ws("|", *df.columns), 256).cast("binary")
    duration = (
        duration_expr.cast("int") if duration_expr is not None else F.lit(None).cast("int")
    )
    return df.withColumn(payload_col, fake).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            (F.abs(F.xxhash64(*df.columns)) % 1920 + 32).cast("int").alias("width"),
            (F.abs(F.xxhash64(*df.columns, F.lit(1))) % 1080 + 32).cast("int").alias("height"),
            duration.alias("duration_ms"),
        ),
    )


def _decode_stub(payload: bytes) -> dict:
    """Deterministic fake 'decode': real deployments replace this with
    PIL.Image.open / torchaudio.load.  Raising NotImplementedError here
    would poison the smoke tests, so we emit a stable digest instead."""
    return {"n_bytes": len(payload), "checksum": int.from_bytes(payload[:4], "big")}


def _with_payload(
    df: DataFrame, payload_col: str, make: Callable[[pd.Series], bytes]
) -> DataFrame:
    """``df`` plus a binary ``payload_col`` built by ``make(row)`` for each
    row — the one Arrow-batch loop of the per-row payload synthesizers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf.copy()
            out[payload_col] = pdf.apply(make, axis=1)
            yield out

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(payload_col, T.BinaryType(), False)]
    )
    return df.mapInPandas(run, schema)


def _decode_meta(
    df: DataFrame,
    payload_col: str,
    keep: list[str] | None,
    meta: T.StructType,
    parse: Callable[[bytes], tuple],
) -> DataFrame:
    """The ``keep`` columns of ``df`` (``None``: all but the payload) plus
    one column per field of ``meta``, filled from ``parse(payload)``'s
    tuple — the one Arrow-batch loop of the payload decoders.  Arrow casts
    each value to its field's declared type; ``None`` becomes NULL.  The
    payload never survives the operator, so downstream shuffles carry only
    the metadata."""
    if keep is None:
        keep = [f.name for f in df.schema.fields if f.name != payload_col]
    out_schema = T.StructType(
        [f for f in df.schema.fields if f.name in keep] + list(meta.fields)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            parsed = [parse(b) for b in pdf[payload_col]]
            out = pdf[keep].copy()
            for i, name in enumerate(meta.names):
                out[name] = [t[i] for t in parsed]
            yield out

    return df.mapInPandas(run, out_schema)


_FEATURES_META = T.StructType(
    [
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("checksum", T.LongType(), False),
    ]
)


def decode_features(
    df: DataFrame,
    payload_col: str = "payload",
    decode: Callable[[bytes], dict] | None = None,
) -> DataFrame:
    """Extract per-payload features via mapInPandas (Arrow batches).

    Output schema: input columns minus the payload, plus (n_bytes, checksum).
    The payload column is dropped on output so the shuffle after feature
    extraction never carries raw media bytes.
    """
    decode = decode or _decode_stub

    def parse(b: bytes) -> tuple:
        feats = decode(bytes(b))
        return feats["n_bytes"], feats["checksum"]

    return _decode_meta(df, payload_col, None, _FEATURES_META, parse)


def synthesize_wav_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples_col: str = "n_chars",
    payload_col: str = "payload",
) -> DataFrame:
    """Build REAL audio payloads: a valid RIFF/WAVE file per row (44-byte
    canonical header + silent 16-bit PCM), with sample rate and channel
    count derived deterministically from ``id_col`` and sample count from
    ``n_samples_col``.  Unlike the image stubs (no imaging libs in this
    container), WAV needs only ``struct`` — so the decode path downstream is
    a genuine byte-format parser, not a stand-in, and the whole
    synthesize→parse round-trip is oracle-checkable (the oracle recomputes
    the expected metadata straight from the table columns)."""
    rates = [8000, 16000, 44100]

    def make(row):
        rid = int(row[id_col])
        rate = rates[rid % 3]
        channels = 1 + (rid % 2)
        n = int(row[n_samples_col])
        data_len = n * channels * 2  # 16-bit PCM
        byte_rate = rate * channels * 2
        hdr = (
            b"RIFF"
            + struct.pack("<I", 36 + data_len)
            + b"WAVEfmt "
            + struct.pack("<IHHIIHH", 16, 1, channels, rate, byte_rate, channels * 2, 16)
            + b"data"
            + struct.pack("<I", data_len)
        )
        return hdr + b"\x00" * data_len

    return _with_payload(df, payload_col, make)


WAV_META = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("bits_per_sample", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
    ]
)


def decode_wav_meta(
    df: DataFrame, payload_col: str = "payload", keep: list[str] | None = None
) -> DataFrame:
    """REAL binary decode (no stub): parse the RIFF/WAVE header of each
    payload — magic validation, fmt chunk fields, data-chunk length →
    (sample_rate, channels, bits_per_sample, n_samples, duration_ms).
    Arrow-batched ``mapInPandas``; the payload never survives the operator,
    so downstream shuffles carry only the 5-field metadata struct."""

    def parse(b: bytes) -> tuple:
        if b[:4] != b"RIFF" or b[8:12] != b"WAVE" or b[12:16] != b"fmt ":
            raise ValueError("not a canonical RIFF/WAVE payload")
        _, _, channels, rate, _, block_align, bits = struct.unpack("<IHHIIHH", b[16:36])
        data_len = struct.unpack("<I", b[40:44])[0]
        n = data_len // block_align if block_align else 0
        return rate, channels, bits, n, n * 1000 // rate

    return _decode_meta(df, payload_col, keep or None, WAV_META, parse)


def repartition_for_payloads(
    df: DataFrame, est_row_bytes: int, target_partition_bytes: int = 128 << 20
) -> DataFrame:
    """Size partitions by estimated payload bytes, not row count — a decode
    task over 4 MB images must hold ~32 rows per 128 MB partition, not the
    default thousands."""
    total = df.count() * est_row_bytes
    parts = max(1, total // target_partition_bytes)
    return df.repartition(int(parts))


def frame_sample_plan(
    df: DataFrame, every_ms: int = 1000, payload_col: str = "payload"
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame
    timestamp (decode stubbed).  Demonstrates the explode-then-decode shape:
    sampling multiplies rows BEFORE the heavy decode, so Spark can
    redistribute frames across tasks."""
    n_frames = (F.coalesce(F.col("media_meta.duration_ms"), F.lit(0)) / every_ms).cast("int")
    return (
        df.withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.greatest(n_frames, F.lit(0)))))
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


PNG_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("bit_depth", T.IntegerType(), False),
        T.StructField("color_type", T.IntegerType(), False),
        T.StructField("channels", T.IntegerType(), False),
        T.StructField("n_pixels", T.LongType(), False),
    ]
)

# PNG color type → sample channels (spec §11.2.2): 0 gray, 2 RGB, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}


def synthesize_png_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    payload_col: str = "payload",
) -> DataFrame:
    """Build REAL image payloads: a structurally valid PNG per row —
    8-byte signature, IHDR chunk with a CORRECT CRC-32 (zlib.crc32 over
    type+data, per the spec), and a closing IEND chunk.  Width derives
    from ``size_col``, height/color type deterministically from ``id_col``,
    so the decode round-trip is oracle-checkable from the table columns
    alone (same scheme as the WAV path, multimodal.py::synthesize_wav_
    payloads).  Pixel data is omitted — header-level metadata extraction
    is exactly what a 100 TB curation pass reads, and it keeps the
    synthesized corpus bytes-small; pixel decoding stays honestly gated on
    imaging libs absent from this container."""
    color_types = [0, 2, 6]

    def make(row):
        rid = int(row[id_col])
        width = int(row[size_col]) % 640 + 1
        height = rid % 480 + 1
        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_types[rid % 3], 0, 0, 0)
        chunk = b"IHDR" + ihdr
        iend = b"IEND"
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13) + chunk + struct.pack(">I", zlib.crc32(chunk))
            + struct.pack(">I", 0) + iend + struct.pack(">I", zlib.crc32(iend))
        )

    return _with_payload(df, payload_col, make)


def decode_png_meta(
    df: DataFrame, payload_col: str = "payload", keep: list[str] | None = None
) -> DataFrame:
    """REAL binary decode (no stub): validate the PNG signature, parse the
    IHDR chunk, and VERIFY its CRC-32 — corrupt headers raise instead of
    yielding garbage metadata.  Emits (width, height, bit_depth,
    color_type, channels, n_pixels); the payload never survives the
    operator, so downstream shuffles carry only the metadata struct."""

    def parse(b: bytes) -> tuple:
        if b[:8] != b"\x89PNG\r\n\x1a\n":
            raise ValueError("not a PNG: bad signature")
        (length,) = struct.unpack(">I", b[8:12])
        if length != 13 or b[12:16] != b"IHDR":
            raise ValueError("first chunk is not a 13-byte IHDR")
        (crc,) = struct.unpack(">I", b[29:33])
        if zlib.crc32(b[12:29]) != crc:
            raise ValueError("IHDR CRC mismatch")
        width, height, depth, color = struct.unpack(">IIBB", b[16:26])
        if color not in _PNG_CHANNELS:
            raise ValueError(f"unsupported color type {color}")
        return width, height, depth, color, _PNG_CHANNELS[color], width * height

    return _decode_meta(df, payload_col, keep or None, PNG_META, parse)


JPEG_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("precision", T.IntegerType(), False),
        T.StructField("n_components", T.IntegerType(), False),
        T.StructField("progressive", T.BooleanType(), False),
        T.StructField("n_pixels", T.LongType(), False),
    ]
)


def synthesize_jpeg_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    payload_col: str = "payload",
) -> DataFrame:
    """Build REAL image payloads #3: a structurally valid JPEG header
    stream per row — SOI, an APP0/JFIF segment, a COM segment carrying the
    row id, an SOF0 (baseline) or SOF2 (progressive, every 5th row) frame
    header with real per-component entries, and EOI.  Width derives from
    ``size_col``, height/components/progressive deterministically from
    ``id_col`` — the same oracle-from-table-columns scheme as the PNG and
    WAV paths.  Entropy-coded scan data is omitted: marker-level metadata
    (dimensions, component count, baseline-vs-progressive) is what a
    100 TB curation pass reads without decoding pixels."""

    def make(row):
        rid = int(row[id_col])
        width = int(row[size_col]) % 640 + 1
        height = rid % 480 + 1
        ncomp = 1 if rid % 2 else 3
        sof_marker = b"\xff\xc2" if rid % 5 == 0 else b"\xff\xc0"
        app0 = b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 72, 72, 0, 0)
        comment = f"doc {rid}".encode()
        comps = b"".join(
            struct.pack(">BBB", c + 1, 0x11 if c else 0x22, 0 if c == 0 else 1)
            for c in range(ncomp)
        )
        sof = struct.pack(">BHHB", 8, height, width, ncomp) + comps
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
            + b"\xff\xfe" + struct.pack(">H", 2 + len(comment)) + comment
            + sof_marker + struct.pack(">H", 2 + len(sof)) + sof
            + b"\xff\xd9"
        )

    return _with_payload(df, payload_col, make)


def parse_jpeg_meta_record(b: bytes) -> tuple:
    """Walk one JPEG marker stream: validate SOI, skip variable-length
    segments by their declared lengths, find the SOF frame header (any of
    SOF0/1/2/3) and return ``(width, height, precision, n_components,
    progressive, n_pixels)``.  Corrupt streams (bad SOI, truncated segment,
    missing SOF, zero dimensions) raise ``ValueError`` deterministically —
    module-level so the rejection contract is unit-testable without the
    Spark boundary (a worker-crash wrapper must never be the only evidence)."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: bad SOI")
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError(f"marker expected at offset {i}")
        marker = b[i + 1]
        if marker == 0xD9:  # EOI before any SOF
            break
        (seglen,) = struct.unpack(">H", b[i + 2 : i + 4])
        if seglen < 2 or i + 2 + seglen > len(b):
            raise ValueError("truncated segment")
        if marker in (0xC0, 0xC1, 0xC2, 0xC3):
            precision, height, width, ncomp = struct.unpack(
                ">BHHB", b[i + 4 : i + 10]
            )
            if not width or not height or not ncomp:
                raise ValueError("degenerate SOF dimensions")
            if seglen != 8 + 3 * ncomp:
                raise ValueError("SOF length inconsistent with components")
            return (
                width,
                height,
                precision,
                ncomp,
                marker == 0xC2,
                width * height,
            )
        i += 2 + seglen
    raise ValueError("no SOF frame header found")


def decode_jpeg_meta(
    df: DataFrame, payload_col: str = "payload", keep: list[str] | None = None
) -> DataFrame:
    """REAL binary decode #3 (no stub): parse each payload with
    ``parse_jpeg_meta_record`` (SOI → segment walk → SOF0/1/2/3; SOF2 flags
    ``progressive``).  Corrupt streams raise instead of yielding garbage.
    The payload never survives the operator — downstream shuffles carry
    only the metadata struct."""
    return _decode_meta(df, payload_col, keep or None, JPEG_META, parse_jpeg_meta_record)


_BMP_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("bits_per_pixel", T.IntegerType(), True),
    ]
)


def synthesize_bmp_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    payload_col: str = "payload",
) -> DataFrame:
    """Build REAL image payloads #4: a structurally valid headers-only BMP
    per row — 14-byte BITMAPFILEHEADER ('BM' magic, little-endian file
    size, pixel-data offset 54) + 40-byte BITMAPINFOHEADER (BI_RGB,
    planes=1).  Width from ``size_col``, height/bit depth from ``id_col``
    so the decode round-trip is oracle-checkable from table columns alone
    (the WAV/PNG/JPEG scheme).  BMP is the little-endian counterpart to
    PNG's big-endian layout — the decoder pair proves both byte orders."""
    depths = [1, 4, 8, 24, 32]

    def make(row):
        rid = int(row[id_col])
        width = int(row[size_col]) % 640 + 1
        height = rid % 480 + 1
        bpp = depths[rid % 5]
        info = struct.pack(
            "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, 0, 2835, 2835, 0, 0
        )
        header = b"BM" + struct.pack("<IHHI", 14 + 40, 0, 0, 54)
        return header + info

    return _with_payload(df, payload_col, make)


def decode_bmp_meta(
    df: DataFrame,
    payload_col: str = "payload",
    keep: list[str] | None = None,
) -> DataFrame:
    """Hand-written BMP header parser (no imaging libs in the container —
    the WAV/PNG/JPEG decoder pattern): validates the 'BM' magic, the
    BITMAPINFOHEADER size (40), planes=1 and the declared pixel-data
    offset, then extracts little-endian width/height/bit depth.  Rows
    failing structural validation yield NULL metadata instead of
    erroring — corrupt binaries are data, not exceptions, in a 100 TB
    scan.  Arrow-batched mapInPandas; map-only."""

    def parse(b):
        try:
            if b is None or len(b) < 54 or b[:2] != b"BM":
                return (None, None, None)
            _size, _r1, _r2, offset = struct.unpack("<IHHI", b[2:14])
            (
                bisize, width, height, planes, bpp, comp, *_rest
            ) = struct.unpack("<IiiHHIIiiII", b[14:54])
            if bisize != 40 or planes != 1 or offset < 54:
                return (None, None, None)
            return (width, abs(height), bpp)
        except Exception:  # noqa: BLE001 — corrupt binary = NULL row
            return (None, None, None)

    return _decode_meta(df, payload_col, keep or [], _BMP_META, parse)


def synthesize_tile_payloads(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_groups: int = 50,
) -> DataFrame:
    """Build 9×8 grayscale tiles with PLANTED near-duplicate structure —
    the image-dedup fixture (no image libs in the container, so pixels
    are synthesized; the dHash/banding pipeline downstream is the real
    operator).  Rows sharing ``id % n_groups`` get the same base image
    ``p(r, c) = (base·7 + r·13 + c·29) mod 256`` with a single per-row
    pixel perturbation (position ``id % 72``, magnitude ``id % 5``) —
    within a group dHashes differ by ≤2 bits (one pixel touches two
    horizontal comparisons), across groups they differ like random
    64-bit words.  Integer-only arithmetic so a SQL oracle recomputes
    the exact hash from the id column alone."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = np.arange(8).reshape(-1, 1)  # 8 rows
        c = np.arange(9).reshape(1, -1)  # 9 cols -> 8 comparisons
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            base = ids % n_groups
            tiles = (base[:, None, None] * 7 + r * 13 + c * 29) % 256
            flat = tiles.reshape(len(ids), 72).astype(np.int64)
            pos = ids % 72
            flat[np.arange(len(ids)), pos] = (
                flat[np.arange(len(ids)), pos] + ids % 5
            ) % 256
            out = pdf.copy()
            out[payload_col] = [row.astype(np.uint8).tobytes() for row in flat]
            yield out

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(payload_col, T.BinaryType(), False)]
    )
    return df.mapInPandas(run, schema)


def dhash64(
    df: DataFrame,
    payload_col: str = "payload",
    out_col: str = "dhash",
) -> DataFrame:
    """Difference-hash over a 9×8 grayscale tile: bit(r, c) = 1 iff
    p(r, c) < p(r, c+1), packed as ``Σ bit(r,c) · 2^(r·8+c)`` into a
    SIGNED int64 (two's complement — bit 63 makes the value negative;
    band extraction masks after the shift so signedness never leaks).
    Vectorized numpy over Arrow batches — the per-image cost is 64 byte
    compares, so the pipeline is scan-bound, exactly what you want when
    hashing billions of thumbnails."""
    import numpy as np

    fields = list(df.schema.fields) + [T.StructField(out_col, T.LongType(), False)]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        weights = (1 << np.arange(64, dtype=np.uint64)).reshape(1, 64)
        for pdf in batches:
            tiles = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf[payload_col]]
            ).reshape(-1, 8, 9)
            bits = (tiles[:, :, :-1] < tiles[:, :, 1:]).reshape(-1, 64)
            h = (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)
            out = pdf.copy()
            out[out_col] = h.astype(np.int64)
            yield out

    return df.mapInPandas(run, T.StructType(fields))


def image_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join: split the 64-bit
    dHash into ``bands`` 16-bit keys, self-join per (band, value) —
    LINEAR candidate generation like the MinHash/SimHash paths (never the
    O(n²) all-pairs) — then verify ``bit_count(a XOR b) ≤ max_hamming``.
    Pigeonhole EXACTNESS: ≤3 differing bits cannot touch all 4 bands, so
    some band matches and every qualifying pair is found — the band join
    is a lossless rewrite for max_hamming < bands, not an approximation
    (the guarantee the oracle differential checks)."""
    if max_hamming >= bands:
        raise ValueError(
            "band join is only exact for max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    banded = df.select(
        F.col(id_col), F.col(hash_col)
    ).select(
        id_col,
        hash_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.shiftright(F.col(hash_col), b * width)
                            .bitwiseAND(F.lit(mask))
                        ).alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, hash_col, "bk.band", "bk.val")
    left = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(hash_col).alias("h_a"),
        "band",
        "val",
    )
    right = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(hash_col).alias("h_b"),
        "band",
        "val",
    )
    pairs = (
        left.join(right, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
