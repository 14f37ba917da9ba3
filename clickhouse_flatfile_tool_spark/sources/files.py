"""File sources: CSV/TXT (the reference's "flat file" side) and Parquet
(our native columnar storage, the MergeTree analog).

Reference equivalents:
  * streaming CSV parse with header-as-columns + skip-empty-lines —
    /root/reference/server/server.js:478-480, 681-683 (csv-parse pipeline).
    Spark's CSV scan is already streaming/iterator-based per partition and
    distributed across executors; empty lines are dropped by default.
  * header sniff / headerless probe / UK preset — server.js:262-347 —
    handled by :mod:`clickhouse_flatfile_tool_spark.schema`.

Scale notes: a CSV scan parallelizes by file split; schema is resolved from
the first line only (one tiny read, never a full pass — the reference's
second full-file count scan, server.js:500-507, has no analog here).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.schema import ResolvedSchema, resolve_csv_schema


def _first_line(path: str, spark: SparkSession | None = None) -> str:
    """Read just the first line (header sniff, server.js:284-298 reads only
    the first chunk up to ``\\n``).  Local single files use a plain
    ``open`` (one tiny read); directories, globs, and remote URIs fall
    back to a ``spark.read.text(...).limit(1)`` — a pushed-down 1-row
    scan — since Spark's CSV reader accepts all of those while ``open``
    does not.  Caveat: a header whose QUOTED field embeds a newline is
    truncated at the first ``\\n`` by either path — pass an explicit
    schema for such files."""
    if os.path.isfile(path):
        with open(path, "r", encoding="utf-8", errors="replace") as fh:
            return fh.readline()
    if spark is None:
        raise ValueError(
            f"_first_line: {path!r} is not a local file and no SparkSession "
            "was provided for the distributed fallback"
        )
    row = spark.read.text(path).limit(1).collect()
    return row[0][0] if row else ""


def read_csv(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    has_header: bool | None = None,
    infer_types: bool = False,
    sep: str | None = None,
    quote: str = '"',
    escape: str = '"',
    null_value: str | None = None,
    multiline: bool = False,
) -> tuple[DataFrame, ResolvedSchema]:
    """Read a CSV/TXT/TSV flat file with reference-compatible schema
    resolution.

    Returns (DataFrame, ResolvedSchema).  All columns are String unless
    ``infer_types`` — matching the reference, which types every CSV column
    String (server.js:274, 312-314) and casts on the ClickHouse side.
    ``columns`` projects a subset post-read (server.js:492-496 does this
    per-row in JS; here it is Catalyst column pruning, which reaches the
    scan).  ``sep`` defaults by extension: tab for ``.tsv`` (ClickHouse
    TabSeparated format), comma otherwise.

    Quoting follows the reference's csv-parse defaults (RFC 4180: fields
    quoted with ``"``, embedded quotes doubled — escape defaults to the
    quote char).  ``multiline=True`` allows quoted fields to span newlines;
    it is OFF by default because multiline parsing forces whole-file splits
    (one task per file) instead of per-split parallel scans — at 100 TB,
    pre-normalize such files or accept the parallelism loss explicitly.
    """
    ext = os.path.splitext(path)[1].lower()
    # extension check mirrors server.js:259-261 (+ .tsv extension); it only
    # applies to single local files — directories, globs, and remote URIs
    # name a collection, not a file, and pass through to Spark's reader
    is_single_file = os.path.isfile(path)
    if is_single_file and ext not in (".csv", ".txt", ".tsv"):
        raise ValueError(f"unsupported flat-file extension: {ext} (want .csv/.txt/.tsv)")
    if sep is None:
        sep = "\t" if ext == ".tsv" else ","

    resolved = resolve_csv_schema(
        os.path.basename(path),
        first_line=_first_line(path, spark),
        has_header=has_header,
        sep=sep,
    )
    reader = (
        spark.read.option("mode", "PERMISSIVE")
        .option("sep", sep)
        .option("header", str(resolved.has_header).lower())
        .option("quote", quote)
        .option("escape", escape)
        .option("multiLine", str(multiline).lower())
    )
    if null_value is not None:
        reader = reader.option("nullValue", null_value)
    if infer_types:
        df = reader.option("inferSchema", "true").csv(path)
        if not resolved.has_header:
            df = df.toDF(*[f.name for f in resolved.schema.fields])
    else:
        df = reader.schema(resolved.schema).csv(path)
    if columns:
        df = df.select(*columns)
    return df, resolved


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar native-table scan (the MergeTree-storage analog,
    server.js:158, 588).  Vectorized reader + predicate pushdown + column
    pruning all apply automatically.

    Nanosecond-timestamp columns (TIMESTAMP(NANOS) — Spark's parquet reader
    rejects them outright) are read as long via
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted to TimestampType
    with truncation to microseconds — the same truncation DuckDB applies, so
    oracle comparisons agree.  Detection is footer reads via pyarrow on
    the driver, never a data scan.

    NOTE: ``nanosAsLong`` is a SESSION-wide conf and is deliberately NOT
    restored after the read — Spark resolves it lazily at plan/execution
    time, so scoping it set/restore around this call would break the
    returned (lazy) DataFrame.  Consequence: after reading one nanos
    file, a plain ``spark.read.parquet`` elsewhere in the session reads
    TIMESTAMP(NANOS) columns as LongType instead of erroring — always go
    through this function (or ``read_parquet_evolved``), which converts.
    """
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return _ntz_to_ltz(spark.read.parquet(path))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_ltz(df)


def _rewrite_ntz_type(dt):
    """Recursively replace TimestampNTZType with TimestampType inside any
    nested struct/array/map.  Returns (new_type, changed)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.TimestampNTZType):
        return T.TimestampType(), True
    if isinstance(dt, T.StructType):
        changed = False
        fields = []
        for f in dt.fields:
            new_t, ch = _rewrite_ntz_type(f.dataType)
            changed = changed or ch
            fields.append(T.StructField(f.name, new_t, f.nullable, f.metadata))
        return T.StructType(fields), changed
    if isinstance(dt, T.ArrayType):
        new_t, ch = _rewrite_ntz_type(dt.elementType)
        return T.ArrayType(new_t, dt.containsNull), ch
    if isinstance(dt, T.MapType):
        new_k, ck = _rewrite_ntz_type(dt.keyType)
        new_v, cv = _rewrite_ntz_type(dt.valueType)
        return T.MapType(new_k, new_v, dt.valueContainsNull), ck or cv
    return dt, False


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns (parquet `isAdjustedToUTC=false`, the
    layout pandas/pyarrow emit by default) to session-local TimestampType —
    including NTZ timestamps nested inside structs/arrays/maps.
    The session timezone is pinned to UTC (session.py), so the wall-clock
    values are bit-identical to what DuckDB reads — oracles agree — while
    downstream operators (watermarks, `window()`, streaming state) get the
    one timestamp flavor every Spark API accepts."""
    for f in df.schema.fields:
        new_t, changed = _rewrite_ntz_type(f.dataType)
        if changed:
            df = df.withColumn(f.name, F.col(f.name).cast(new_t))
    return df


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns physically stored as INT64 TIMESTAMP(NANOS) — the layout
    Spark's vectorized reader rejects.  Checked at the parquet physical level
    because INT96 timestamps (Spark's own legacy default output) also surface
    as ``timestamp[ns]`` in the pyarrow *logical* schema but read fine.

    Directories scan EVERY file's footer (metadata-only, no data read):
    under schema evolution a nanos column may exist only in newer files,
    and detecting just the first file would let the plain reader crash on
    the ones that carry it."""
    import glob

    import pyarrow.parquet as pq

    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    ns_cols: list[str] = []
    for f in files:
        schema = pq.ParquetFile(f).schema
        for i in range(len(schema)):
            col = schema.column(i)
            if (
                col.physical_type == "INT64"
                and "Timestamp" in str(col.logical_type)
                and "nanos" in str(col.logical_type).lower()
                and col.name not in ns_cols
            ):
                ns_cols.append(col.name)
    return ns_cols


_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def read_table_dir(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver fixture table under ``sf_dir`` (TESTDATA.md)."""
    out = {}
    for t in _TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            out[t] = read_parquet(spark, p)
    return out


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — the second columnar format ClickHouse speaks
    natively (``FORMAT ORC``); same vectorized-reader/pushdown/pruning
    story as parquet."""
    return spark.read.orc(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """Newline-delimited JSON scan — ClickHouse's ``JSONEachRow``, the wire
    format the reference requests on every read (server/server.js:141, 232,
    458: ``FORMAT JSONEachRow`` appended to each query).  Pass an explicit
    ``schema`` DDL string in production: schema inference costs a full
    extra pass over the data and types drift between files; with a schema
    the scan is one pass and malformed rows land in Spark's default
    PERMISSIVE null-column handling."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write newline-delimited JSON (JSONEachRow) — the export twin of
    :func:`read_jsonl`; one file per partition, no driver collect."""
    df.write.mode(mode).json(path)


def read_parquet_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Scan a parquet directory whose files were written under EVOLVING
    schemas (columns added over time — the normal life of a long-lived
    table fed by incremental appends).

    ``mergeSchema`` unions the file footers at planning time: old files
    surface the new columns as NULL, new files keep them.  Costs one footer
    read per file (driver-side, no data scan) — enable it per-read like
    this, not globally, because at 100 TB footer-merging every scan of a
    stable table is waste.

    Routed through the same nanos-timestamp + NTZ normalization as
    :func:`read_parquet` so evolved reads yield identical timestamp flavor.
    """
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.option("mergeSchema", True).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_ltz(df)
