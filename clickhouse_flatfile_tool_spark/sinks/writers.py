"""Sinks: create-if-absent tables, batched append, CSV export, sample-data
bootstrap.

Reference equivalents (SURVEY.md §2.1 S9-S12):
  * ``CREATE TABLE IF NOT EXISTS … ENGINE=MergeTree() ORDER BY tuple()`` —
    /root/reference/server/server.js:586-601, 671-678
  * batched INSERT VALUES loop — server.js:626-649, 695-718 (Spark writes
    partition-parallel; no driver-side batching loop)
  * ``SELECT * FROM t FORMAT CSVWithNames`` download — server.js:400-415
  * 5-row sample_data bootstrap when the catalog is empty —
    server.js:147-179, clickhouse/create_sample_table.sql:1-17
"""

from __future__ import annotations

import glob
import os
import shutil
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_flatfile_tool_spark.operators import relational


def create_table_if_absent(
    df: DataFrame, table: str, sort_by: list[str] | None = None
) -> None:
    """Create a managed (parquet) table from df's schema if it does not exist.

    ``sort_by`` is the MergeTree ``ORDER BY`` analog: rows are sorted within
    partitions at write time so min/max parquet statistics support data
    skipping — the same pruning role the MergeTree primary key plays
    (server.js:588-589 uses ORDER BY tuple(), i.e. unsorted; the sample table
    uses ORDER BY id, create_sample_table.sql:9).
    """
    writer = df.sortWithinPartitions(*sort_by).write if sort_by else df.write
    writer.mode("ignore").format("parquet").saveAsTable(table)


def append_table(df: DataFrame, table: str, sort_by: list[str] | None = None) -> int:
    """Append rows; returns the number of rows written (the reference's
    ingested-row accounting, server.js:640, 703, 717).

    The count goes through :func:`relational.count_rows`, so a source that
    was already previewed or ingested unchanged in this session is not
    scanned again; otherwise it costs one extra action, and callers that
    don't need it should use ``df.write`` directly.
    """
    out = df.sortWithinPartitions(*sort_by) if sort_by else df
    out.write.mode("append").format("parquet").saveAsTable(table)
    return relational.count_rows(df)


def export_csv(df: DataFrame, path: str, single_file: bool = True) -> str:
    """CSV export with header (FORMAT CSVWithNames analog, server.js:400-415).

    ``single_file=True`` coalesces to one part file and renames it to
    ``path`` — only sane for preview/download-sized results (the reference
    streams one HTTP response, same constraint).  For large exports pass
    ``single_file=False`` and get a directory of part files written in
    parallel.
    """
    if single_file:
        tmp = path + "._spark_tmp"
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
        shutil.move(part, path)
        shutil.rmtree(tmp)
        return path
    df.write.mode("overwrite").option("header", "true").csv(path)
    return path


SAMPLE_DATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),  # UInt32 → Long (SURVEY §1.2)
        T.StructField("name", T.StringType(), False),
        T.StructField("age", T.ShortType(), False),  # UInt8 → Short
        T.StructField("email", T.StringType(), False),
        T.StructField("created_at", T.TimestampType(), False),
    ]
)

# the 5 golden rows from create_sample_table.sql:12-17 / server.js:151-170
_SAMPLE_ROWS = [
    (1, "John Doe", 25, "john@example.com"),
    (2, "Jane Smith", 30, "jane@example.com"),
    (3, "Bob Johnson", 35, "bob@example.com"),
    (4, "Alice Brown", 28, "alice@example.com"),
    (5, "Charlie Wilson", 42, "charlie@example.com"),
]


def bootstrap_sample_data(spark: SparkSession, table: str = "sample_data") -> DataFrame:
    """If the catalog has no tables, create the reference's 5-row sample set
    (server.js:147-179).  ``created_at`` uses now() like the reference
    (server.js:165-169)."""
    now = datetime.utcnow()
    rows = [(*r, now) for r in _SAMPLE_ROWS]
    df = spark.createDataFrame(rows, SAMPLE_DATA_SCHEMA)
    if not spark.catalog.tableExists(table):
        create_table_if_absent(df, table, sort_by=["id"])
    return spark.table(table)


def export_json_each_row(df: DataFrame, path: str) -> str:
    """Write newline-delimited JSON (ClickHouse JSONEachRow wire format) —
    the export analog of the reference's read-side transfer encoding."""
    df.write.mode("overwrite").json(path)
    return path


def export_orc(df: DataFrame, path: str) -> str:
    """Write ORC — ClickHouse's other native columnar interchange format
    (``FORMAT ORC``); pairs with :func:`sources.files.read_orc`."""
    df.write.mode("overwrite").orc(path)
    return path


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table.

    Bucketing is the 100 TB co-location tool: two tables bucketed the same
    way on their join key sort-merge-join with ZERO exchange — the shuffle
    happens once at write time and every subsequent join/aggregation on the
    bucket key is free.  Equivalent role to the reference's MergeTree
    ``ORDER BY`` key (server.js:588-589; create_sample_table.sql:8-9), done
    the Spark way.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Hive-style partitioned parquet layout (+ optional within-partition
    sort).

    The 100 TB data-layout pair: ``partition_cols`` gives partition PRUNING
    (a date-filtered query opens only matching directories — the scan never
    sees the other 99%), and ``sort_cols`` gives row-group SKIPPING via
    parquet min/max statistics within each file.  Together they are the
    Spark analog of the reference's MergeTree partition key + ``ORDER BY``
    (server.js:588-589): sort-order-as-index, done at write time.
    """
    out = df
    if sort_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols]).sortWithinPartitions(
            *sort_cols
        )
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    return path


def write_with_bloom(
    df: DataFrame,
    path: str,
    bloom_cols: list[str],
    fpp: float = 0.01,
    ndv: int | None = None,
    mode: str = "overwrite",
) -> str:
    """Parquet write with per-column BLOOM FILTERS — the Spark analog of
    ClickHouse's ``bloom_filter`` data-skipping index (granule-level skip
    indexes, declared per column at table creation; the reference's
    MergeTree tables can carry them).  Parquet stores a split-block bloom
    per row group; Spark's vectorized reader then skips whole row groups
    on ``col = literal`` probes that cannot match — the point-lookup
    complement to min/max sorting, which only helps range-correlated
    columns.

    ``ndv`` (expected distinct values per row group) sizes the filter;
    leave None for the writer default.  Costs ~1.2 bytes/value at 1% fpp —
    negligible next to the data pages it lets a 100 TB scan skip.

    Note: parquet-mr intentionally OMITS the bloom for columns whose row
    group stayed fully dictionary-encoded (the dictionary already answers
    membership exactly) — so low-cardinality columns produce no filter
    bytes, which is correct, not a failure."""
    w = df.write.mode(mode)
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.fpp#{c}", str(fpp))
        if ndv:
            w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    w.parquet(path)
    return path


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_within: list[str] | None = None,
) -> int:
    """Compact a parquet directory's small files into ~``target_file_mb``
    outputs; returns the new file count.

    Small-file proliferation is the classic long-running-pipeline failure
    mode (every streaming micro-batch / incremental append adds files until
    listing and scheduling dominate).  Sizing from the actual on-disk bytes
    — not a row-count guess — keeps output files row-group-aligned, and an
    optional ``sort_within`` re-establishes min/max row-group skipping.
    Writes to a sibling temp dir then swaps, so a concurrent reader never
    sees a half-compacted directory.
    """
    files = glob.glob(os.path.join(path, "*.parquet")) + glob.glob(
        os.path.join(path, "part-*")
    )
    total_bytes = sum(os.path.getsize(f) for f in set(files))
    n_out = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    out = df.repartition(int(n_out))
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    tmp = path.rstrip("/") + ".compact.tmp"
    out.write.mode("overwrite").parquet(tmp)
    bak = path.rstrip("/") + ".compact.old"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
    return len(glob.glob(os.path.join(path, "part-*.parquet")))


def write_training_shards(
    df: DataFrame,
    path: str,
    tokens_per_shard: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write a curated corpus as near-equal-token training shards — the
    data-loader-facing layout: one directory per shard
    (``shard=<k>/part-*.parquet``, a single file per shard so a loader
    streams each shard sequentially), documents never split, assignment
    deterministic and engine-portable via
    :func:`operators.sampling.assign_training_shards`.

    Returns the manifest frame ``(shard, n_docs, n_tokens)`` — the
    per-shard accounting every training run records next to the data.

    Scale shape: assignment is the two-level prefix sum (no global
    window); the write repartitions BY the shard column so each shard's
    rows converge on one task → one file (at 100 TB pick
    ``tokens_per_shard`` so a shard is a few hundred MB and the
    repartition spreads shards across the cluster)."""
    from clickhouse_flatfile_tool_spark.operators.sampling import (
        assign_training_shards,
    )

    assigned = assign_training_shards(
        df, tokens_per_shard, id_col=id_col, text_col=text_col
    )
    (
        assigned.repartition("shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    return (
        spark.read.parquet(path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .orderBy("shard")
    )


def upsert_table(
    spark: SparkSession,
    changes: DataFrame,
    table: str,
    key_cols: list[str],
    version_cols: list[str],
) -> None:
    """Batch CDC apply: merge ``changes`` into ``table`` keeping the
    newest version per key (ReplacingMergeTree semantics via
    operators.mergetree.replacing_final) — the union + one hash
    aggregation shape, no per-row lookups.

    The rewrite is full-table here (parquet has no in-place update); at
    100 TB the same operator runs per partition against only the
    partitions present in ``changes`` (partition-pruned read, dynamic
    overwrite), which is how Hive/Delta-style upserts bound the rewrite.
    """
    from clickhouse_flatfile_tool_spark.operators.mergetree import replacing_final

    base = spark.table(table)
    merged = replacing_final(
        base.unionByName(changes), key_cols, version_cols
    )
    # Spark can't overwrite a table that feeds the same plan: stage the
    # merged result (distributed write, no collect), then swap it in.
    staging = f"{table}__upsert_staging"
    merged.write.mode("overwrite").saveAsTable(staging)
    spark.table(staging).write.mode("overwrite").saveAsTable(table)
    spark.sql(f"DROP TABLE {staging}")
