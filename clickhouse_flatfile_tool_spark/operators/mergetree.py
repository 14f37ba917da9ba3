"""ClickHouse MergeTree-family merge semantics ("FINAL" reads) as Spark
operators.

The reference only ever creates plain ``MergeTree`` tables
(/root/reference/server/server.js:586-589, 671-674), but the engine family's
merge semantics — ReplacingMergeTree (keep newest version per key),
SummingMergeTree (sum numeric state per key), CollapsingMergeTree /
VersionedCollapsingMergeTree (±1 sign rows cancel; latest surviving +1 row is
the state) — are how ClickHouse users express upsert/CDC state, so they are
part of the capability surface a ClickHouse user expects when switching.

Scale design: every helper computes the post-merge state in ONE hash
aggregation — map-side partial aggregation, a single shuffle keyed by the
primary key, no window functions, no second pass over the fact table.  The
per-key state carried through the shuffle is a single struct, so the shuffle
volume is O(distinct keys), not O(rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _payload(cols: list[str]):
    return F.struct(*[F.col(c) for c in cols])


def replacing_final(
    df: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    value_cols: list[str] | None = None,
    is_deleted_col: str | None = None,
) -> DataFrame:
    """ReplacingMergeTree FINAL: one row per key — the row with the greatest
    version (lexicographic over ``version_cols``; remaining value columns
    break exact version ties deterministically).

    ``is_deleted_col`` enables the ClickHouse 23.2+ soft-delete form
    ``ReplacingMergeTree(ver, is_deleted)``: the winning row per key is
    DROPPED when its flag is 1 — an upsert-and-tombstone CDC stream
    collapses to the live set in the same single aggregation (FINAL with
    ``clean_deleted_rows`` semantics).

    Equivalent to the window-rank ``latest_per_key`` but with aggregation
    instead of a sort-based window: ``max(struct(version, values))`` is a
    partial-aggregatable state, so the map side reduces each key to one
    candidate before the shuffle.
    """
    if value_cols is None:
        skip = set(key_cols) | set(version_cols)
        value_cols = [c for c in df.columns if c not in skip]
    out_cols = list(version_cols) + list(value_cols)
    if is_deleted_col and is_deleted_col not in out_cols:
        out_cols.append(is_deleted_col)
    agg = df.groupBy(*key_cols).agg(F.max(_payload(out_cols)).alias("_last"))
    out = agg.select(
        *key_cols, *[F.col(f"_last.{c}").alias(c) for c in out_cols]
    )
    if is_deleted_col:
        out = out.filter(
            F.coalesce(F.col(is_deleted_col).cast("int"), F.lit(0)) != 1
        )
    return out


def summing_final(
    df: DataFrame, key_cols: list[str], sum_cols: list[str]
) -> DataFrame:
    """SummingMergeTree FINAL: numeric state columns summed per key."""
    return df.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def aggregating_final(
    df: DataFrame,
    key_cols: list[str],
    state_map: dict[str, str],
) -> DataFrame:
    """AggregatingMergeTree FINAL: merge partial aggregate STATES per key —
    the fourth MergeTree family (ClickHouse's ``-State``/``-Merge``
    combinator pattern: parts hold sumState/countState/minState/maxState
    columns and FINAL combines them).

    ``state_map`` maps each state column to its merge function: ``sum``
    and ``count`` states merge by summation, ``min``/``max`` by their own
    function — exactly ClickHouse's merge rule, and every one is
    partial-aggregatable in Spark, so the whole FINAL read stays one
    shuffle with map-side combine.  Finalization (e.g. avg = sum/count) is
    a post-merge projection left to the caller."""
    mergers = {
        "sum": F.sum,
        "count": F.sum,
        "min": F.min,
        "max": F.max,
        # uniqState/uniqMerge analog: the column holds HLL sketch binaries
        # (build per-key states with :func:`hll_state`); merging is the
        # sketch union — constant-size, associative, partial-aggregatable,
        # so distinct-count MVs maintain incrementally like every other
        # state.  Read the estimate with F.hll_sketch_estimate.
        "hll": F.hll_union_agg,
    }
    unknown = {k for k in state_map.values() if k not in mergers}
    if unknown:
        raise ValueError(f"aggregating_final: unknown merge kinds {sorted(unknown)}")
    return df.groupBy(*key_cols).agg(
        *[mergers[kind](c).alias(c) for c, kind in state_map.items()]
    )


def hll_state(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    out_col: str = "uniq_state",
    lg_k: int = 12,
) -> DataFrame:
    """Build per-key HLL sketch STATES from raw rows — ClickHouse's
    ``uniqState(value)`` in an AggregatingMergeTree MV.  Feed the result
    (or a new batch's states) to :func:`mv_refresh` with a
    ``{out_col: "hll"}`` state_map entry; read the distinct-count with
    ``F.hll_sketch_estimate(out_col)``.  Sketches are ~2^lg_k bytes per
    key regardless of cardinality — the state table never grows with the
    data, only with the key space."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias(out_col)
    )


def collapsing_final(
    df: DataFrame,
    key_cols: list[str],
    sign_col: str = "sign",
    version_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """(Versioned)CollapsingMergeTree FINAL.

    Rows carry ``sign`` ∈ {+1, -1}; a -1 row cancels a prior +1 row for the
    same key.  A key survives iff ``sum(sign) > 0``, and its surviving state
    is the +1 row with the greatest version.  ``sum(sign)`` and
    ``max(when(sign > 0, struct(version, values)))`` are computed in the same
    single aggregation (aggregate ``max`` ignores the NULLs produced for -1
    rows), so the whole FINAL read is one shuffle.
    """
    version_cols = list(version_cols or [])
    if value_cols is None:
        skip = set(key_cols) | set(version_cols) | {sign_col}
        value_cols = [c for c in df.columns if c not in skip]
    out_cols = version_cols + list(value_cols)
    agg = df.groupBy(*key_cols).agg(
        F.sum(sign_col).alias("_net"),
        F.max(F.when(F.col(sign_col) > 0, _payload(out_cols))).alias("_last"),
    )
    return (
        agg.where(F.col("_net") > 0)
        .select(*key_cols, *[F.col(f"_last.{c}").alias(c) for c in out_cols])
    )


def mv_refresh(
    state: DataFrame | None,
    delta: DataFrame,
    key_cols: list[str],
    state_map: dict[str, str],
) -> DataFrame:
    """ClickHouse materialized-view maintenance: fold a new batch of partial
    aggregate states (``delta`` — e.g. today's ingest pre-aggregated with
    the same ``state_map``) into the persisted MV ``state`` table, exactly
    the AggregatingMergeTree + MV pattern (the MV INSERT writes -State rows;
    background merges / FINAL reads combine them).

    ``mv_refresh(state, delta) ≡ aggregating_final(state ∪ delta)`` — merge
    functions are associative and commutative, so incremental maintenance
    is just another merge: one union + ONE hash aggregation whose shuffle
    carries a struct per key.  At 100 TB the state table lives bucketed by
    the key columns (sinks.writers.write_bucketed) so the daily refresh
    joins/aggregates without reshuffling history.  ``state=None`` boots an
    empty view (first refresh = the delta's own FINAL).
    """
    pre = aggregating_final(delta, key_cols, state_map)
    if state is None:
        return pre
    return aggregating_final(state.unionByName(pre), key_cols, state_map)


# --- SELECT ... FROM t FINAL ---------------------------------------------
#
# ClickHouse resolves FINAL from the table's engine declaration; Spark has
# no engine metadata, so the API keeps a small registry mapping table/view
# names to their merge semantics.  The SQL endpoints' shared front end
# (``api._prepare``) consults it whenever the incoming SQL contains
# ``FROM <t> FINAL`` (the everyday ClickHouse idiom for "give me the
# post-merge state now") and materializes a ``<t>__final`` temp view that
# the dialect rewrite points the query at.

_ENGINE_REGISTRY: dict[str, dict] = {}

_ENGINE_KINDS = (
    "ReplacingMergeTree",
    "SummingMergeTree",
    "AggregatingMergeTree",
    "CollapsingMergeTree",
    "VersionedCollapsingMergeTree",
)


def register_table_engine(
    table: str,
    engine: str,
    key_cols: list[str],
    version_cols: list[str] | None = None,
    value_cols: list[str] | None = None,
    sign_col: str = "sign",
    sum_cols: list[str] | None = None,
    state_map: dict[str, str] | None = None,
) -> None:
    """Declare the MergeTree engine of a catalog table/view so ``FROM t
    FINAL`` in the SQL endpoint resolves — the Spark-side stand-in for the
    ENGINE clause the reference's CREATE TABLE carries
    (/root/reference/server/server.js:586-589).  Plain ``MergeTree`` needs
    no registration: FINAL on it is the identity."""
    if engine not in _ENGINE_KINDS and engine != "MergeTree":
        raise ValueError(
            f"register_table_engine: unknown engine {engine!r}; "
            f"expected one of {('MergeTree',) + _ENGINE_KINDS}"
        )
    _ENGINE_REGISTRY[table.lower()] = {
        "engine": engine,
        "key_cols": list(key_cols),
        "version_cols": list(version_cols or []),
        "value_cols": value_cols,
        "sign_col": sign_col,
        "sum_cols": list(sum_cols or []),
        "state_map": dict(state_map or {}),
    }


def final_read(spark, table: str) -> DataFrame:
    """The post-merge state of ``table`` per its registered engine — what
    ClickHouse returns for ``SELECT ... FROM table FINAL``.  One hash
    aggregation regardless of engine (see the family helpers above)."""
    meta = _ENGINE_REGISTRY.get(table.lower())
    if meta is None:
        raise ValueError(
            f"FINAL on {table!r} but no engine is registered — call "
            "mergetree.register_table_engine(table, engine, key_cols, ...) "
            "first (plain MergeTree tables don't need FINAL)"
        )
    df = spark.table(table)
    eng = meta["engine"]
    if eng == "MergeTree":
        return df
    if eng == "ReplacingMergeTree":
        return replacing_final(
            df, meta["key_cols"], meta["version_cols"], meta["value_cols"]
        )
    if eng == "SummingMergeTree":
        sum_cols = meta["sum_cols"] or [
            c for c, t in df.dtypes
            if c not in meta["key_cols"]
            and (
                t in ("int", "bigint", "smallint", "tinyint", "double", "float")
                or t.startswith("decimal")
            )
        ]
        return summing_final(df, meta["key_cols"], sum_cols)
    if eng == "AggregatingMergeTree":
        return aggregating_final(df, meta["key_cols"], meta["state_map"])
    # Collapsing / VersionedCollapsing share one helper; the versioned
    # variant is the version_cols != [] case
    return collapsing_final(
        df,
        meta["key_cols"],
        sign_col=meta["sign_col"],
        version_cols=meta["version_cols"],
        value_cols=meta["value_cols"],
    )
