"""ClickHouse mutation analogs: ``ALTER TABLE … UPDATE / DELETE`` as
copy-on-write rewrites.

Reference parity: the reference delegates ALL mutation capability to the
ClickHouse server (its flat-file side never rewrites anything —
`server.js` only appends); ClickHouse itself applies mutations
asynchronously by rewriting the parts whose rows match.  The Spark-first
shape is the same idea made explicit: a mutation IS a projection
(UPDATE → one CASE WHEN per assigned column) or a filter (DELETE → keep
the non-matching rows), executed as one distributed scan → staged write →
directory swap — the copy-on-write pattern every parquet-backed lakehouse
uses.  At 100 TB the WHERE predicate prunes the rewrite to affected
partitions (partition-pruned read + dynamic partition overwrite), exactly
like ClickHouse limits a mutation to the parts containing matching rows.

Semantics matched to ClickHouse:

* every UPDATE assignment sees the PRE-mutation row (simultaneous
  assignment — ``UPDATE a = b, b = a`` swaps), so the rewrite is one
  ``select`` over the original columns, never chained ``withColumn``;
* DELETE removes rows where the predicate is TRUE — NULL predicates keep
  the row (``coalesce(cond, false)``);
* expressions may use ClickHouse function vocabulary — they run through
  ``translate_clickhouse_sql`` before ``F.expr``.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.dialect import (
    _mask_literals,
    _split_top_comma,
    _top_level,
    _unmask_literals,
    translate_clickhouse_sql,
)

_ALTER_PAT = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+(UPDATE|DELETE)\s+(.*?)\s*;?\s*$"
)
_ASSIGN_PAT = re.compile(r"(?s)^(\w+|`[^`]+`)\s*=\s*(.+)$")


def parse_mutation(sql: str) -> tuple[str, str, dict[str, str] | None, str]:
    """Parse a ClickHouse mutation statement.

    Returns ``(table, kind, assignments, where)`` with ``kind`` in
    {"update", "delete"}; assignment/predicate expressions are already
    translated to Spark SQL.  WHERE is REQUIRED (as in ClickHouse — an
    unconditional mutation must say ``WHERE 1``).  The statement is
    parsed with its string literals masked, so the top-level WHERE and
    the assignment commas are found by the dialect's top-level scanner:
    a comma or WHERE inside a literal, a subquery or a backtick name is
    not a boundary."""
    masked, literals = _mask_literals(sql)
    m = _ALTER_PAT.match(masked)
    if not m:
        raise ValueError(f"not a mutation statement: {sql!r}")
    table, kind, rest = m.group(1), m.group(2).lower(), m.group(3)
    w_at, w = next(_top_level(rest, ("WHERE",)))
    if w is None:
        raise ValueError("ClickHouse mutations require a WHERE clause")
    where = translate_clickhouse_sql(
        _unmask_literals(rest[w_at + len(w) :].strip(), literals)
    )
    if kind == "delete":
        if rest[:w_at].strip():
            raise ValueError("DELETE takes no assignments")
        return table, kind, None, where
    assignments = {}
    for part in _split_top_comma(rest[:w_at]):
        am = _ASSIGN_PAT.match(part)
        if not am:
            raise ValueError(
                "malformed UPDATE assignment: "
                f"{_unmask_literals(part, literals)!r}"
            )
        assignments[am.group(1).strip("`")] = translate_clickhouse_sql(
            _unmask_literals(am.group(2), literals)
        )
    return table, kind, assignments, where


def mutated_frame(
    df: DataFrame,
    kind: str,
    assignments: dict[str, str] | None,
    where: str,
) -> DataFrame:
    """The post-mutation rows as a DataFrame (no write).  One projection /
    one filter — whole-stage codegen, no shuffle, and the WHERE predicate
    participates in partition pruning on a partitioned source."""
    if kind == "delete":
        return df.filter(~F.coalesce(F.expr(where), F.lit(False)))
    if kind != "update":
        raise ValueError(f"unknown mutation kind: {kind!r}")
    unknown = set(assignments or {}) - set(df.columns)
    if unknown:
        raise ValueError(f"UPDATE of unknown column(s): {sorted(unknown)}")
    cond = F.expr(where)
    cols = [
        F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
        if c in (assignments or {})
        else F.col(c)
        for c in df.columns
    ]
    return df.select(*cols)


_SCHEMA_PAT = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+"
    r"(?:ADD\s+COLUMN\s+(?:IF\s+NOT\s+EXISTS\s+)?(\w+)\s+(\w+(?:\([^)]*\))?)"
    r"(?:\s+DEFAULT\s+(.+?))?"
    r"|DROP\s+COLUMN\s+(?:IF\s+EXISTS\s+)?(\w+)"
    r"|RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+))\s*;?\s*$"
)


def schema_mutated_frame(df: DataFrame, sql: str) -> DataFrame:
    """ClickHouse schema mutations as projection rewrites:

    * ``ADD COLUMN name Type [DEFAULT expr]`` — appended, typed through
      ``schema.clickhouse_to_spark`` (the reference's whitelist mapper
      done right, server.js:57-85); no DEFAULT → NULL, like CH reading
      parts written before the ADD;
    * ``DROP COLUMN name`` — projection without it;
    * ``RENAME COLUMN a TO b`` — metadata-only in CH, a projection here.

    Same copy-on-write story as the data mutations — at 100 TB CH applies
    these lazily per part; a lakehouse either rewrites (this) or relies
    on reader-side schema evolution (``files.read_parquet_evolved``)."""
    from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

    m = _SCHEMA_PAT.match(sql)
    if not m:
        raise ValueError(f"not a schema mutation: {sql!r}")
    _t, add_name, add_type, default, drop_name, ren_from, ren_to = m.groups()
    if add_name:
        if add_name in df.columns:
            return df  # IF NOT EXISTS semantics; CH errors without it
        dt, _nullable = clickhouse_to_spark(add_type)
        col = (
            F.expr(translate_clickhouse_sql(default))
            if default
            else F.lit(None)
        )
        return df.withColumn(add_name, col.cast(dt))
    if drop_name:
        if drop_name not in df.columns:
            return df
        return df.drop(drop_name)
    if ren_from not in df.columns:
        raise ValueError(f"RENAME of unknown column {ren_from!r}")
    return df.withColumnRenamed(ren_from, ren_to)


_OPTIMIZE_PAT = re.compile(
    r"(?is)^\s*OPTIMIZE\s+TABLE\s+(\S+)\s+FINAL"
    r"(\s+DEDUPLICATE(?:\s+BY\s+(.+?))?)?\s*;?\s*$"
)


def optimize_final(
    df: DataFrame, sql: str = "OPTIMIZE TABLE t FINAL"
) -> DataFrame:
    """``OPTIMIZE TABLE … FINAL [DEDUPLICATE [BY col, …]]``: the merge
    itself is compaction (``writers.compact_parquet`` when writing);
    DEDUPLICATE drops full-row duplicates, DEDUPLICATE BY keeps one row
    per key tuple — ClickHouse picks an arbitrary survivor, we pick a
    deterministic one (min over the remaining columns via dropDuplicates
    after an orderBy is NOT deterministic in Spark; exact dedup policy
    belongs to ``dedup.exact_dedup_policy``, this is the CH statement
    analog)."""
    m = _OPTIMIZE_PAT.match(sql)
    if not m:
        raise ValueError(f"not an OPTIMIZE statement: {sql!r}")
    _t, dedup, by = m.groups()
    if not dedup:
        return df
    if by:
        keys = [c.strip().strip("`") for c in by.split(",")]
        return df.dropDuplicates(keys)
    return df.dropDuplicates()


_TTL_PAT = re.compile(
    r"(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+MODIFY\s+TTL\s+(.+?)"
    r"(?:\s+DELETE)?(?:\s+WHERE\s+(.+?))?\s*;?\s*$"
)


def ttl_frame(df: DataFrame, sql: str, now=None) -> DataFrame:
    """``ALTER TABLE t MODIFY TTL expr [DELETE] [WHERE cond]`` — ClickHouse
    row-level table TTL: a row expires once the TTL expression (a
    date/datetime derived from the row) falls in the past; with WHERE only
    matching rows are subject to expiry.  ClickHouse applies TTL lazily at
    merge time (OPTIMIZE … FINAL forces it); this frame IS the post-merge
    state, evaluated against ``now`` (pass a fixed timestamp for
    deterministic tests; defaults to current_timestamp).  The TTL
    expression may use ClickHouse vocabulary — it runs through
    ``translate_clickhouse_sql`` like every mutation expression.  NULL TTL
    values never expire (CH treats NULL as no-TTL), and a NULL WHERE keeps
    the row, matching DELETE's coalesce rule.  One filter, codegen'd, no
    shuffle; on a date-partitioned table the expiry predicate partition-
    prunes the rewrite exactly like ClickHouse drops whole expired parts.
    """
    m = _TTL_PAT.match(sql)
    if not m:
        raise ValueError(f"not a TTL statement: {sql!r}")
    _table, ttl_expr, where = m.groups()
    ttl_col = F.expr(translate_clickhouse_sql(ttl_expr))
    now_ts = F.lit(now).cast("timestamp") if now is not None else F.current_timestamp()
    expired = F.coalesce(ttl_col < now_ts, F.lit(False))
    if where:
        subject = F.coalesce(
            F.expr(translate_clickhouse_sql(where)), F.lit(False)
        )
        expired = expired & subject
    return df.filter(~expired)


def apply_mutation(spark: SparkSession, path: str, sql: str) -> int:
    """Execute a mutation against a parquet directory copy-on-write:
    distributed rewrite into a sibling temp dir, then an atomic directory
    swap (a concurrent reader sees the old or the new version, never a
    half-rewritten one — ClickHouse part-replacement semantics).  Returns
    the post-mutation row count."""
    import os
    import shutil

    from clickhouse_flatfile_tool_spark.sources.files import read_parquet

    df = read_parquet(spark, path)
    if _SCHEMA_PAT.match(sql):
        out = schema_mutated_frame(df, sql)
    elif _TTL_PAT.match(sql):
        out = ttl_frame(df, sql)
    elif _OPTIMIZE_PAT.match(sql):
        out = optimize_final(df, sql)
    else:
        _table, kind, assignments, where = parse_mutation(sql)
        out = mutated_frame(df, kind, assignments, where)
    tmp = path.rstrip("/") + ".mutation.tmp"
    out.write.mode("overwrite").parquet(tmp)
    bak = path.rstrip("/") + ".mutation.old"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
    return spark.read.parquet(path).count()
