"""ClickHouse mutation analogs (operators/mutations.py): parse, CH
simultaneous-assignment semantics, NULL-predicate DELETE, copy-on-write
apply with atomic swap, ClickHouse vocabulary in expressions."""

import pytest

from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators import mutations as M


def test_parse_update_and_delete():
    t, kind, asg, where = M.parse_mutation(
        "ALTER TABLE ev UPDATE a = a + 1, b = concat(b, 'x') WHERE a > 2"
    )
    assert (t, kind) == ("ev", "update")
    assert asg == {"a": "a + 1", "b": "concat(b, 'x')"}
    assert where == "a > 2"
    t, kind, asg, where = M.parse_mutation(
        "ALTER TABLE ev DELETE WHERE b = 'gone'"
    )
    assert (kind, asg, where) == ("delete", None, "b = 'gone'")
    with pytest.raises(ValueError):
        M.parse_mutation("ALTER TABLE ev UPDATE a = 1")  # no WHERE
    with pytest.raises(ValueError):
        M.parse_mutation("SELECT 1")
    # a comma or WHERE inside a literal, a subquery or a backtick name
    # is not a boundary
    for stmt, want_asg in [
        ("ALTER TABLE t UPDATE s = 'a,b' WHERE id = 1", {"s": "'a,b'"}),
        (
            "ALTER TABLE t UPDATE s = 'go WHERE x' WHERE id = 1",
            {"s": "'go WHERE x'"},
        ),
        (
            "ALTER TABLE t UPDATE a = (SELECT max(b) FROM u WHERE c > 0) "
            "WHERE id = 1",
            {"a": "(SELECT max(b) FROM u WHERE c > 0)"},
        ),
        ("ALTER TABLE t UPDATE `where` = 1 WHERE id = 1", {"where": "1"}),
    ]:
        assert M.parse_mutation(stmt) == ("t", "update", want_asg, "id = 1")


def test_update_simultaneous_assignment(spark):
    """UPDATE a = b, b = a must SWAP (every assignment sees the
    pre-mutation row, ClickHouse semantics) — chained withColumn would
    copy instead."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "a int, b int")
    _, kind, asg, where = M.parse_mutation(
        "ALTER TABLE t UPDATE a = b, b = a WHERE a = 1"
    )
    out = {r.a: r.b for r in M.mutated_frame(df, kind, asg, where).collect()}
    assert out == {10: 1, 2: 20}


def test_update_literal_with_comma_and_where(spark):
    """A string literal holding a comma and the word WHERE is one
    assigned value, executed as such."""
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string")
    _, kind, asg, where = M.parse_mutation(
        "ALTER TABLE t UPDATE s = 'a, b WHERE c' WHERE id = 1"
    )
    out = {r.id: r.s for r in M.mutated_frame(df, kind, asg, where).collect()}
    assert out == {1: "a, b WHERE c", 2: "y"}


def test_delete_null_predicate_keeps_row(spark):
    """DELETE removes rows where the predicate is TRUE; NULL predicates
    keep the row (ClickHouse: NULL is not TRUE)."""
    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "y")], "id int, tag string"
    )
    _, kind, asg, where = M.parse_mutation(
        "ALTER TABLE t DELETE WHERE tag = 'x'"
    )
    ids = sorted(
        r.id for r in M.mutated_frame(df, kind, asg, where).collect()
    )
    assert ids == [2, 3]  # NULL-tag row survives


def test_clickhouse_vocabulary_in_expressions(spark):
    """Assignment and predicate expressions accept ClickHouse function
    names (translated before F.expr)."""
    df = spark.createDataFrame([("a", "x"), ("bb", "y")], "s string, t string")
    _, kind, asg, where = M.parse_mutation(
        "ALTER TABLE t UPDATE t = ucase(t) WHERE lengthUTF8(s) = 2"
    )
    out = {r.s: r.t for r in M.mutated_frame(df, kind, asg, where).collect()}
    assert out == {"a": "x", "bb": "Y"}


def test_update_unknown_column_rejected(spark):
    df = spark.createDataFrame([(1,)], "a int")
    _, kind, asg, where = M.parse_mutation(
        "ALTER TABLE t UPDATE nope = 1 WHERE a = 1"
    )
    with pytest.raises(ValueError, match="unknown column"):
        M.mutated_frame(df, kind, asg, where)


def test_apply_mutation_copy_on_write(spark, tmp_path):
    """apply_mutation rewrites the parquet dir atomically: UPDATE then
    DELETE, verifying contents and that no temp/backup dirs remain."""
    import os

    p = str(tmp_path / "mut")
    spark.createDataFrame(
        [(1, "keep", 5.0), (2, "bump", 5.0), (3, "drop", 5.0)],
        "id int, op string, v double",
    ).write.parquet(p)
    n = M.apply_mutation(
        spark, p, "ALTER TABLE t UPDATE v = v * 2 WHERE op = 'bump'"
    )
    assert n == 3
    n = M.apply_mutation(spark, p, "ALTER TABLE t DELETE WHERE op = 'drop'")
    assert n == 2
    got = {r.id: r.v for r in spark.read.parquet(p).collect()}
    assert got == {1: 5.0, 2: 10.0}
    assert not os.path.exists(p + ".mutation.tmp")
    assert not os.path.exists(p + ".mutation.old")


def test_api_mutate_endpoint(spark, tmp_path):
    from clickhouse_flatfile_tool_spark import api

    p = str(tmp_path / "apimut")
    spark.createDataFrame([(1, 1.0), (2, 2.0)], "id int, v double").write.parquet(p)
    res = api.mutate(
        spark, p, "ALTER TABLE t DELETE WHERE id = 1"
    )
    assert res["success"] and res["rows_after"] == 1
    bad = api.mutate(spark, p, "ALTER TABLE t UPDATE v = 1")
    assert not bad["success"]


def test_schema_mutations(spark):
    """ADD COLUMN (typed via the CH mapper, DEFAULT expr or NULL), DROP
    COLUMN, RENAME COLUMN as projection rewrites."""
    from clickhouse_flatfile_tool_spark.operators.mutations import (
        schema_mutated_frame,
    )

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    added = schema_mutated_frame(
        df, "ALTER TABLE t ADD COLUMN n Int64 DEFAULT id * 10"
    )
    assert added.schema["n"].dataType.simpleString() == "bigint"
    assert added.first().n == 10
    nulled = schema_mutated_frame(df, "ALTER TABLE t ADD COLUMN f Float64")
    assert nulled.first().f is None
    # IF NOT EXISTS: re-adding an existing column is a no-op
    again = schema_mutated_frame(
        added, "ALTER TABLE t ADD COLUMN IF NOT EXISTS n Int64"
    )
    assert again.columns == added.columns
    dropped = schema_mutated_frame(df, "ALTER TABLE t DROP COLUMN s")
    assert dropped.columns == ["id"]
    renamed = schema_mutated_frame(df, "ALTER TABLE t RENAME COLUMN s TO txt")
    assert renamed.columns == ["id", "txt"]


def test_optimize_final_deduplicate(spark):
    from clickhouse_flatfile_tool_spark.operators.mutations import (
        optimize_final,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b")], "k int, v string"
    )
    assert optimize_final(df, "OPTIMIZE TABLE t FINAL").count() == 3
    assert (
        optimize_final(df, "OPTIMIZE TABLE t FINAL DEDUPLICATE").count() == 2
    )
    assert (
        optimize_final(
            df, "OPTIMIZE TABLE t FINAL DEDUPLICATE BY k"
        ).count()
        == 1
    )


def test_apply_schema_mutation_roundtrip(spark, tmp_path):
    import os

    from clickhouse_flatfile_tool_spark.operators import mutations as M2

    p = str(tmp_path / "schmut")
    spark.createDataFrame([(1, 2.0)], "id int, v double").write.parquet(p)
    M2.apply_mutation(spark, p, "ALTER TABLE t ADD COLUMN tag String DEFAULT 'x'")
    M2.apply_mutation(spark, p, "ALTER TABLE t RENAME COLUMN v TO val")
    got = spark.read.parquet(p).first()
    assert got.tag == "x" and got.val == 2.0
    assert not os.path.exists(p + ".mutation.tmp")


def test_ttl_frame_expires_past_rows(spark):
    """Rows whose TTL timestamp is already past expire; NULL TTL never
    expires; the WHERE gate shields matching rows from expiry."""
    from clickhouse_flatfile_tool_spark.operators.mutations import ttl_frame

    df = spark.createDataFrame(
        [
            (1, "2020-01-01 00:00:00", "a"),   # expired
            (2, "2030-01-01 00:00:00", "a"),   # future TTL — kept
            (3, None, "a"),                     # NULL TTL — kept
            (4, "2020-01-01 00:00:00", "keep"),  # expired but WHERE-shielded
        ],
        "id int, ts string, kind string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ttl_frame(
        df,
        "ALTER TABLE t MODIFY TTL ts + INTERVAL 30 DAY DELETE "
        "WHERE kind != 'keep'",
        now="2024-06-01 00:00:00",
    )
    assert sorted(r.id for r in out.collect()) == [2, 3, 4]


def test_ttl_frame_clickhouse_vocabulary(spark):
    """The TTL expression accepts ClickHouse vocabulary (addDays) — it
    runs through the dialect translator like every mutation expression."""
    from clickhouse_flatfile_tool_spark.operators.mutations import ttl_frame

    df = spark.createDataFrame(
        [(1, "2020-01-01 00:00:00"), (2, "2030-01-01 00:00:00")],
        "id int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = ttl_frame(
        df, "ALTER TABLE t MODIFY TTL addDays(ts, 30)", now="2024-06-01 00:00:00"
    )
    assert [r.id for r in out.collect()] == [2]


def test_apply_mutation_ttl_roundtrip(spark, tmp_path):
    """apply_mutation routes MODIFY TTL through the same copy-on-write
    swap; expired rows are gone from the rewritten directory."""
    from clickhouse_flatfile_tool_spark.operators.mutations import apply_mutation

    p = str(tmp_path / "ttl_t")
    spark.createDataFrame(
        [(1, "2000-01-01 00:00:00"), (2, "2999-01-01 00:00:00")],
        "id int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(p)
    n = apply_mutation(spark, p, "ALTER TABLE t MODIFY TTL ts + INTERVAL 1 DAY")
    assert n == 1
    assert [r.id for r in spark.read.parquet(p).collect()] == [2]
