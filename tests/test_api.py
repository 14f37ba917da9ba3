"""Endpoint-façade tests (SURVEY §3): reference request/response shapes."""

import pytest

from clickhouse_flatfile_tool_spark import api


@pytest.fixture()
def people_csv(tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("id,name\n1,alice\n2,bob\n3,carol\n")
    return str(p)


def test_connect(spark):
    out = api.connect(spark)
    assert out["success"] and isinstance(out["tables"], list)


def test_columns_file(spark, people_csv):
    out = api.columns(spark, "file", people_csv)
    assert out["success"]
    assert out["columns"] == [
        {"name": "id", "type": "String"},
        {"name": "name", "type": "String"},
    ]


def test_preview_file(spark, people_csv):
    out = api.preview(spark, "file", people_csv, page=1, page_size=2)
    assert out["success"]
    assert out["pagination"] == {"total": 3, "page": 1, "pageSize": 2, "totalPages": 2}
    assert out["data"][0] == {"id": "1", "name": "alice"}


def test_preview_error_shape(spark):
    out = api.preview(spark, "file", "/nonexistent/nope.csv")
    assert out["success"] is False and "error" in out


def test_ingest_and_join(spark, people_csv, tmp_path):
    out = api.ingest(spark, "file", people_csv, "t_people")
    assert out["success"] and out["count"] == 3
    scores = tmp_path / "scores.csv"
    scores.write_text("id,score\n1,10\n2,20\n")
    out2 = api.ingest(spark, "file", str(scores), "t_scores")
    assert out2["success"] and out2["count"] == 2
    joined = api.execute_join(
        spark,
        ["t_people", "t_scores"],
        ["t_people.id = t_scores.id"],
        selected_columns=["name", "score"],
    )
    got = {(r.name, r.score) for r in joined.collect()}
    assert got == {("alice", "10"), ("bob", "20")}


def _total(spark, source, name):
    out = api.preview(spark, source, name, page=1, page_size=2)
    assert out["success"], out
    return out["pagination"]["total"]


def test_preview_total_follows_every_write(spark, people_csv, tmp_path):
    """Each write between two pages changes the reported total: a CSV
    rewrite (the same byte size too), ``ingest`` into a permanent table,
    Spark INSERT, INSERT into a temp view, TRUNCATE, and DROP then
    re-create.  RENAME keeps the total under the new name."""
    assert _total(spark, "file", people_csv) == 3
    with open(people_csv, "a") as fh:
        fh.write("4,dave\n")
    assert _total(spark, "file", people_csv) == 4
    same_size = tmp_path / "same.csv"
    same_size.write_text("id,name\n1,aa\n2,bb\n")
    assert _total(spark, "file", str(same_size)) == 2
    same_size.write_text("id,name\n1,a\n2,b\n3\n")
    assert _total(spark, "file", str(same_size)) == 3

    spark.sql("DROP TABLE IF EXISTS t_pages")
    assert api.ingest(spark, "file", people_csv, "t_pages")["count"] == 4
    assert _total(spark, "clickhouse", "t_pages") == 4
    assert api.ingest(spark, "file", people_csv, "t_pages")["count"] == 4
    assert _total(spark, "clickhouse", "t_pages") == 8
    spark.sql("INSERT INTO t_pages VALUES ('5', 'erin')")
    assert _total(spark, "clickhouse", "t_pages") == 9
    spark.sql("DROP TABLE t_pages")
    assert api.ingest(spark, "file", str(same_size), "t_pages")["count"] == 3
    assert _total(spark, "clickhouse", "t_pages") == 3

    spark.createDataFrame([(1, "x")], "id long, s string").createOrReplaceTempView("pages_v")
    assert _total(spark, "clickhouse", "pages_v") == 1
    assert api.query(spark, "INSERT INTO pages_v VALUES (2, 'y'), (3, 'z')")["success"]
    assert _total(spark, "clickhouse", "pages_v") == 3
    assert api.query(spark, "RENAME TABLE pages_v TO pages_w")["success"]
    assert _total(spark, "clickhouse", "pages_w") == 3
    assert api.query(spark, "TRUNCATE TABLE pages_w")["success"]
    assert _total(spark, "clickhouse", "pages_w") == 0
    assert api.query(spark, "DROP TABLE pages_w")["success"]
    assert api.query(spark, "CREATE TABLE pages_w (id Int64) ENGINE = MergeTree ORDER BY id")["success"]
    assert api.query(spark, "INSERT INTO pages_w VALUES (7)")["success"]
    assert _total(spark, "clickhouse", "pages_w") == 1
    spark.sql("DROP TABLE t_pages")


def test_ingest_counts_a_previewed_file_once(spark, people_csv, jobs_fired):
    """columns -> preview -> ingest of one file scans it for the count
    once: the ingest reuses the preview's total, so it fires only its
    write jobs."""
    from clickhouse_flatfile_tool_spark.sinks.writers import create_table_if_absent
    from clickhouse_flatfile_tool_spark.sources.files import read_csv

    def write_only(table):
        df = read_csv(spark, people_csv)[0]
        create_table_if_absent(df.limit(0), table)
        df.write.mode("append").format("parquet").saveAsTable(table)

    spark.sql("DROP TABLE IF EXISTS t_once")
    spark.sql("DROP TABLE IF EXISTS t_once_ref")
    assert _total(spark, "file", people_csv) == 3
    out, ingest_jobs = jobs_fired(lambda: api.ingest(spark, "file", people_csv, "t_once"))
    assert out["count"] == 3
    _, write_jobs = jobs_fired(lambda: write_only("t_once_ref"))
    assert ingest_jobs == write_jobs
    spark.sql("DROP TABLE t_once")
    spark.sql("DROP TABLE t_once_ref")


def test_joinable_tables(spark):
    out = api.joinable_tables(spark)
    assert out["success"] and "suggestions" in out


def test_download(spark, tmp_path, people_csv):
    api.ingest(spark, "file", people_csv, "t_dl")
    out = api.download(spark, "t_dl", str(tmp_path / "dl.csv"))
    assert out["success"]
    assert (tmp_path / "dl.csv").read_text().splitlines()[0] == "id,name"


def test_download_formats(spark, tmp_path, people_csv):
    """fmt='jsonl'/'parquet'/'orc' round-trip through the matching reader;
    unknown formats error through the structured payload."""
    api.ingest(spark, "file", people_csv, "t_dl2")
    n = spark.table("t_dl2").count()
    for fmt in ("jsonl", "parquet", "orc"):
        out = api.download(spark, "t_dl2", str(tmp_path / f"dl_{fmt}"), fmt=fmt)
        assert out["success"] and out["format"] == fmt
        reader = {
            "jsonl": spark.read.json,
            "parquet": spark.read.parquet,
            "orc": spark.read.orc,
        }[fmt]
        assert reader(str(tmp_path / f"dl_{fmt}")).count() == n
    bad = api.download(spark, "t_dl2", str(tmp_path / "x"), fmt="xml")
    assert not bad["success"]


def test_run_with_progress_reports_real_tasks(spark):
    """StatusTracker polling must see scheduler-level task counts during a
    multi-partition job (a short per-partition sleep guarantees the poller
    catches at least one snapshot)."""
    import time

    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.progress import run_with_progress

    df = spark.range(0, 8, 1, 8)

    def slow(it):
        for pdf in it:
            time.sleep(0.3)
            yield pdf

    slow_df = df.mapInPandas(slow, "id long")
    result, tracker = run_with_progress(
        spark, lambda: slow_df.count(), poll_interval=0.05
    )
    assert result == 8
    progress = [e for e in tracker.events if e["type"] == "progress"]
    assert progress, "no progress snapshots captured"
    assert all(0 <= e["processed"] <= e["total"] for e in progress)
    assert tracker.events[-1]["type"] == "complete"


def test_join_columns_endpoint(spark):
    from clickhouse_flatfile_tool_spark import api
    from clickhouse_flatfile_tool_spark.sinks.writers import bootstrap_sample_data

    bootstrap_sample_data(spark)
    out = api.join_columns(spark, ["sample_data"])
    assert out["success"]
    names = [c["name"] for c in out["columns"]["sample_data"]]
    assert names == ["id", "name", "age", "email", "created_at"]


def test_analyze_table_feeds_cbo_stats(spark, tables, tmp_path):
    from clickhouse_flatfile_tool_spark.sources.catalog import analyze_table, table_stats

    tables["nation"].write.mode("overwrite").saveAsTable("nation_stats_t")
    analyze_table(spark, "nation_stats_t", columns=["n_nationkey", "n_name"])
    stats = table_stats(spark, "nation_stats_t")
    assert stats.get("row_count") == tables["nation"].count()
    assert stats.get("size_bytes", 0) > 0
    spark.sql("DROP TABLE nation_stats_t")


def test_query_endpoint_runs_clickhouse_sql(spark):
    from clickhouse_flatfile_tool_spark import api
    from clickhouse_flatfile_tool_spark.sinks.writers import bootstrap_sample_data

    bootstrap_sample_data(spark, "q_sample")
    out = api.query(
        spark,
        "SELECT uniqExact(id) AS u, arraySum([1, 2, 3]) AS s FROM q_sample",
    )
    assert out["success"], out
    assert "count(DISTINCT" in out["translated_sql"]
    assert out["data"][0]["s"] == 6.0 and out["data"][0]["u"] >= 1
    # paging clamps and offsets deterministically with an ORDER BY
    p1 = api.query(spark, "SELECT id FROM q_sample ORDER BY id", page=1, page_size=2)
    p2 = api.query(spark, "SELECT id FROM q_sample ORDER BY id", page=2, page_size=2)
    assert len(p1["data"]) == 2 and p1["data"][0]["id"] < p2["data"][0]["id"]
    # errors come back in the reference envelope, not as exceptions
    bad = api.query(spark, "SELECT definitely_not_a_col FROM q_sample")
    assert bad["success"] is False and "error" in bad


def test_explain_endpoint(spark, people_csv):
    """/explain translates the CH dialect and returns the physical plan
    without executing; filter pushdown is visible in the plan text."""
    api.ingest(spark, "file", people_csv, "t_exp")
    out = api.explain(spark, "SELECT name FROM t_exp PREWHERE id = '1'")
    assert out["success"]
    assert "WHERE" in out["translated_sql"]  # PREWHERE merged
    assert "Scan" in out["plan"]
    bad = api.explain(spark, "SELECT nope FROM missing_table")
    assert not bad["success"]


def test_query_profile_reports_rows_time_plan(spark):
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame(
        [(i, i % 3) for i in range(50)], "id long, g long"
    ).createOrReplaceTempView("qprof_t")
    out = api.query_profile(
        spark, "SELECT g, uniqExact(id) AS u FROM qprof_t GROUP BY g"
    )
    assert out["success"]
    assert out["result_rows"] == 3
    assert out["query_duration_ms"] > 0
    assert "count" in out["translated_sql"]  # uniqExact -> count(DISTINCT
    assert "qprof_t" in out["physical_plan"] or "Scan" in out["physical_plan"]
    # a literal no other statement uses is inlined into a fresh class; the
    # exact repeat finds every class in the codegen cache
    fresh = "SELECT id * 7907 + g AS x FROM qprof_t WHERE g < 2"
    assert api.query_profile(spark, fresh)["codegen_compiles"] >= 1
    assert api.query_profile(spark, fresh)["codegen_compiles"] == 0
    bad = api.query_profile(spark, "SELECT definitely_not_a_col FROM qprof_t")
    assert not bad["success"]


def test_query_create_and_drop_view(spark):
    """CH clients create/drop views through the query endpoint; the view
    body goes through the dialect (uniqExact here) and subsequent
    queries read it."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, g string"
    ).createOrReplaceTempView("cv_src")
    out = api.query(
        spark,
        "CREATE VIEW cv_agg AS SELECT g, uniqExact(id) AS u "
        "FROM cv_src GROUP BY g",
    )
    assert out["success"] and out["view"] == "cv_agg"
    got = api.query(spark, "SELECT * FROM cv_agg ORDER BY g")
    assert got["data"] == [{"g": "a", "u": 2}, {"g": "b", "u": 1}]
    assert api.query(spark, "DROP VIEW cv_agg")["success"]
    assert not api.query(spark, "DROP VIEW cv_agg")["success"]
    assert api.query(spark, "DROP VIEW IF EXISTS cv_agg")["success"]


def test_query_routes_show_and_describe(spark):
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "x")], "id long, s string").createOrReplaceTempView(
        "meta_t"
    )
    shown = api.query(spark, "SHOW TABLES")
    # entries may be bare names or dicts depending on session contents;
    # other tests' temp views can be listed alongside meta_t
    names = {
        t if isinstance(t, str) else t.get("name")
        for t in (shown.get("tables") or [])
    }
    assert shown["success"] and ("meta_t" in names or "meta_t" in str(shown))
    desc = api.query(spark, "DESCRIBE TABLE meta_t")
    assert desc["success"] and any(
        c.get("name") == "id" for c in desc.get("columns", [])
    )
    opt = api.query(spark, "OPTIMIZE TABLE meta_t FINAL")
    assert not opt["success"] and "api.mutate" in opt["error"]


def test_query_system_tables(spark):
    """ClickHouse system-table introspection through the SQL endpoint:
    system.tables/columns from the catalog, system.one's dummy row,
    system.numbers as a lazy bounded range."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "x")], "id long, s string").createOrReplaceTempView(
        "sys_demo"
    )
    t = api.query(spark, "SELECT name, engine FROM system.tables WHERE name = 'sys_demo'")
    assert t["success"] and t["data"] == [{"name": "sys_demo", "engine": "View"}]
    c = api.query(
        spark,
        "SELECT name, type FROM system.columns WHERE table = 'sys_demo' ORDER BY name",
    )
    assert c["success"] and c["data"] == [
        {"name": "id", "type": "Nullable(Int64)"},
        {"name": "s", "type": "Nullable(String)"},
    ]
    one = api.query(spark, "SELECT dummy FROM system.one")
    assert one["success"] and one["data"] == [{"dummy": 0}]
    n = api.query(spark, "SELECT count() AS n FROM system.numbers WHERE number < 100")
    assert n["success"] and n["data"] == [{"n": 100}]


def test_query_exists_table(spark):
    """CH `EXISTS [TABLE] t` → one row, column result 0/1."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("ex_t")
    assert api.query(spark, "EXISTS TABLE ex_t")["data"] == [{"result": 1}]
    assert api.query(spark, "EXISTS ex_t")["data"] == [{"result": 1}]
    assert api.query(spark, "EXISTS TABLE no_such_t")["data"] == [{"result": 0}]


def test_query_file_table_function(spark, tmp_path):
    """file('path'[, 'Format']): flat files readable straight from SQL —
    header CSV, headerless TSV, extension defaulting, error format,
    and a join against a catalog view."""
    from clickhouse_flatfile_tool_spark import api

    csv = tmp_path / "people.csv"
    csv.write_text("id,name\n1,alice\n2,bob\n")
    tsv = tmp_path / "raw.tsv"
    tsv.write_text("1\tx\n2\ty\n")
    r = api.query(
        spark, f"SELECT name FROM file('{csv}', 'CSVWithNames') ORDER BY id"
    )
    assert r["success"] and [d["name"] for d in r["data"]] == ["alice", "bob"]
    # no format: extension default (csv -> header CSV, the reference's check)
    r2 = api.query(spark, f"SELECT count() AS n FROM file('{csv}')")
    assert r2["success"] and r2["data"] == [{"n": 2}]
    r3 = api.query(spark, f"SELECT * FROM file('{tsv}', 'TSV')")
    assert r3["success"] and r3["data"][0] == {"column_1": "1", "column_2": "x"}
    assert not api.query(spark, f"SELECT 1 FROM file('{csv}', 'Avro')")["success"]
    spark.createDataFrame([("1", 10)], "id string, score int").createOrReplaceTempView(
        "file_sc"
    )
    r4 = api.query(
        spark,
        f"SELECT f.name, s.score FROM file('{csv}', 'CSVWithNames') f "
        "JOIN file_sc s ON f.id = s.id",
    )
    assert r4["success"] and r4["data"] == [{"name": "alice", "score": 10}]


def test_query_show_create_rename_truncate_merge(spark):
    """SHOW CREATE TABLE synthesizes CH DDL from schema + engine registry;
    RENAME TABLE re-points the temp view; TRUNCATE re-registers an empty
    LIMIT 0; merge('db', regex) unions matching tables with _table."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "x")], "id long, s string").createOrReplaceTempView(
        "ddl_a"
    )
    spark.createDataFrame([(2,)], "id long").createOrReplaceTempView("ddl_b")
    sc = api.query(spark, "SHOW CREATE TABLE ddl_a")
    assert sc["success"]
    stmt = sc["data"][0]["statement"]
    assert "CREATE TABLE default.ddl_a" in stmt
    assert "`id` Nullable(Int64)" in stmt and "ENGINE = MergeTree()" in stmt
    mg = api.query(
        spark, "SELECT id, _table FROM merge('default', '^ddl_') ORDER BY id"
    )
    assert mg["success"] and mg["data"] == [
        {"id": 1, "_table": "ddl_a"},
        {"id": 2, "_table": "ddl_b"},
    ]
    assert not api.query(spark, "SELECT * FROM merge('default', '^zzz')")["success"]
    rn = api.query(spark, "RENAME TABLE ddl_b TO ddl_c")
    assert rn["success"]
    assert api.query(spark, "EXISTS ddl_b")["data"] == [{"result": 0}]
    assert api.query(spark, "EXISTS ddl_c")["data"] == [{"result": 1}]
    tr_ = api.query(spark, "TRUNCATE TABLE ddl_c")
    assert tr_["success"]
    assert api.query(spark, "SELECT count() AS n FROM ddl_c")["data"] == [{"n": 0}]


def test_query_insert_into_temp_view(spark):
    """INSERT INTO <temp view> VALUES/SELECT: the view re-registers as
    old UNION new, aligned to the target schema (partial column lists
    NULL-fill; CH functions work inside VALUES tuples)."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "x")], "id long, s string").createOrReplaceTempView(
        "insq_t"
    )
    r = api.query(spark, "INSERT INTO insq_t VALUES (2, 'y'), (3, upper('z'))")
    assert r["success"] and r["inserted"] == 2
    rows = api.query(spark, "SELECT * FROM insq_t ORDER BY id")["data"]
    assert rows == [
        {"id": 1, "s": "x"}, {"id": 2, "s": "y"}, {"id": 3, "s": "Z"},
    ]
    assert api.query(spark, "INSERT INTO insq_t (id) VALUES (9)")["inserted"] == 1
    assert api.query(spark, "SELECT s FROM insq_t WHERE id = 9")["data"] == [
        {"s": None}
    ]
    assert api.query(
        spark, "INSERT INTO insq_t SELECT id + 100, s FROM insq_t WHERE id = 1"
    )["inserted"] == 1
    assert api.query(spark, "SELECT count() AS n FROM insq_t")["data"] == [{"n": 5}]
    assert not api.query(spark, "INSERT INTO no_such VALUES (1)")["success"]
    assert not api.query(spark, "INSERT INTO insq_t (id, nope) VALUES (1, 2)")[
        "success"
    ]


def test_query_create_drop_table_ddl(spark):
    """CREATE TABLE (CH types + engine args) → INSERT → FROM t FINAL
    merge → SHOW CREATE round-trip → DROP: the full DDL lifecycle
    through the one SQL endpoint."""
    from clickhouse_flatfile_tool_spark import api

    r = api.query(
        spark,
        "CREATE TABLE ddlq_t (id Int64, price Decimal(10, 2), "
        "name Nullable(String), ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id",
    )
    assert r["success"] and r["created"]
    stmt = api.query(spark, "SHOW CREATE TABLE ddlq_t")["data"][0]["statement"]
    assert "ReplacingMergeTree" in stmt and "Decimal(10, 2)" in stmt
    assert api.query(
        spark, "INSERT INTO ddlq_t VALUES (1, 10.50, 'a', 1), (1, 11.00, 'b', 2)"
    )["inserted"] == 2
    # FINAL keeps the max-version row per key
    assert api.query(spark, "SELECT name FROM ddlq_t FINAL")["data"] == [
        {"name": "b"}
    ]
    again = api.query(
        spark,
        "CREATE TABLE IF NOT EXISTS ddlq_t (x Int8) ENGINE = MergeTree() "
        "ORDER BY tuple()",
    )
    assert again["success"] and not again["created"]
    assert api.query(spark, "DROP TABLE ddlq_t")["dropped"]
    assert not api.query(spark, "DROP TABLE ddlq_t")["success"]
    assert api.query(spark, "DROP TABLE IF EXISTS ddlq_t")["success"]


def test_query_into_outfile(spark, tmp_path):
    """SELECT … INTO OUTFILE 'path' [FORMAT X]: CH's export statement
    writes through the /download writers and round-trips via file()."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string").createOrReplaceTempView(
        "outf_t"
    )
    p = str(tmp_path / "out.csv")
    r = api.query(
        spark, f"SELECT id, upper(s) AS u FROM outf_t ORDER BY id INTO OUTFILE '{p}'"
    )
    assert r["success"] and r["rows"] == 2 and r["format"] == "csv"
    assert open(p).read().splitlines() == ["id,u", "1,X", "2,Y"]
    back = api.query(spark, f"SELECT count() AS n FROM file('{p}', 'CSVWithNames')")
    assert back["data"] == [{"n": 2}]
    bad = api.query(
        spark, f"SELECT id FROM outf_t INTO OUTFILE '{tmp_path}/x' FORMAT Native"
    )
    assert not bad["success"]


def test_query_explain_and_use_routing(spark):
    """EXPLAIN [variant] routes to the pre-flight plan endpoint; EXPLAIN
    SYNTAX returns the translated SQL (CH's rewritten-query view); USE
    no-ops in the single-database session."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("expl_t")
    r = api.query(spark, "EXPLAIN SELECT uniqExact(id) FROM expl_t")
    assert r["success"] and "Physical Plan" in r["plan"]
    syn = api.query(spark, "EXPLAIN SYNTAX SELECT uniqExact(id) FROM expl_t")
    assert syn["data"] == [{"explain": "SELECT count(DISTINCT id) FROM expl_t"}]
    assert api.query(spark, "EXPLAIN PIPELINE SELECT id FROM expl_t")["success"]
    assert api.query(spark, "USE default")["success"]


def test_query_system_databases(spark):
    from clickhouse_flatfile_tool_spark import api

    r = api.query(spark, "SELECT name FROM system.databases")
    assert r["success"] and {d["name"] for d in r["data"]} >= {"default"}


def test_query_generate_random(spark):
    """generateRandom('schema'[, seed]): typed deterministic pseudo-random
    columns; same seed → same rows, different seed → different rows."""
    from clickhouse_flatfile_tool_spark import api

    r = api.query(
        spark,
        "SELECT * FROM generateRandom("
        "'id Int64, score Float64, name String, d Date', 7) LIMIT 3",
    )
    assert r["success"] and len(r["data"]) == 3
    row = r["data"][0]
    assert isinstance(row["id"], int) and isinstance(row["score"], float)
    assert isinstance(row["name"], str)
    a = api.query(spark, "SELECT id FROM generateRandom('id Int64', 7) LIMIT 2")
    b = api.query(spark, "SELECT id FROM generateRandom('id Int64', 7) LIMIT 2")
    c = api.query(spark, "SELECT id FROM generateRandom('id Int64', 8) LIMIT 2")
    assert a["data"] == b["data"] and a["data"] != c["data"]


def test_query_create_table_as_select(spark):
    """CTAS: CREATE TABLE t ENGINE = X() [ORDER BY k] AS SELECT … — the
    SELECT goes through the dialect, the engine registers, SHOW CREATE
    reflects the derived schema."""
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").createOrReplaceTempView(
        "ctas_src_t"
    )
    r = api.query(
        spark,
        "CREATE TABLE ctas_tt ENGINE = MergeTree() ORDER BY id "
        "AS SELECT id, upper(s) AS u FROM ctas_src_t",
    )
    assert r["success"] and r["created"] and r["rows"] == 2
    assert api.query(spark, "SELECT * FROM ctas_tt ORDER BY id")["data"] == [
        {"id": 1, "u": "A"}, {"id": 2, "u": "B"},
    ]
    stmt = api.query(spark, "SHOW CREATE TABLE ctas_tt")["data"][0]["statement"]
    assert "`u` Nullable(String)" in stmt and "ORDER BY (id)" in stmt
    assert api.query(spark, "DROP TABLE ctas_tt")["dropped"]


def test_sql_endpoint_full_lifecycle(spark, tmp_path):
    """The reference user's full day through ONE SQL endpoint: CREATE a
    MergeTree table, INSERT literals, bulk-ingest a flat file via
    INSERT-SELECT-from-file(), join it in CH dialect, export with INTO
    OUTFILE, read the export back with file(), introspect with
    system.columns/SHOW CREATE, and DROP."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    csv = tmp_path / "orders.csv"
    csv.write_text("uid,amount\n1,10\n2,20\n1,5\n")
    assert q(
        "CREATE TABLE lc_users (uid Int64, name String) "
        "ENGINE = MergeTree() ORDER BY uid"
    )["created"]
    assert q("INSERT INTO lc_users VALUES (1, 'alice'), (2, 'bob')")["inserted"] == 2
    assert q(
        "CREATE TABLE lc_orders ENGINE = MergeTree() ORDER BY uid AS "
        f"SELECT toInt64(uid) AS uid, toFloat64(amount) AS amount "
        f"FROM file('{csv}', 'CSVWithNames')"
    )["rows"] == 3
    joined = q(
        "SELECT u.name, sumIf(o.amount, o.amount > 6) AS big_total, "
        "uniqExact(o.amount) AS n "
        "FROM lc_users u JOIN lc_orders o ON u.uid = o.uid "
        "GROUP BY u.name ORDER BY u.name"
    )
    assert joined["data"] == [
        {"name": "alice", "big_total": 10.0, "n": 2},
        {"name": "bob", "big_total": 20.0, "n": 1},
    ]
    out = tmp_path / "report.csv"
    assert q(
        "SELECT u.name, count() AS orders FROM lc_users u "
        "JOIN lc_orders o ON u.uid = o.uid GROUP BY u.name "
        f"ORDER BY u.name INTO OUTFILE '{out}'"
    )["rows"] == 2
    back = q(f"SELECT count() AS n FROM file('{out}', 'CSVWithNames')")
    assert back["data"] == [{"n": 2}]
    cols = q("SELECT name, type FROM system.columns WHERE table = 'lc_orders' ORDER BY name")
    assert {c["name"] for c in cols["data"]} == {"uid", "amount"}
    assert "MergeTree" in q("SHOW CREATE TABLE lc_users")["data"][0]["statement"]
    assert q("DROP TABLE lc_users")["dropped"] and q("DROP TABLE lc_orders")["dropped"]


def test_query_optimize_final_session_table(spark):
    """OPTIMIZE TABLE t FINAL on a registered-engine SESSION table merges
    in place (plain SELECTs then read merged rows); unregistered tables
    keep the api.mutate redirect."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    q(
        "CREATE TABLE optf_t (id Int64, v Float64, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id"
    )
    q("INSERT INTO optf_t VALUES (1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)")
    assert q("SELECT count() AS n FROM optf_t")["data"] == [{"n": 3}]
    r = q("OPTIMIZE TABLE optf_t FINAL")
    assert r["success"] and r["rows_after_merge"] == 2
    assert q("SELECT id, v FROM optf_t ORDER BY id")["data"] == [
        {"id": 1, "v": 20.0}, {"id": 2, "v": 5.0},
    ]
    q("DROP TABLE optf_t")
    spark.createDataFrame([(1,)], "id long").createOrReplaceTempView("optf_u")
    assert not q("OPTIMIZE TABLE optf_u FINAL")["success"]


def test_query_no_double_execution_on_commands(spark):
    """The dialect's analysis probe must never EXECUTE a statement:
    spark.sql is eager for commands, so an unguarded probe ran INSERT INTO
    <permanent table> twice and made unrouted DDL 'already exist' on the
    real run (ADVICE r4, high)."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    spark.sql("DROP TABLE IF EXISTS perm_dbl_t")
    spark.sql("CREATE TABLE perm_dbl_t (id BIGINT, s STRING) USING parquet")
    try:
        r = q("INSERT INTO perm_dbl_t VALUES (1, 'a')")
        assert r["success"], r
        n = spark.table("perm_dbl_t").count()
        assert n == 1, f"probe double-executed the INSERT: {n} rows"
        # unrouted DDL (plain CTAS, no ENGINE clause): must succeed once,
        # not create-in-the-probe then fail 'already exists' for real
        spark.sql("DROP TABLE IF EXISTS perm_dbl_ctas")
        r2 = q("CREATE TABLE perm_dbl_ctas AS SELECT 42 AS x")
        assert r2["success"], r2
        assert spark.table("perm_dbl_ctas").count() == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS perm_dbl_t")
        spark.sql("DROP TABLE IF EXISTS perm_dbl_ctas")


def test_query_rename_moves_engine_registry(spark):
    """RENAME TABLE carries the mergetree engine registration to the new
    name (FINAL / OPTIMIZE / SHOW CREATE keep working) and refuses
    non-temp-view sources instead of silently aliasing (ADVICE r4)."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    q(
        "CREATE TABLE ren_src (id Int64, v Float64, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id"
    )
    q("INSERT INTO ren_src VALUES (1, 10.0, 1), (1, 20.0, 2)")
    assert q("RENAME TABLE ren_src TO ren_dst")["success"]
    assert "ReplacingMergeTree" in q("SHOW CREATE TABLE ren_dst")["data"][0][
        "statement"
    ]
    assert q("SELECT v FROM ren_dst FINAL")["data"] == [{"v": 20.0}]
    assert q("DROP TABLE ren_dst")["dropped"]
    # permanent tables refuse (dropTempView would silently no-op and the
    # data would stay visible under both names)
    spark.sql("DROP TABLE IF EXISTS ren_perm")
    spark.sql("CREATE TABLE ren_perm (id BIGINT) USING parquet")
    try:
        r = q("RENAME TABLE ren_perm TO ren_perm2")
        assert not r["success"]
    finally:
        spark.sql("DROP TABLE IF EXISTS ren_perm")


def test_query_table_function_names_inside_literals(spark):
    """Table-function and system-table rewrites skip matches inside string
    literals: SELECT 'system.one' returns the literal verbatim, and a
    literal containing file(...) is not read or rewritten (ADVICE r4)."""
    from clickhouse_flatfile_tool_spark import api

    r = api.query(spark, "SELECT 'system.one' AS s")
    assert r["success"] and r["data"] == [{"s": "system.one"}]
    # real references outside literals still materialize
    r2 = api.query(spark, "SELECT 'x' AS s, dummy FROM system.one")
    assert r2["success"] and r2["data"] == [{"s": "x", "dummy": 0}]
    r3 = api.query(
        spark,
        "SELECT 'see file(no_such.csv) and system.numbers here' AS note",
    )
    assert r3["success"]
    assert r3["data"][0]["note"].startswith("see file(")


def test_create_dictionary_and_dictget(spark):
    """CREATE DICTIONARY registers the source table for dictGet*/dictHas
    (correlated scalar subqueries -> decorrelated joins) and aliases a
    dictionary-as-table view; DROP DICTIONARY unregisters both."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    spark.createDataFrame(
        [(1, "alice", 10), (2, "bob", 20)], "uid long, name string, nk long"
    ).createOrReplaceTempView("dict_src")
    r = q(
        "CREATE DICTIONARY user_dict (uid UInt64, name String, nk Int64) "
        "PRIMARY KEY uid SOURCE(CLICKHOUSE(TABLE 'dict_src')) "
        "LAYOUT(FLAT()) LIFETIME(300)"
    )
    assert r["success"] and r["created"]
    # dictionary-as-table read
    assert q("SELECT count() AS n FROM user_dict")["data"] == [{"n": 2}]
    # introspection via system.dictionaries
    sd = q(
        "SELECT name, source, key FROM system.dictionaries "
        "WHERE name = 'user_dict'"
    )["data"]
    assert sd == [{"name": "user_dict", "source": "dict_src", "key": "uid"}]
    spark.createDataFrame(
        [(100, 1), (200, 2), (300, 9)], "oid long, fk long"
    ).createOrReplaceTempView("dict_fact")
    rows = q(
        "SELECT oid, dictGet('user_dict', 'name', fk) AS nm, "
        "dictGetOrDefault('user_dict', 'name', fk, 'UNK') AS nmd, "
        "dictHas('user_dict', fk) AS h "
        "FROM dict_fact ORDER BY oid"
    )["data"]
    assert rows == [
        {"oid": 100, "nm": "alice", "nmd": "alice", "h": True},
        {"oid": 200, "nm": "bob", "nmd": "bob", "h": True},
        {"oid": 300, "nm": None, "nmd": "UNK", "h": False},
    ]
    # CH maintenance statements no-op (dictionaries are live views)
    assert q("SYSTEM RELOAD DICTIONARIES")["success"]
    assert q("SYSTEM RELOAD DICTIONARY user_dict")["success"]
    assert q("SYSTEM FLUSH LOGS")["success"]
    assert q("DROP DICTIONARY user_dict")["dropped"]
    # rewrites no longer fire -> Spark errors by name
    assert not q("SELECT dictGet('user_dict', 'name', 1) AS x")["success"]
    assert not q("DROP DICTIONARY user_dict")["success"]
    q("DROP TABLE IF EXISTS dict_src")


def test_dictget_shared_key_column_name(spark):
    """The canonical CH pattern: the FACT table's probe column has the
    SAME name as the dictionary's key column (dictHas('d', user_id) with
    PRIMARY KEY user_id).  The rewrite must rename the dictionary side
    (derived table -> __dk/__dv) or the inner scope captures the probe
    column and the predicate becomes a tautology (r5 ADVICE, high)."""
    from clickhouse_flatfile_tool_spark import api

    q = lambda s: api.query(spark, s)  # noqa: E731
    spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    ).createOrReplaceTempView("tier_src")
    assert q(
        "CREATE DICTIONARY tier_dict (user_id UInt64, tier String) "
        "PRIMARY KEY user_id SOURCE(CLICKHOUSE(TABLE 'tier_src')) "
        "LAYOUT(FLAT()) LIFETIME(300)"
    )["success"]
    spark.createDataFrame(
        [(1,), (2,), (7,)], "user_id long"
    ).createOrReplaceTempView("tier_fact")
    rows = q(
        "SELECT user_id, dictGet('tier_dict', 'tier', user_id) AS t, "
        "dictGetOrDefault('tier_dict', 'tier', user_id, 'none') AS td, "
        "dictHas('tier_dict', user_id) AS h "
        "FROM tier_fact ORDER BY user_id"
    )["data"]
    assert rows == [
        {"user_id": 1, "t": "gold", "td": "gold", "h": True},
        {"user_id": 2, "t": "silver", "td": "silver", "h": True},
        {"user_id": 7, "t": None, "td": "none", "h": False},
    ]
    assert q("DROP DICTIONARY tier_dict")["dropped"]
    q("DROP TABLE IF EXISTS tier_src")


def test_drop_dictionary_if_exists_spares_unrelated_view(spark):
    """DROP DICTIONARY IF EXISTS <name> on a name that was never a
    dictionary must NOT delete a same-named temp view (r5 ADVICE,
    medium: the old path dropped it unconditionally)."""
    from clickhouse_flatfile_tool_spark import api

    spark.range(3).createOrReplaceTempView("not_a_dict")
    r = api.query(spark, "DROP DICTIONARY IF EXISTS not_a_dict")
    assert r["success"] and not r["dropped"]
    assert spark.table("not_a_dict").count() == 3
    spark.catalog.dropTempView("not_a_dict")


_FRONT_ENDS = {
    "query": api.query,
    "explain": api.explain,
    "query_profile": api.query_profile,
    "query_explain": lambda spark, sql: api.query(spark, "EXPLAIN " + sql),
}


@pytest.mark.parametrize("endpoint", list(_FRONT_ENDS))
def test_endpoints_share_one_statement_front_end(spark, tmp_path, endpoint):
    """query, explain, query_profile and query('EXPLAIN …') prepare a
    statement the same way: file() reads, system.one, FROM t FINAL on a
    table registered right here (no earlier query made its __final view)
    and a projection-routed aggregate all work through every one of them."""
    run = _FRONT_ENDS[endpoint]
    csv = tmp_path / "fe.csv"
    csv.write_text("id,name\n1,a\n2,b\n")
    t, p = f"fe_final_{endpoint}", f"fe_proj_{endpoint}"
    assert api.query(
        spark,
        f"CREATE TABLE {t} (id Int64, v Float64, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id",
    )["success"]
    api.query(spark, f"INSERT INTO {t} VALUES (1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)")
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 4.0)], "g string, v double"
    ).createOrReplaceTempView(p)
    api.add_projection(
        spark, f"ALTER TABLE {p} ADD PROJECTION pg (SELECT g, sum(v) GROUP BY g)"
    )
    agg = f"SELECT g, sum(v) AS s FROM {p} GROUP BY g ORDER BY g"
    expected = {
        f"SELECT count() AS n FROM file('{csv}')": [{"n": 2}],
        "SELECT 1 AS a FROM system.one": [{"a": 1}],
        f"SELECT id, v FROM {t} FINAL ORDER BY id": [
            {"id": 1, "v": 20.0}, {"id": 2, "v": 5.0},
        ],
        agg: [{"g": "a", "s": 3.0}, {"g": "b", "s": 4.0}],
    }
    try:
        for sql, rows in expected.items():
            out = run(spark, sql)
            assert out["success"], (sql, out)
            if endpoint == "query":
                assert out["data"] == rows, sql
            elif endpoint == "query_profile":
                assert out["result_rows"] == len(rows), sql
            else:
                assert "Physical Plan" in out["plan"], sql
        if endpoint == "query_profile":
            routed = api.query(spark, agg)
            assert routed["used_projection"] == "pg"
            assert run(spark, agg)["result_rows"] == len(routed["data"])
    finally:
        api._PROJECTION_SETS.pop(p, None)
        api.query(spark, f"DROP TABLE IF EXISTS {t}")


def test_final_inside_view_ctas_insert_and_outfile(spark, tmp_path):
    """FROM t FINAL inside CREATE VIEW, CTAS, INSERT … SELECT and
    SELECT … INTO OUTFILE reads the table's current post-merge state,
    including rows inserted after an earlier FINAL read."""
    q = lambda s: api.query(spark, s)  # noqa: E731
    q(
        "CREATE TABLE fin_src (id Int64, v Float64, ver UInt32) "
        "ENGINE = ReplacingMergeTree(ver) ORDER BY id"
    )
    q("INSERT INTO fin_src VALUES (1, 10.0, 1), (1, 20.0, 2), (2, 5.0, 1)")
    merged = [{"id": 1, "v": 20.0}, {"id": 2, "v": 5.0}]
    try:
        assert q("CREATE VIEW fin_v AS SELECT id, v FROM fin_src FINAL")["success"]
        assert q("SELECT id, v FROM fin_v ORDER BY id")["data"] == merged
        r = q(
            "CREATE TABLE fin_ctas ENGINE = MergeTree() ORDER BY id "
            "AS SELECT id, v FROM fin_src FINAL"
        )
        assert r["success"] and r["rows"] == 2, r
        q("CREATE TABLE fin_dst (id Int64, v Float64) ENGINE = MergeTree() ORDER BY id")
        r = q("INSERT INTO fin_dst SELECT id, v FROM fin_src FINAL")
        assert r["success"] and r["inserted"] == 2, r
        out = tmp_path / "fin.csv"
        r = q(f"SELECT id, v FROM fin_src FINAL ORDER BY id INTO OUTFILE '{out}'")
        assert r["success"] and r["rows"] == 2, r
        assert out.read_text().splitlines() == ["id,v", "1,20.0", "2,5.0"]
        # a later insert reaches the next FINAL read: no stale __final view
        q("INSERT INTO fin_src VALUES (2, 7.0, 2)")
        assert q("CREATE VIEW fin_v2 AS SELECT id, v FROM fin_src FINAL")["success"]
        assert q("SELECT v FROM fin_v2 WHERE id = 2")["data"] == [{"v": 7.0}]
    finally:
        for t in ("fin_src", "fin_ctas", "fin_dst"):
            q(f"DROP TABLE IF EXISTS {t}")
        for v in ("fin_v", "fin_v2"):
            q(f"DROP VIEW IF EXISTS {v}")
