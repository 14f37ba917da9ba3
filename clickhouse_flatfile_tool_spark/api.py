"""Endpoint-shaped façade: one Python function per reference HTTP endpoint,
same request/response shapes, Spark underneath (SURVEY §3).

Reference endpoints → functions:
  * POST /connect        (server.js:93-196)  → :func:`connect`
  * POST /columns        (server.js:199-370) → :func:`columns`
  * POST /preview        (server.js:426-527) → :func:`preview`
  * POST /ingest         (server.js:530-735) → :func:`ingest`
  * GET  /download       (server.js:373-423) → :func:`download`
  * GET  /joinable-tables, /join-columns (server.js:738-814) → :func:`joinable_tables`
  * POST /execute-join   (server.js:817-866) → :func:`execute_join`

Responses follow the reference's ``{"success": bool, ...}`` envelope.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.dialect import (
    _split_top_comma,
    bind_parameters,
    drop_dictionary,
    drop_join_table,
    final_tables,
    register_dictionary,
    register_join_table,
    translate_clickhouse_sql,
)
from clickhouse_flatfile_tool_spark.operators import mergetree, relational
from clickhouse_flatfile_tool_spark.progress import ProgressTracker, error_payload
from clickhouse_flatfile_tool_spark.schema import resolve_csv_schema
from clickhouse_flatfile_tool_spark.sinks.writers import (
    append_table,
    bootstrap_sample_data,
    create_table_if_absent,
    export_csv,
)
from clickhouse_flatfile_tool_spark.sources.catalog import describe_table, list_tables, ping
from clickhouse_flatfile_tool_spark.sources.files import read_csv


def connect(spark: SparkSession, bootstrap: bool = True) -> dict:
    """/connect: health check + table list; bootstraps the 5-row sample table
    when the catalog is empty (server.js:147-179)."""
    try:
        if not ping(spark):
            return {"success": False, "error": "spark session unhealthy"}
        tables = list_tables(spark)
        if bootstrap and not tables:
            bootstrap_sample_data(spark)
            tables = list_tables(spark)
        return {"success": True, "tables": tables}
    except Exception as e:  # noqa: BLE001 — API boundary (server.js:185-192)
        return error_payload(e)


def columns(spark: SparkSession, source: str, table_or_path: str) -> dict:
    """/columns: schema resolution for either side (server.js:199-370)."""
    try:
        if source == "clickhouse":  # catalog table in our engine
            cols = describe_table(spark, table_or_path)
        else:
            with open(table_or_path, encoding="utf-8", errors="replace") as fh:
                first = fh.readline()
            resolved = resolve_csv_schema(os.path.basename(table_or_path), first)
            cols = [{"name": f.name, "type": "String"} for f in resolved.schema.fields]
        return {"success": True, "columns": cols}
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def preview(
    spark: SparkSession,
    source: str,
    table_or_path: str,
    selected_columns: list[str] | None = None,
    page: int = 1,
    page_size: int = relational.DEFAULT_PAGE_SIZE,
    order_by: list[str] | None = None,
) -> dict:
    """/preview: paginated, projected read with count metadata
    (server.js:426-527).  Deterministic: pages are ordered by ``order_by``
    (default: all projected columns).  ``pagination.total`` is counted
    once per table or file and reused by later pages and column choices
    until the source changes (:func:`relational.count_rows`)."""
    try:
        if source == "clickhouse":
            df = spark.table(table_or_path)
        else:
            df, _ = read_csv(spark, table_or_path)
        cols = selected_columns or df.columns
        keys = order_by or cols
        page_df, meta = relational.preview(df, cols, keys, page, page_size)
        return {
            "success": True,
            "data": [r.asDict() for r in page_df.collect()],
            "pagination": {
                "total": meta.total,
                "page": meta.page,
                "pageSize": meta.page_size,
                "totalPages": meta.total_pages,
            },
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def ingest(
    spark: SparkSession,
    source: str,
    table_or_path: str,
    target_table: str,
    selected_columns: list[str] | None = None,
    progress: ProgressTracker | None = None,
) -> dict:
    """/ingest: bulk load file→table or table→table (server.js:530-735).

    One distributed read + one partitioned write — no LIMIT/OFFSET paging
    loop (the reference's O(n²) pattern, SURVEY §2.11).
    """
    try:
        if source == "clickhouse":
            df = spark.table(table_or_path)
        else:
            df, _ = read_csv(spark, table_or_path)
        if selected_columns:
            df = df.select(*selected_columns)
        create_table_if_absent(df.limit(0), target_table)
        count = append_table(df, target_table)
        if progress:
            progress.total = count
            progress.update(count)
            progress.finish(True, f"ingested {count} rows")
        return {"success": True, "count": count, "message": f"ingested {count} rows"}
    except Exception as e:  # noqa: BLE001
        if progress:
            progress.finish(False, str(e))
        return error_payload(e)


def download(
    spark: SparkSession, table: str, out_path: str, fmt: str = "csv"
) -> dict:
    """/download: full-table export (server.js:373-423 — the reference is
    CSV-only; ``fmt`` adds the other formats ClickHouse itself would
    serve: ``jsonl`` (JSONEachRow, its default wire format), ``parquet``,
    and ``orc``)."""
    try:
        df = spark.table(table)
        if fmt == "csv":
            export_csv(df, out_path, single_file=True)
        elif fmt == "jsonl":
            from clickhouse_flatfile_tool_spark.sources.files import write_jsonl

            write_jsonl(df, out_path)
        elif fmt == "parquet":
            df.write.mode("overwrite").parquet(out_path)
        elif fmt == "orc":
            df.write.mode("overwrite").orc(out_path)
        else:
            raise ValueError(f"unknown download format: {fmt!r}")
        return {"success": True, "path": out_path, "format": fmt}
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def explain(spark: SparkSession, sql: str, mode: str = "formatted") -> dict:
    """/explain: translate a ClickHouse-dialect statement and return
    Spark's physical plan WITHOUT executing it — the pre-flight check a
    user runs before pointing a query at 100 TB (does the filter push
    down? did the dimension broadcast?).  ClickHouse's own EXPLAIN
    family is the parity surface."""
    try:
        return _explain_prepared(spark, _prepare(spark, sql), mode)
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def _explain_prepared(
    spark: SparkSession, sql: str, mode: str = "formatted"
) -> dict:
    """:func:`explain`'s body for a statement :func:`_prepare` has already
    seen (``query``'s EXPLAIN route)."""
    from clickhouse_flatfile_tool_spark.plans import explain_str

    df, translated, _ = _select_frame(spark, sql)
    return {
        "success": True,
        "translated_sql": translated,
        "plan": explain_str(df, mode=mode),
    }


def joinable_tables(spark: SparkSession) -> dict:
    """/joinable-tables + /join-columns (server.js:738-814): tables, their
    columns, and suggested join keys."""
    try:
        tables = list_tables(spark)
        schemas = {
            t: [(f["name"], f["type"]) for f in describe_table(spark, t)] for t in tables
        }
        return {
            "success": True,
            "tables": schemas,
            "suggestions": relational.join_candidates(schemas),
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def join_columns(spark: SparkSession, tables: list[str]) -> dict:
    """/join-columns (server.js:774-814): column lists for exactly the
    user-selected join tables (the reference loops DESCRIBE per table; here
    each describe is a catalog lookup, no query)."""
    try:
        return {
            "success": True,
            "columns": {t: describe_table(spark, t) for t in tables},
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def execute_join(
    spark: SparkSession,
    tables: list[str],
    join_conditions: list[str],
    selected_columns: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """/execute-join (server.js:817-866): left-deep chained join.

    Returns a *lazy* DataFrame instead of materializing every row in server
    memory (the reference collects the whole result, SURVEY §2.11 /
    BASELINE.md (b)); callers page or write it.
    """
    dfs = [spark.table(t) for t in tables]
    joined = relational.chain_join(dfs, join_conditions, how=how)
    return relational.project(joined, selected_columns)


_STATE_KINDS = {"sum": "sum", "min": "min", "max": "max",
                "count": "count", "uniq": "hll"}


def _create_materialized_view(
    spark: SparkSession, name: str, engine: str, order_by: str | None,
    body: str,
) -> dict:
    """``CREATE MATERIALIZED VIEW mv ENGINE = AggregatingMergeTree()
    ORDER BY (k…) AS SELECT …`` through the SQL endpoint: the body runs
    through the dialect (``uniqState`` → HLL sketch via the -State
    mapping), materializes as a temp view, and the declared engine
    registers with the mergetree registry so ``FROM mv FINAL`` resolves.
    The ``state_map`` infers from ``<kind>State(… ) AS alias`` in the
    body (sum/min/max/count states ARE their partial values in the
    Spark analog; ``uniqState`` is an HLL sketch binary).  SummingMerge-
    Tree registers its aggregate aliases as sum columns."""
    states = {
        alias: _STATE_KINDS[kind.lower()]
        for kind, alias in re.findall(
            r"(?is)\b(sum|min|max|count|uniq)State\s*\([^)]*\)\s+AS\s+(\w+)",
            body,
        )
    }
    # sum/min/max/countState have no dialect mapping of their own (the
    # partial value IS the state here) — strip the suffix before translate
    plain = re.sub(r"(?i)\b(sum|min|max|count)State\(", r"\1(", body)
    df = spark.sql(translate_clickhouse_sql(plain, spark=spark))
    df.createOrReplaceTempView(name)
    keys = [k.strip() for k in order_by.split(",")] if order_by else [
        c for c in df.columns if c not in states
    ]
    if engine == "AggregatingMergeTree":
        mergetree.register_table_engine(
            name, engine, keys, state_map=states or None
        )
    elif engine == "SummingMergeTree":
        sums = list(states) or [c for c in df.columns if c not in keys]
        mergetree.register_table_engine(name, engine, keys, sum_cols=sums)
    elif engine in ("MergeTree", "ReplacingMergeTree"):
        mergetree.register_table_engine(
            name, engine, keys,
            version_cols=[c for c in df.columns if c not in keys][:1]
            if engine == "ReplacingMergeTree" else None,
        )
    else:
        raise ValueError(f"unsupported MV engine {engine!r}")
    return {
        "success": True,
        "view": name,
        "engine": engine,
        "keys": keys,
        "states": states,
    }


def _prepare(
    spark: SparkSession, sql: str, params: dict | None = None
) -> str:
    """The statement front end every SQL endpoint shares (``query`` before
    any route, ``explain``, ``query_profile``): bind ClickHouse
    ``{name:Type}`` query parameters (the ``param_p=`` HTTP convention —
    typed-literal substitution, injection-safe), point the table
    functions (``file``, ``generateRandom``, ``merge``) and ``system.*``
    references at session temp views, and materialize ``<t>__final`` for
    every ``FROM t FINAL`` — the post-merge view from the table's
    registered engine (ClickHouse's read-time merge, one hash agg per
    table) that the dialect rewrite points the statement at."""
    if params:
        sql = bind_parameters(sql, params)
    for materialize in (
        _materialize_file_calls,
        _materialize_generate_random,
        _materialize_merge_calls,
        _materialize_system_tables,
    ):
        sql = materialize(spark, sql)
    for t in final_tables(sql):
        mergetree.final_read(spark, t).createOrReplaceTempView(f"{t}__final")
    return sql


def _select_frame(
    spark: SparkSession, sql: str
) -> tuple[DataFrame, str | None, str | None]:
    """A prepared query's DataFrame as ``(df, translated SQL, projection
    used)``.  optimize_use_projections first: a plain grouped aggregate
    over a table with a matching registered projection reads the cells,
    not the scan (the rewrite ClickHouse's optimizer does per part; no
    translated SQL then); otherwise the dialect translation runs on
    Spark."""
    routed = _try_projection_route(sql)
    if routed is not None:
        return routed[0], None, routed[1]
    translated = translate_clickhouse_sql(sql, spark=spark)
    return spark.sql(translated), translated, None


def query(
    spark: SparkSession,
    sql: str,
    page: int = 1,
    page_size: int = relational.DEFAULT_PAGE_SIZE,
    params: dict | None = None,
) -> dict:
    """Run ClickHouse-dialect SQL against the session catalog — the analog
    of the reference delegating user SQL strings to ClickHouse over HTTP
    (every endpoint builds ClickHouse SQL, e.g. server.js:444-470): the
    statement goes through ``dialect.translate_clickhouse_sql`` and
    executes on Spark.  Results are page-clamped like ``preview`` so the
    driver never materializes an unbounded result (the reference collects
    everything, SURVEY §2.11)."""
    try:
        # prepared FIRST so every later route (INSERT bodies, CTAS, views,
        # EXPLAIN, INTO OUTFILE, plain SELECTs) sees the same statement
        sql = _prepare(spark, sql, params)
        # DDL routing — ClickHouse clients send everything through one
        # endpoint: ADD PROJECTION executes here (it only needs the
        # catalog); mutations/TTL need a storage path, so the error says
        # which endpoint owns them instead of surfacing a parse failure
        if re.match(r"(?is)^\s*ALTER\s+TABLE\s+\S+\s+ADD\s+PROJECTION\b", sql):
            return add_projection(spark, sql)
        mv = re.match(
            r"(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+"
            r"ENGINE\s*=\s*(\w+)(?:\(\))?\s*"
            r"(?:ORDER\s+BY\s+\(?([\w\s,]+?)\)?\s+)?"
            r"AS\s+(.+?)\s*;?\s*$",
            sql,
        )
        if mv:
            return _create_materialized_view(spark, *mv.groups())
        vm = re.match(
            r"(?is)^\s*CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.+?)\s*;?\s*$",
            sql,
        )
        if vm:
            name, body = vm.groups()
            spark.sql(
                translate_clickhouse_sql(body, spark=spark)
            ).createOrReplaceTempView(name)
            return {"success": True, "view": name}
        dm = re.match(
            r"(?is)^\s*DROP\s+VIEW\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", sql
        )
        if dm:
            existed = spark.catalog.dropTempView(dm.group(2))
            if not existed and not dm.group(1):
                raise ValueError(f"view {dm.group(2)!r} does not exist")
            return {"success": True, "view": dm.group(2), "dropped": existed}
        opt = re.match(
            r"(?is)^\s*OPTIMIZE\s+TABLE\s+(\w+)\s+FINAL\s*;?\s*$", sql
        )
        if opt and opt.group(1).lower() in mergetree._ENGINE_REGISTRY:
            # registered-engine SESSION tables merge in place: the view
            # re-registers as its post-merge state, so subsequent plain
            # SELECTs (no FINAL) read merged rows — exactly what CH's
            # unscheduled merge does.  Storage-backed tables still go
            # through api.mutate below.
            t = opt.group(1)
            merged = mergetree.final_read(spark, t)
            n = merged.count()
            merged.createOrReplaceTempView(t)
            return {"success": True, "table": t, "rows_after_merge": n}
        if re.search(
            r"(?is)^\s*(ALTER\s+TABLE\s+\S+\s+(UPDATE|DELETE|MODIFY\s+TTL)"
            r"|OPTIMIZE\s+TABLE)\b",
            sql,
        ):
            return error_payload(
                ValueError(
                    "mutations/TTL/OPTIMIZE rewrite storage — call "
                    "api.mutate(spark, path, sql) with the table's "
                    "parquet path"
                )
            )
        if re.match(r"(?is)^\s*SHOW\s+TABLES\s*;?\s*$", sql):
            return joinable_tables(spark)
        em = re.match(r"(?is)^\s*EXISTS\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", sql)
        if em:
            # CH `EXISTS [TABLE] t` → one row, column `result` 0/1
            exists = int(spark.catalog.tableExists(em.group(1)))
            return {"success": True, "data": [{"result": exists}]}
        im = re.match(
            r"(?is)^\s*INSERT\s+INTO\s+(?:TABLE\s+)?(\w+)\s*"
            r"(\(\s*[\w\s,`]+?\s*\))?\s*(VALUES\s*.+|SELECT\s+.+)$",
            sql,
        )
        if im:
            # temp views (and missing tables, for the clean error) route
            # to the view-rebuild path; PERMANENT tables fall through to
            # Spark's own INSERT INTO support below
            target_is_permanent = any(
                t.name == im.group(1) and not t.isTemporary
                for t in spark.catalog.listTables()
            )
            if not target_is_permanent:
                return _insert_into_view(spark, *im.groups())
        ex = re.match(
            r"(?is)^\s*EXPLAIN(?:\s+(AST|SYNTAX|PLAN|PIPELINE|ESTIMATE))?"
            r"\s+(SELECT\b.*|WITH\b.*)$",
            sql,
        )
        if ex:
            # CH's EXPLAIN variants all answer "what will run" — map AST/
            # PLAN/PIPELINE/ESTIMATE to the pre-flight /explain body
            # (formatted physical plan; the statement is already
            # prepared); SYNTAX returns the translated SQL, CH's
            # rewritten-query semantics
            if (ex.group(1) or "").upper() == "SYNTAX":
                return {
                    "success": True,
                    "data": [
                        {
                            "explain": translate_clickhouse_sql(
                                ex.group(2), spark=spark
                            )
                        }
                    ],
                }
            return _explain_prepared(spark, ex.group(2))
        if re.match(r"(?is)^\s*USE\s+\w+\s*;?\s*$", sql):
            # single-database session (the reference's `database` param
            # selects one DB per connection) — accept and no-op
            return {"success": True}
        sy = re.match(
            r"(?is)^\s*SYSTEM\s+(RELOAD\s+DICTIONAR(?:Y\s+\w+|IES)"
            r"|FLUSH\s+LOGS|DROP\s+\w*\s*CACHE)\s*;?\s*$",
            sql,
        )
        if sy:
            # ClickHouse maintenance statements CH clients fire routinely:
            # dictionaries here are live views (always fresh), logs/caches
            # are Spark-managed — accepted as no-ops so client scripts run
            return {"success": True, "statement": " ".join(sy.group(1).split())}
        om = re.search(
            r"(?is)\bINTO\s+OUTFILE\s+'([^']+)'\s*"
            r"(?:FORMAT\s+(\w+))?\s*;?\s*$",
            sql,
        )
        if om:
            # SELECT … INTO OUTFILE 'path' [FORMAT X] — CH's export
            # statement: run the query (sans the OUTFILE tail) and write
            # through the /download writers.  CSVWithNames is CH's
            # default OUTFILE format for .csv; JSONEachRow/Parquet map
            # to the matching writers.
            out_path, fmt_name = om.group(1), (om.group(2) or "").lower()
            inner = sql[: om.start()].strip()
            fmt = {
                "": "csv",
                "csv": "csv",
                "csvwithnames": "csv",
                "tabseparated": "csv",
                "tabseparatedwithnames": "csv",
                "jsoneachrow": "jsonl",
                "parquet": "parquet",
                "orc": "orc",
            }.get(fmt_name)
            if fmt is None:
                raise ValueError(
                    f"INTO OUTFILE: unsupported FORMAT {om.group(2)!r}"
                )
            df = spark.sql(translate_clickhouse_sql(inner, spark=spark))
            df.createOrReplaceTempView("__outfile_src")
            out = download(spark, "__outfile_src", out_path, fmt=fmt)
            if out.get("success"):
                out["rows"] = spark.table("__outfile_src").count()
            spark.catalog.dropTempView("__outfile_src")
            return out
        cd = re.match(
            r"(?is)^\s*CREATE\s+DICTIONARY\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
            r"\((.*?)\)\s*PRIMARY\s+KEY\s+(\w+)\s+"
            r"SOURCE\s*\(\s*\w+\s*\(\s*TABLE\s+'(\w+)'.*$",
            sql,
        )
        if cd:
            # ClickHouse CREATE DICTIONARY: register the source table under
            # the dictionary name for the dictGet*/dictHas rewrites, and
            # alias a view of the declared columns so SELECT FROM <dict>
            # works like CH's dictionary-as-table reads.  LAYOUT/LIFETIME
            # are storage hints with no analog here (Catalyst decides the
            # physical probe) — accepted and ignored.
            ine, dname, cols_s, key_col, src_table = cd.groups()
            if spark.catalog.tableExists(dname):
                if ine:
                    return {"success": True, "dictionary": dname,
                            "created": False}
                raise ValueError(f"dictionary {dname!r} already exists")
            col_names = [
                p.strip().split()[0].strip("`")
                for p in re.split(r",(?![^()]*\))", cols_s)
                if p.strip()
            ]
            spark.table(src_table).select(*col_names).createOrReplaceTempView(
                dname
            )
            register_dictionary(dname, src_table, key_col)
            return {"success": True, "dictionary": dname, "created": True}
        dd = re.match(
            r"(?is)^\s*DROP\s+DICTIONARY\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
            sql,
        )
        if dd:
            existed = drop_dictionary(dd.group(2))
            # only drop the temp view when it really was a registered
            # dictionary — an unconditional drop deleted an unrelated
            # same-named view on the IF EXISTS no-op path (r5 ADVICE)
            if existed:
                spark.catalog.dropTempView(dd.group(2))
            if not existed and not dd.group(1):
                raise ValueError(
                    f"dictionary {dd.group(2)!r} does not exist"
                )
            return {"success": True, "dictionary": dd.group(2),
                    "dropped": existed}
        ct = re.match(
            r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s*"
            r"\((.*)\)\s*ENGINE\s*=\s*(\w+)\s*(?:\(([^)]*)\))?\s*"
            r"(?:ORDER\s+BY\s+(\(?[\w\s,()]+?\)?))?\s*;?\s*$",
            sql,
        )
        if ct:
            return _create_table(spark, *ct.groups())
        ctas = re.match(
            r"(?is)^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(\w+)\s+"
            r"ENGINE\s*=\s*(\w+)\s*(?:\(([^)]*)\))?\s*"
            r"(?:ORDER\s+BY\s+(\(?[\w\s,()]+?\)?)\s+)?"
            r"AS\s+(SELECT\b.*|WITH\b.*)$",
            sql,
        )
        if ctas:
            # CTAS: columns come from the SELECT; the engine registers
            # like the explicit-schema form
            ine, name, engine, eargs, order, body = ctas.groups()
            if spark.catalog.tableExists(name):
                if ine:
                    return {"success": True, "table": name, "created": False}
                raise ValueError(f"table {name!r} already exists")
            df = spark.sql(translate_clickhouse_sql(body, spark=spark))
            df.createOrReplaceTempView(name)
            _register_engine(name, engine, eargs, order)
            return {
                "success": True, "table": name, "created": True,
                "rows": df.count(),
            }
        dt = re.match(
            r"(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", sql
        )
        if dt:
            t = dt.group(2)
            # a session table (temp view) shadows a catalog table of the
            # same name, as in name resolution; else drop the catalog
            # table (the one api.ingest made)
            existed = spark.catalog.dropTempView(t)
            if not existed and spark.catalog.tableExists(t):
                spark.sql(f"DROP TABLE `{t}`")
                existed = True
            mergetree._ENGINE_REGISTRY.pop(t.lower(), None)
            drop_join_table(t)
            if not existed and not dt.group(1):
                raise ValueError(f"table {t!r} does not exist")
            return {"success": True, "table": t, "dropped": existed}
        scm = re.match(
            r"(?is)^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", sql
        )
        if scm:
            # synthesized CH-style DDL: columns via the type mapper, the
            # ENGINE clause from the mergetree registry (default
            # MergeTree ORDER BY tuple() — the reference's own CREATE,
            # server.js:586-589); Spark's SHOW CREATE rejects temp views
            t = scm.group(1)
            cols = ", ".join(
                f"`{f['name']}` {f['clickhouse_type']}"
                for f in describe_table(spark, t)
            )
            eng = mergetree._ENGINE_REGISTRY.get(t.lower(), {})
            engine = eng.get("engine", "MergeTree")
            order = (
                "(" + ", ".join(eng["key_cols"]) + ")"
                if eng.get("key_cols")
                else "tuple()"
            )
            stmt = (
                f"CREATE TABLE default.{t} ({cols}) "
                f"ENGINE = {engine}() ORDER BY {order}"
            )
            return {"success": True, "data": [{"statement": stmt}]}
        rn = re.match(
            r"(?is)^\s*RENAME\s+TABLE\s+(\w+)\s+TO\s+(\w+)\s*;?\s*$", sql
        )
        if rn:
            src, dst = rn.groups()
            # temp views only (mirrors the INSERT route's isTemporary
            # check): on a permanent table dropTempView(src) silently
            # no-ops and the data stays visible under BOTH names
            src_is_temp = any(
                t.name == src and t.isTemporary
                for t in spark.catalog.listTables()
            )
            if not src_is_temp:
                raise ValueError(
                    f"RENAME TABLE: {src!r} is not a registered temp view"
                )
            spark.table(src).createOrReplaceTempView(dst)
            spark.catalog.dropTempView(src)
            # carry the engine semantics (FINAL / OPTIMIZE / SHOW CREATE)
            # across the rename, like DROP/CREATE maintain the registry
            eng = mergetree._ENGINE_REGISTRY.pop(src.lower(), None)
            if eng is not None:
                mergetree._ENGINE_REGISTRY[dst.lower()] = eng
            return {"success": True, "renamed": {src: dst}}
        tm = re.match(
            r"(?is)^\s*TRUNCATE\s+TABLE\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$",
            sql,
        )
        if tm:
            # re-register the view over an empty LIMIT 0 of itself —
            # same schema, zero rows (Spark's TRUNCATE rejects views)
            t = tm.group(1)
            spark.table(t).limit(0).createOrReplaceTempView(t)
            return {"success": True, "truncated": t}
        sm = re.match(r"(?is)^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(\w+)\s*;?\s*$", sql)
        if sm:
            return columns(spark, "clickhouse", sm.group(1))
        df, translated, used_projection = _select_frame(spark, sql)
        size = max(1, min(int(page_size), relational.MAX_PAGE_SIZE))
        offset = (max(1, int(page)) - 1) * size
        rows = df.offset(offset).limit(size).collect()
        return {
            "success": True,
            "translated_sql": translated,
            "used_projection": used_projection,
            "data": [r.asDict() for r in rows],
            "pagination": {"page": max(1, int(page)), "pageSize": size},
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def _create_table(
    spark: SparkSession,
    if_not_exists: str | None,
    name: str,
    col_body: str,
    engine: str,
    engine_args: str | None,
    order_by: str | None,
) -> dict:
    """``CREATE TABLE t (col Type, …) ENGINE = X(…) [ORDER BY …]`` — the
    reference's own DDL shape (server.js:586-589): an EMPTY temp view
    with the ClickHouse types mapped through the schema mapper, plus an
    engine-registry entry so ``FROM t FINAL``, ``SHOW CREATE TABLE`` and
    the mergetree read paths resolve (:func:`_register_engine`).  Column
    DEFAULT/CODEC clauses are not parsed (api.mutate's ADD COLUMN handles
    defaults)."""
    from pyspark.sql import types as T

    from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

    if spark.catalog.tableExists(name):
        if if_not_exists:
            return {"success": True, "table": name, "created": False}
        raise ValueError(f"table {name!r} already exists")
    fields = []
    for coldef in filter(None, _split_top_comma(col_body)):
        parts = coldef.split(None, 1)
        if len(parts) != 2:
            raise ValueError(f"CREATE TABLE: cannot parse column {coldef!r}")
        cname, ctype = parts[0].strip("`"), parts[1].strip()
        dtype, nullable = clickhouse_to_spark(ctype)
        fields.append(T.StructField(cname, dtype, nullable))
    spark.createDataFrame([], T.StructType(fields)).createOrReplaceTempView(
        name
    )
    _register_engine(name, engine, engine_args, order_by)
    return {"success": True, "table": name, "created": True}


def _register_engine(
    name: str, engine: str, engine_args: str | None, order_by: str | None
) -> None:
    """The ``ENGINE = X(…) [ORDER BY …]`` clause of both CREATE TABLE
    forms (explicit columns and AS SELECT): MergeTree-family engines
    register with the mergetree registry, ``Join`` with the joinGet
    rewrite.  Engine args follow CH: Replacing (version[, is_deleted]) →
    version columns, Collapsing (sign[, version]) → sign column, Summing
    ((cols)) → summed columns."""
    key_cols = [
        c.strip()
        for c in (order_by or "").strip().strip("()").split(",")
        if c.strip() and c.strip() != "tuple"
    ]
    args = [
        a.strip().strip("()") for a in (engine_args or "").split(",") if a.strip()
    ]
    if engine in mergetree._ENGINE_KINDS or engine == "MergeTree":
        kw: dict = {}
        if engine == "ReplacingMergeTree":
            # (ver, is_deleted) soft-delete form keeps both
            kw["version_cols"] = args[:2]
        elif engine in ("CollapsingMergeTree", "VersionedCollapsingMergeTree"):
            if args:
                kw["sign_col"] = args[0]
            if len(args) > 1:
                kw["version_cols"] = args[1:]
        elif engine == "SummingMergeTree":
            kw["sum_cols"] = args
        mergetree.register_table_engine(name, engine, key_cols, **kw)
    elif engine == "Join":
        # ENGINE = Join(strictness, kind, key) — register for the joinGet
        # rewrite (r6).  Exactly 3 args: a composite-key Join(ANY, LEFT,
        # k1, k2) must NOT register on k1 alone (a 3-arg joinGet would
        # probe the wrong key); it stays unregistered and errors by name.
        if len(args) == 3:
            register_join_table(name, name, args[2])


def _insert_into_view(
    spark: SparkSession, table: str, col_list: str | None, body: str
) -> dict:
    """``INSERT INTO <temp view> VALUES …/SELECT …`` — ClickHouse inserts
    go through the same SQL endpoint as everything else, and the session
    analog of a writable table is the temp view: the view re-registers as
    (old rows UNION new rows), with the new rows aligned to the target
    schema (by the column list when given, positionally otherwise — CH's
    own rule) and cast column-by-column, NULL-filling unmentioned
    columns.  VALUES bodies parse through ``SELECT * FROM VALUES`` after
    the dialect rewrite, so CH functions work inside tuples."""
    if not spark.catalog.tableExists(table):
        raise ValueError(f"INSERT INTO {table}: table does not exist")
    target = spark.table(table)
    tcols = target.schema.fields
    names = (
        [c.strip().strip("`") for c in col_list.strip("() \t\n").split(",")]
        if col_list
        else [f.name for f in tcols]
    )
    unknown = [n for n in names if n not in {f.name for f in tcols}]
    if unknown:
        raise ValueError(f"INSERT INTO {table}: unknown columns {unknown}")
    body = body.strip().rstrip(";").strip()
    if re.match(r"(?is)^VALUES", body):
        probe = (
            f"SELECT * FROM {body} AS __ins("
            + ", ".join(f"`{n}`" for n in names)
            + ")"
        )
    else:
        probe = body
    new = spark.sql(translate_clickhouse_sql(probe, spark=spark))
    if len(new.columns) != len(names):
        raise ValueError(
            f"INSERT INTO {table}: {len(names)} target columns, "
            f"{len(new.columns)} provided"
        )
    by_name = {f.name: f for f in tcols}
    aligned = new.select(
        *[
            F.col(src).cast(by_name[dst].dataType).alias(dst)
            for src, dst in zip(new.columns, names)
        ]
    )
    for f in tcols:
        if f.name not in names:
            aligned = aligned.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    appended = target.unionByName(aligned.select(*[f.name for f in tcols]))
    n_new = new.count()
    appended.createOrReplaceTempView(table)
    return {"success": True, "table": table, "inserted": n_new}


def _literal_spans(sql: str) -> list[tuple[int, int]]:
    """Character spans (quote-inclusive) of every single-quoted string
    literal, via the dialect's escape-aware splitter."""
    from clickhouse_flatfile_tool_spark.dialect import _split_literals

    spans: list[tuple[int, int]] = []
    pos, first = 0, True
    for is_lit, seg in _split_literals(sql):
        if not first:
            pos += 1  # the opening/closing quote consumed by the splitter
        if is_lit:
            spans.append((pos - 1, pos + len(seg) + 1))
        pos += len(seg)
        first = False
    return spans


def _sub_outside_literals(pat: re.Pattern, repl, sql: str) -> str:
    """``pat.sub(repl, sql)`` that leaves matches starting inside a quoted
    string literal untouched — the table-function materializers and the
    system-table rewrite must not fire on ``SELECT 'system.one'`` or on a
    literal that merely CONTAINS ``file('x.csv')`` (which would trigger a
    real file read and corrupt the literal).  Without a match the
    statement comes back unchanged."""
    if not pat.search(sql):
        return sql
    spans = _literal_spans(sql)

    def guarded(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        return repl(m)

    return pat.sub(guarded, sql)


def _materialize_file_calls(spark: SparkSession, sql: str) -> str:
    """ClickHouse's ``file('path'[, 'Format'])`` table function → a temp
    view per call site through the matching flat-file reader (the same
    readers behind /preview and /ingest).  Formats: CSV/TSV (+WithNames),
    Parquet, ORC, JSONEachRow; omitted → by extension (the reference's
    ext check, server.js:259-261).  Unknown formats raise the structured
    error upstream.  The view name hashes path+format, so repeated
    references reuse one registration and Catalyst sees one scan."""
    from clickhouse_flatfile_tool_spark.sources import files as fsrc

    pat = re.compile(r"(?i)\bfile\s*\(\s*'([^']+)'\s*(?:,\s*'(\w+)'\s*)?\)")

    def repl(m: re.Match) -> str:
        path, fmt = m.group(1), (m.group(2) or "").lower()
        if not fmt:
            ext = os.path.splitext(path)[1].lower()
            fmt = {
                ".parquet": "parquet",
                ".orc": "orc",
                ".jsonl": "jsoneachrow",
                ".ndjson": "jsoneachrow",
                ".json": "jsoneachrow",
            }.get(ext, "csvwithnames")
        name = "file__" + hashlib.md5(
            f"{path}|{fmt}".encode()
        ).hexdigest()[:10]
        if fmt == "parquet":
            df = fsrc.read_parquet(spark, path)
        elif fmt == "orc":
            df = fsrc.read_orc(spark, path)
        elif fmt == "jsoneachrow":
            df = fsrc.read_jsonl(spark, path)
        elif fmt in ("csv", "tsv", "tabseparated"):
            df, _ = fsrc.read_csv(
                spark, path, has_header=False,
                sep="\t" if fmt != "csv" else None,
            )
        elif fmt in ("csvwithnames", "tsvwithnames", "tabseparatedwithnames"):
            df, _ = fsrc.read_csv(
                spark, path, has_header=True,
                sep="\t" if fmt != "csvwithnames" else None,
            )
        else:
            raise ValueError(
                f"file(): unsupported format {m.group(2)!r}; expected "
                "CSV[WithNames], TSV/TabSeparated[WithNames], Parquet, "
                "ORC, or JSONEachRow"
            )
        df.createOrReplaceTempView(name)
        return name

    return _sub_outside_literals(pat, repl, sql)


def _materialize_generate_random(spark: SparkSession, sql: str) -> str:
    """``generateRandom('c1 Type1, c2 Type2'[, seed])`` → a lazy
    10^9-row range with one deterministic pseudo-random column per
    declared field: integers/floats from xxhash64(id, seed) (full-range,
    reproducible), Strings as hex of the same hash, Date/DateTime spread
    over ~8 years from the epoch of 2020-01-01.  Values are
    engine-specific (CH seeds its own generator) — the contract is the
    SCHEMA and determinism-under-seed, like CH's docs state."""
    from clickhouse_flatfile_tool_spark.schema import clickhouse_to_spark

    pat = re.compile(
        r"(?i)\bgenerateRandom\s*\(\s*'([^']+)'\s*(?:,\s*(\d+)\s*)?\)"
    )

    def repl(m: re.Match) -> str:
        schema_s, seed = m.group(1), int(m.group(2) or 0)
        cols = []
        for i, part in enumerate(p.strip() for p in schema_s.split(",")):
            toks = part.split(None, 1)
            if len(toks) != 2:
                raise ValueError(
                    f"generateRandom: cannot parse field {part!r}"
                )
            cname, ctype = toks[0].strip("`"), toks[1].strip()
            dtype, _ = clickhouse_to_spark(ctype)
            h = f"xxhash64(id, {seed}, {i})"
            kind = dtype.simpleString()
            if kind in ("tinyint", "smallint", "int", "bigint") or kind.startswith(
                "decimal"
            ):
                expr = f"CAST({h} AS {kind.upper()})" if not kind.startswith(
                    "decimal"
                ) else f"CAST({h} % 1000000 AS {kind.upper()})"
            elif kind in ("float", "double"):
                expr = f"CAST(pmod({h}, 1000000) AS DOUBLE) / 1000.0"
            elif kind == "date":
                expr = f"date_add(DATE'2020-01-01', CAST(pmod({h}, 3000) AS INT))"
            elif kind == "timestamp":
                expr = (
                    f"timestamp_seconds(unix_seconds("
                    f"TIMESTAMP'2020-01-01 00:00:00') + pmod({h}, 250000000))"
                )
            else:
                expr = f"hex({h})"
            cols.append(f"{expr} AS `{cname}`")
        name = "genrand__" + hashlib.md5(
            f"{schema_s}|{seed}".encode()
        ).hexdigest()[:10]
        spark.range(1_000_000_000).selectExpr(
            *cols
        ).createOrReplaceTempView(name)
        return name

    return _sub_outside_literals(pat, repl, sql)


def _materialize_merge_calls(spark: SparkSession, sql: str) -> str:
    """ClickHouse's ``merge('db', 'name_regex')`` table function → the
    unionByName of every catalog table whose name matches the (RE2-style)
    pattern, with a CH-parity ``_table`` virtual column naming each row's
    source.  Missing columns NULL-fill (allowMissingColumns), matching
    CH's behavior for divergent physical schemas."""
    pat = re.compile(r"(?i)\bmerge\s*\(\s*'([^']*)'\s*,\s*'([^']+)'\s*\)")

    def repl(m: re.Match) -> str:
        name_re = re.compile(m.group(2))
        matches = [t for t in list_tables(spark) if name_re.search(t)]
        if not matches:
            raise ValueError(
                f"merge(): no catalog table matches {m.group(2)!r}"
            )
        df = None
        for t in sorted(matches):
            part = spark.table(t).withColumn("_table", F.lit(t))
            df = part if df is None else df.unionByName(
                part, allowMissingColumns=True
            )
        name = "merge__" + hashlib.md5(
            m.group(2).encode()
        ).hexdigest()[:10]
        df.createOrReplaceTempView(name)
        return name

    return _sub_outside_literals(pat, repl, sql)


_SYSTEM_TABLE_PAT = re.compile(
    r"(?i)\bsystem\.(tables|columns|one|numbers|databases|dictionaries)\b"
)


def _materialize_system_tables(spark: SparkSession, sql: str) -> str:
    """ClickHouse clients introspect through SQL (``SELECT … FROM
    system.tables``), not a separate API: build each referenced
    ``system.*`` view from the session catalog and rewrite the statement
    to point at it (``system.tables`` → ``system__tables`` — a dot-free
    name the translator handles like any table)."""
    built: set[str] = set()

    def view(m: re.Match) -> str:
        name = m.group(1).lower()
        if name not in built:
            built.add(name)
            _system_table(spark, name).createOrReplaceTempView(f"system__{name}")
        return f"system__{name}"

    return _sub_outside_literals(_SYSTEM_TABLE_PAT, view, sql)


def _system_table(spark: SparkSession, name: str) -> DataFrame:
    """One ``system.*`` table.  Shapes follow ClickHouse's commonly-queried
    columns:

    * ``tables``: database, name, engine — engine from the
      :mod:`mergetree` registry ('View' for unregistered temp views, the
      reference's own tables default to 'MergeTree' on creation).
    * ``columns``: database, table, name, type (DESCRIBE across every
      catalog table, CH type names via the schema mapper).
    * ``one``: the 1-row (dummy UInt8 0) table behind bare SELECTs.
    * ``databases``: the catalog's database names.
    * ``numbers``: lazily generated ascending ``number`` — bounded at
      10^9 rows here (ClickHouse's is infinite; both need LIMIT).
    * ``dictionaries``: name, source, key of each CREATE DICTIONARY."""
    if name == "tables":
        rows = [
            (
                "default",
                t,
                mergetree._ENGINE_REGISTRY.get(t.lower(), {}).get("engine", "View"),
            )
            for t in list_tables(spark)
        ]
        return spark.createDataFrame(
            rows or [("default", "", "")],
            "database string, name string, engine string",
        ).filter(F.col("name") != "")
    if name == "columns":
        rows = [
            ("default", t, f["name"], f["clickhouse_type"])
            for t in list_tables(spark)
            for f in describe_table(spark, t)
        ]
        return spark.createDataFrame(
            rows or [("default", "", "", "")],
            "database string, table string, name string, type string",
        ).filter(F.col("table") != "")
    if name == "one":
        return spark.sql("SELECT CAST(0 AS SMALLINT) AS dummy")
    if name == "databases":
        return spark.createDataFrame(
            [(db.name,) for db in spark.catalog.listDatabases()]
            or [("default",)],
            "name string",
        )
    if name == "numbers":
        return spark.range(1_000_000_000).selectExpr("id AS number")
    from clickhouse_flatfile_tool_spark.dialect import _DICTIONARIES

    rows = [(n, t, k) for n, (t, k) in sorted(_DICTIONARIES.items())]
    return spark.createDataFrame(
        rows or [("", "", "")],
        "name string, source string, key string",
    ).filter(F.col("name") != "")


# per-table projection registries for the projection endpoints (session-
# scoped, like ClickHouse's table metadata holding projection definitions)
_PROJECTION_SETS: dict[str, object] = {}

_SIMPLE_AGG_SQL = re.compile(
    r"(?is)^\s*SELECT\s+(.+?)\s+FROM\s+(\w+)\s+GROUP\s+BY\s+(.+?)"
    r"(?:\s+ORDER\s+BY\s+(.+?))?\s*;?\s*$"
)
_ITEM_AGG = re.compile(
    r"(?is)^\s*(sum|count|min|max|avg)\s*\(\s*(\w+)\s*\)\s*"
    r"(?:AS\s+(\w+))?\s*$"
)


def _try_projection_route(sql: str):
    """The transparent half of ``optimize_use_projections``: a plain
    single-table grouped aggregate (no WHERE/JOIN/HAVING — those need the
    base columns) whose table has a matching registered projection is
    answered from the cells instead of the scan.  Returns (DataFrame,
    projection_name) or None when the statement doesn't qualify — the
    caller then runs the normal translate→spark.sql path."""
    from clickhouse_flatfile_tool_spark.operators import projections as P

    m = _SIMPLE_AGG_SQL.match(sql)
    if not m or re.search(r"(?is)\b(WHERE|JOIN|HAVING|LIMIT|UNION)\b", sql):
        return None
    select, table, group, order = m.groups()
    ps = _PROJECTION_SETS.get(table)
    if ps is None:
        return None
    keys = [k.strip().strip("`") for k in group.split(",")]
    want: list[tuple[str, str]] = []
    aliases: list[str] = []
    for item in select.split(","):
        item = item.strip()
        if item.strip("`") in keys:
            continue
        am = _ITEM_AGG.match(item)
        if not am:
            return None  # expression we can't cell-answer — use the scan
        kind, col, alias = am.group(1).lower(), am.group(2), am.group(3)
        want.append((kind, col))
        aliases.append(alias or f"{kind}_{col}")
    if not want:
        return None
    name = ps.choose(keys, want)
    if name is None:
        return None
    df = P.answer_from_projection(ps.projections[name][2], keys, want, aliases)
    if order:
        cols = []
        for o in order.split(","):
            parts = o.strip().split()
            c = F.col(parts[0].strip("`"))
            cols.append(
                c.desc() if len(parts) > 1 and parts[1].upper() == "DESC" else c
            )
        df = df.orderBy(*cols)
    return df, name


def add_projection(spark: SparkSession, sql: str) -> dict:
    """``ALTER TABLE t ADD PROJECTION p (SELECT … GROUP BY …)`` — the
    ClickHouse projection DDL endpoint: parses the definition, builds the
    pre-aggregated cells over the catalog table (temp view or table), and
    registers it for :func:`projection_query`.  ClickHouse stores the
    cells per part; the session analog caches the cell frame."""
    from clickhouse_flatfile_tool_spark.operators import projections as P

    try:
        table, name, _keys, _aggs = P.parse_projection(sql)
        ps = _PROJECTION_SETS.get(table)
        if ps is None:
            ps = P.ProjectionSet(spark.table(table))
            _PROJECTION_SETS[table] = ps
        ps.add(sql)
        keys, aggs, frame = ps.projections[name]
        return {
            "success": True,
            "table": table,
            "projection": name,
            "keys": keys,
            "aggregates": [f"{k}({c})" for k, c in aggs],
            "cells": frame.count(),
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def projection_query(
    spark: SparkSession,
    table: str,
    group_keys: list[str],
    aggs: list[tuple[str, str]],
    page: int = 1,
    page_size: int = relational.DEFAULT_PAGE_SIZE,
) -> dict:
    """Answer a grouped aggregate from the cheapest registered projection
    (``optimize_use_projections``) or the base table when none matches;
    reports which route was taken so callers can see the rewrite."""
    from clickhouse_flatfile_tool_spark.operators import projections as P

    try:
        ps = _PROJECTION_SETS.get(table)
        if ps is None:
            ps = P.ProjectionSet(spark.table(table))
        chosen = ps.choose(group_keys, [tuple(a) for a in aggs])
        df = ps.query(group_keys, [tuple(a) for a in aggs])
        size = max(1, min(int(page_size), relational.MAX_PAGE_SIZE))
        rows = df.limit(size).collect()
        return {
            "success": True,
            "table": table,
            "used_projection": chosen,
            "data": [r.asDict() for r in rows],
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def query_profile(
    spark: SparkSession, sql: str, params: dict | None = None
) -> dict:
    """Execute a ClickHouse-dialect statement and return its profile —
    the ``system.query_log`` row the reference's users read after every
    query (query_duration_ms / result_rows / read_rows live there):
    wall-clock, exact result row count via Spark's Observation metric
    (collected on the executors during the SAME pass — no second job,
    no driver materialization of the result), and the physical plan.
    The result itself is discarded (profiling is about cost, not data —
    pair with :func:`query` to fetch rows).

    ``codegen_compiles`` is the number of generated classes Spark compiled
    (Janino) while the statement ran — the analog of ClickHouse's
    ``CompiledExpressionCacheMisses``; 0 means every class came from the
    codegen cache.  It is a delta of the JVM-wide ``CodegenMetrics``
    counter, so statements running concurrently in the same JVM share it
    and each sees the others' compiles."""
    import time as _time

    from pyspark.sql import Observation

    try:
        metrics = spark._jvm.org.apache.spark.metrics.source  # noqa: SLF001
        compiles = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
        c0 = compiles.getCount()
        df, translated, _ = _select_frame(spark, _prepare(spark, sql, params))
        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        t0 = _time.time()
        observed.write.format("noop").mode("overwrite").save()
        wall = _time.time() - t0
        return {
            "success": True,
            "translated_sql": translated,
            "result_rows": obs.get["rows"],
            "query_duration_ms": round(wall * 1000.0, 1),
            "codegen_compiles": compiles.getCount() - c0,
            "physical_plan": df._jdf.queryExecution().executedPlan().toString(),
        }
    except Exception as e:  # noqa: BLE001
        return error_payload(e)


def mutate(spark: SparkSession, path: str, sql: str) -> dict:
    """Execute a ClickHouse mutation statement (``ALTER TABLE … UPDATE /
    DELETE``) against a parquet directory — the analog of the reference's
    ClickHouse backend applying mutations server-side (the reference's
    flat-file side has no mutation story; server.js only appends).
    Copy-on-write rewrite with an atomic directory swap
    (operators.mutations.apply_mutation)."""
    from clickhouse_flatfile_tool_spark.operators import mutations

    try:
        n = mutations.apply_mutation(spark, path, sql)
        return {"success": True, "path": path, "rows_after": n}
    except Exception as e:  # noqa: BLE001
        return error_payload(e)
