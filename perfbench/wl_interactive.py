"""``interactive``: a user of the tool's preview, query and file UI.  A
seeded sequence of short statements over the fixture views: ``api.preview``
pages, ``api.query`` ClickHouse-dialect SELECTs, ``api.execute_join`` of
2-5 tables plus a page, ``api.explain``, a preview page of a CSV file, and
the reference's file round trip (``api.columns`` -> ``api.ingest`` into a
fresh table -> ``api.download`` as CSV).  A seeded share of statements
repeats an earlier one exactly, the way a user pages back.  Every statement
has a DuckDB twin that computes the same page."""

from __future__ import annotations

import datetime as dt
import os
import time

import duckdb
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import percentile, same_rows

PREVIEW_KEYS = {
    "lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"],
    "customer": ["c_custkey"], "part": ["p_partkey"],
}
# left-deep join chain; a statement joins a contiguous run of 2-5 of them
CHAIN = [
    ("lineitem", None),
    ("orders", "l_orderkey = o_orderkey"),
    ("customer", "o_custkey = c_custkey"),
    ("nation", "c_nationkey = n_nationkey"),
    ("region", "n_regionkey = r_regionkey"),
]
CHAIN_KEYS = {"lineitem": ["l_orderkey", "l_linenumber"], "orders": ["o_orderkey"],
              "customer": ["c_custkey"], "nation": ["n_nationkey"]}
CHAIN_COLS = {
    "lineitem": ["l_quantity", "l_returnflag"], "orders": ["o_totalprice", "o_orderpriority"],
    "customer": ["c_name", "c_mktsegment"], "nation": ["n_name"], "region": ["r_name"],
}
PREVIEW_COLS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
                 "l_shipdate"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
}
FILE_ROWS = 30_000  # rows of the seeded orders CSV the file statements use
FILE_KEYS = ["o_orderkey"]
REPEAT_SHARE = 0.25


def _date(rng, lo=0, hi=2400) -> str:
    return (dt.date(1992, 1, 1) + dt.timedelta(days=int(rng.integers(lo, hi)))).isoformat()


# Each template: rng -> (ClickHouse SQL, DuckDB SQL, tables read, page size).
# Both sides order by a total key, so a page is well defined.
def _t_filter(r):
    d, q = _date(r), int(r.integers(2, 40))
    body = ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
            "WHERE l_shipdate >= {ts} AND l_quantity < {q} ORDER BY l_orderkey, l_linenumber")
    return (body.format(ts=f"toDateTime('{d} 00:00:00')", q=q),
            body.format(ts=f"TIMESTAMP '{d} 00:00:00'", q=q), ["lineitem"], 50)


def _t_pricing(r):
    d = _date(r, 1500, 2500)
    body = ("SELECT l_returnflag, l_linestatus, {cnt} AS n, round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, round(avg(l_discount), 4) AS avg_disc "
            "FROM lineitem WHERE l_shipdate <= {ts} GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus")
    return (body.format(cnt="count()", ts=f"toDateTime('{d} 00:00:00')"),
            body.format(cnt="count(*)", ts=f"TIMESTAMP '{d} 00:00:00'"), ["lineitem"], 100)


def _t_topcust(r):
    p = datagen.PRIORITIES[int(r.integers(0, 5))]
    body = ("SELECT o_custkey, {cnt} AS n, round(sum(o_totalprice), 2) AS total FROM orders "
            f"WHERE o_orderpriority = '{p}' GROUP BY o_custkey ORDER BY total DESC, o_custkey LIMIT 20")
    return body.format(cnt="count()"), body.format(cnt="count(*)"), ["orders"], 100


def _t_shipping(r):
    seg, d = datagen.SEGMENTS[int(r.integers(0, 5))], _date(r, 900, 1300)
    body = ("SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, o_orderdate "
            "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
            f"WHERE c_mktsegment = '{seg}' AND o_orderdate < {{ts}} AND l_shipdate > {{ts}} "
            "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10")
    return (body.format(ts=f"toDateTime('{d} 00:00:00')"),
            body.format(ts=f"TIMESTAMP '{d} 00:00:00'"), ["customer", "orders", "lineitem"], 100)


def _t_status(r):
    x = int(r.integers(1000, 300000))
    return (f"SELECT o_orderstatus, countIf(o_totalprice > {x}) AS hi, uniqExact(o_custkey) AS u "
            "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
            f"SELECT o_orderstatus, count(*) FILTER (WHERE o_totalprice > {x}) AS hi, "
            "count(DISTINCT o_custkey) AS u FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus",
            ["orders"], 100)


def _t_years(r):
    x = int(r.integers(1000, 300000))
    body = ("SELECT {y}(o_orderdate) AS y, {cnt} AS n, round(avg(o_totalprice), 2) AS avg_total "
            f"FROM orders WHERE o_totalprice > {x} GROUP BY y ORDER BY y")
    return (body.format(y="toYear", cnt="count()"), body.format(y="year", cnt="count(*)"),
            ["orders"], 100)


def _t_nations(r):
    x = round(float(r.uniform(-999, 9000)), 2)
    body = ("SELECT n_name, {cnt} AS n, round(sum(c_acctbal), 2) AS bal FROM customer "
            f"JOIN nation ON c_nationkey = n_nationkey WHERE c_acctbal > {x} "
            "GROUP BY n_name ORDER BY n DESC, n_name")
    return body.format(cnt="count()"), body.format(cnt="count(*)"), ["customer", "nation"], 100


def _t_buckets(r):
    a = int(r.integers(5, 20))
    b, disc = a + int(r.integers(5, 25)), int(r.integers(0, 10)) / 100
    return (f"SELECT multiIf(l_quantity < {a}, 'small', l_quantity < {b}, 'mid', 'big') AS bucket, "
            f"count() AS n FROM lineitem WHERE l_discount >= {disc} GROUP BY bucket ORDER BY bucket",
            f"SELECT CASE WHEN l_quantity < {a} THEN 'small' WHEN l_quantity < {b} THEN 'mid' "
            f"ELSE 'big' END AS bucket, count(*) AS n FROM lineitem WHERE l_discount >= {disc} "
            "GROUP BY bucket ORDER BY bucket", ["lineitem"], 100)


def _t_brands(r):
    t, s = datagen.TYPE_WORDS[int(r.integers(0, 6))], int(r.integers(5, 50))
    body = ("SELECT p_brand, {cnt} AS n, round(avg(p_retailprice), 2) AS avg_price FROM part "
            f"WHERE {{sw}}(p_type, '{t}') AND p_size <= {s} GROUP BY p_brand ORDER BY p_brand")
    return (body.format(cnt="count()", sw="startsWith"), body.format(cnt="count(*)", sw="starts_with"),
            ["part"], 100)


TEMPLATES = {
    "filter": _t_filter, "pricing": _t_pricing, "topcust": _t_topcust,
    "shipping": _t_shipping, "status": _t_status, "years": _t_years,
    "nations": _t_nations, "buckets": _t_buckets, "brands": _t_brands,
}


# one block holds every statement shape once; a run is whole blocks, so
# every seed measures the same mix
JOIN_SHAPES = ((1, 3), (2, 5), (1, 5), (0, 5))  # 2, 3, 4 and 5 tables of CHAIN
EXPLAINS_PER_BLOCK = 2
BLOCK = ([("preview", t) for t in PREVIEW_KEYS] + [("query", t) for t in TEMPLATES]
         + [("join", j) for j in JOIN_SHAPES] + [("explain", i) for i in range(EXPLAINS_PER_BLOCK)]
         + [("file_preview", "orders_csv"), ("roundtrip", "orders_csv")])


def _new_statement(r, kind, shape) -> dict:
    if kind == "preview":
        keys = PREVIEW_KEYS[shape]
        pool = [c for c in PREVIEW_COLS[shape] if c not in keys]
        pick = sorted(r.choice(len(pool), int(r.integers(2, len(pool) + 1)), replace=False))
        return {"kind": kind, "table": shape, "keys": keys, "cols": keys + [pool[j] for j in pick],
                "page": int(r.integers(1, 60)), "page_size": [25, 50, 100][int(r.integers(0, 3))],
                "tables": [shape]}
    if kind == "file_preview":
        return {"kind": kind, "tables": [shape], "page": int(r.integers(1, FILE_ROWS // 50)),
                "page_size": 50}
    if kind == "roundtrip":
        return {"kind": kind, "tables": [shape]}
    if kind == "join":
        links = CHAIN[shape[0]:shape[1]]
        return {"kind": kind, "tables": [t for t, _ in links],
                "conds": [c for _, c in links[1:]], "page": int(r.integers(1, 40)),
                "page_size": 50}
    name = shape if kind == "query" else list(TEMPLATES)[int(r.integers(0, len(TEMPLATES)))]
    ch, duck, tables, size = TEMPLATES[name](r)
    return {"kind": kind, "template": name, "sql": ch, "duck": duck, "tables": tables,
            "page": 1, "page_size": size}


def statements(seed: int, blocks: int) -> list[dict]:
    """The run's statement sequence: ``blocks`` blocks of ``BLOCK``, each in
    seeded order with seeded literals; a seeded share of statements repeat
    the previous statement of the same shape exactly."""
    r = datagen.rng_for(seed, "interactive")
    out: list[dict] = []
    last: dict = {}
    for _ in range(blocks):
        for j in r.permutation(len(BLOCK)):
            slot = BLOCK[j]
            if slot in last and r.random() < REPEAT_SHARE:
                st = dict(last[slot], repeat=True)
            else:
                st = dict(_new_statement(r, *slot), repeat=False)
            last[slot] = st
            out.append(st)
    return out


def _key(st) -> str:
    return repr(sorted((k, v) for k, v in st.items() if k != "repeat"))


def _join_shape(st):
    first = st["tables"][0]
    cols = [c for t in st["tables"] for c in CHAIN_KEYS.get(t, []) + CHAIN_COLS[t]]
    return cols, CHAIN_KEYS[first]


class Interactive:
    name = "interactive"
    OPS_PER_PASS = len(BLOCK)
    MIN_OPS = 3 * len(BLOCK)  # a plain run: 63 statements, sized to the run budget
    MIN_OPS_TRACED = 5 * len(BLOCK)  # over 100: a p90 with ten samples beyond it

    def __init__(self, seed: int, tmp: str):
        self.seed, self.tmp = seed, tmp
        self.paths: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.pages: dict[str, dict] = {}  # statement key -> first result
        self.exports: list[str] = []
        self.file_timing: list[tuple[float, float]] = []  # (ingest_s, download_s)

    def generate(self):
        tables = datagen.tpch(self.seed)
        for name, t in tables.items():
            path = os.path.join(self.tmp, f"{name}.parquet")
            pq.write_table(t, path)
            self.paths[name], self.rows[name] = path, t.num_rows
        # the file the file statements read: a seeded sample of orders, in
        # seeded row order, with a seeded subset of its columns
        rng = datagen.rng_for(self.seed, "orders-csv")
        orders = tables["orders"]
        others = [c for c in orders.column_names if c not in FILE_KEYS]
        keep = sorted(rng.choice(len(others), int(rng.integers(2, len(others) + 1)), replace=False))
        self.file_cols = FILE_KEYS + [others[i] for i in keep]
        sample = orders.select(self.file_cols).take(rng.choice(orders.num_rows, FILE_ROWS, replace=False))
        self.csv = os.path.join(self.tmp, "orders_sample.csv")
        pacsv.write_csv(sample, self.csv, pacsv.WriteOptions(quoting_style="none"))
        self.rows["orders_csv"] = FILE_ROWS
        self.bytes_in = 0  # CSV bytes ingested by measured round trips

    def input_summary(self) -> dict:
        return dict(self.rows)

    def prepare(self, spark):
        from clickhouse_flatfile_tool_spark.sources.files import read_parquet

        for name, path in self.paths.items():
            read_parquet(spark, path).createOrReplaceTempView(name)

    def warmup(self, spark):
        """One block of statements from a stream of its own."""
        for st in statements(self.seed + 1_000_003, 1):
            self._execute(spark, st)
        self.file_timing.clear()

    def ops(self):
        yield from statements(self.seed, 50)

    @staticmethod
    def label(st) -> str:
        return st["kind"]

    def run(self, spark, st, tracer) -> int:
        page = self._execute(spark, st)
        key = _key(st)
        if key not in self.pages:
            self.pages[key] = {"st": st, "page": page, "consistent": True}
        elif not same_rows(self.pages[key]["page"], page):
            self.pages[key]["consistent"] = False
        # rows of the tables the statement reads; EXPLAIN reads none
        if st["kind"] == "roundtrip":
            return 2 * FILE_ROWS  # ingested, then exported
        return 0 if st["kind"] == "explain" else sum(self.rows[t] for t in st["tables"])

    def after_op(self, spark):
        spark.sql(f"DROP TABLE IF EXISTS file_{len(self.exports)}")

    def _roundtrip(self, spark, api):
        """columns -> ingest into a fresh table -> download as CSV."""
        n = len(self.exports) + 1
        table, out = f"file_{n}", os.path.join(self.tmp, f"export_{n}.csv")
        r = api.columns(spark, "file", self.csv)
        if not r.get("success") or [c["name"] for c in r["columns"]] != self.file_cols:
            raise RuntimeError(f"columns of {self.csv}: {r}")
        t0 = time.perf_counter()
        r = api.ingest(spark, "file", self.csv, table)
        t1 = time.perf_counter()
        if not r.get("success"):
            raise RuntimeError(f"ingest failed: {r.get('error')}")
        count = r["count"]
        r = api.download(spark, table, out)
        if not r.get("success"):
            raise RuntimeError(f"download failed: {r.get('error')}")
        self.file_timing.append((t1 - t0, time.perf_counter() - t1))
        self.exports.append(out)
        self.bytes_in += os.path.getsize(self.csv)
        return [(count,)]

    def _execute(self, spark, st):
        from clickhouse_flatfile_tool_spark import api
        from clickhouse_flatfile_tool_spark.operators import relational

        kind = st["kind"]
        if kind == "roundtrip":
            return self._roundtrip(spark, api)
        if kind == "join":
            cols, keys = _join_shape(st)
            df = api.execute_join(spark, st["tables"], st["conds"], selected_columns=cols)
            page_df, _meta = relational.preview(df, cols, keys, st["page"], st["page_size"])
            return [tuple(r) for r in page_df.collect()]
        if kind == "preview":
            r = api.preview(spark, "clickhouse", st["table"], selected_columns=st["cols"],
                            page=st["page"], page_size=st["page_size"], order_by=st["keys"])
        elif kind == "file_preview":
            r = api.preview(spark, "file", self.csv, page=st["page"],
                            page_size=st["page_size"], order_by=FILE_KEYS)
        elif kind == "query":
            r = api.query(spark, st["sql"], page=st["page"], page_size=st["page_size"])
        else:
            r = api.explain(spark, st["sql"])
            if r.get("success") and not r.get("plan"):
                raise RuntimeError("explain returned an empty plan")
            return [(r.get("success"),)]
        if not r.get("success"):
            raise RuntimeError(f"{kind} failed: {r.get('error')}")
        return [tuple(row.values()) for row in r["data"]]

    def _twin(self, con, st):
        kind = st["kind"]
        if kind == "roundtrip":
            return [(FILE_ROWS,)]
        size, offset = st["page_size"], (st["page"] - 1) * st["page_size"]
        if kind == "preview":
            sql = (f"SELECT {', '.join(st['cols'])} FROM {st['table']} "
                   f"ORDER BY {', '.join(st['keys'])} LIMIT {size} OFFSET {offset}")
        elif kind == "file_preview":
            sql = (f"SELECT * FROM read_csv('{self.csv}', header=true, all_varchar=true) "
                   f"ORDER BY {', '.join(FILE_KEYS)} LIMIT {size} OFFSET {offset}")
        elif kind == "join":
            cols, keys = _join_shape(st)
            joins = " ".join(f"JOIN {t} ON {c}" for t, c in zip(st["tables"][1:], st["conds"]))
            sql = (f"SELECT {', '.join(cols)} FROM {st['tables'][0]} {joins} "
                   f"ORDER BY {', '.join(keys)} LIMIT {size} OFFSET {offset}")
        elif kind == "query":
            sql = st["duck"] if " LIMIT " in st["duck"] else f"{st['duck']} LIMIT {size}"
        else:
            return [(True,)]
        return con.execute(sql).fetchall()

    def check(self, spark) -> list[str]:
        """Each distinct statement's page equals its DuckDB twin's, every
        repeat of a statement returned the same page, and every export
        holds the CSV's rows (same count and order-insensitive digest)."""
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for name, path in self.paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        failures = []
        source = _digest(con, self.csv, self.file_cols)
        for out in self.exports:
            if _digest(con, out, self.file_cols) != source:
                failures.append(f"interactive roundtrip: {os.path.basename(out)} differs from its source")
        for key, rec in self.pages.items():
            st = rec["st"]
            label = st.get("template") or "+".join(st["tables"])
            if not rec["consistent"]:
                failures.append(f"interactive {st['kind']} {label}: a repeat returned another page")
            if not same_rows(rec["page"], self._twin(con, st)):
                failures.append(f"interactive {st['kind']} {label}: page differs from the DuckDB twin")
        con.close()
        return failures

    def figures(self, records) -> dict:
        lat = [r["latency_s"] * 1e3 for r in records]
        # the round trips of ``records`` are the first ones after warm-up
        trips = self.file_timing[:sum(r["label"] == "roundtrip" for r in records)]
        ingest, download = (sum(t) for t in zip(*trips)) if trips else (0, 0)
        rows = FILE_ROWS * len(trips)
        out = {"stmt_p50_ms": percentile(lat, 50),
               "ingest_rows_per_s": rows / ingest if ingest else 0.0,
               "export_rows_per_s": rows / download if download else 0.0}
        try:
            out["stmt_p90_ms"] = percentile(lat, 90)
        except ValueError:  # fewer than 100 statements: no p90 to report
            out["stmt_p90_ms"] = 0.0
        return out


def _digest(con, path, cols) -> tuple:
    """(row count, sum of per-row hashes): equal for two CSV files holding
    the same rows in any order."""
    return con.execute(
        f"SELECT count(*), sum(hash({', '.join(cols)})::HUGEINT) "
        f"FROM read_csv('{path}', header=true, all_varchar=true)"
    ).fetchone()
