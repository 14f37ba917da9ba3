"""ClickHouse → Spark SQL dialect translation: string-level rewrites
(dialect.py) executed on real fixtures to prove the translated SQL runs
and computes the ClickHouse semantics."""

from __future__ import annotations

import pytest

from clickhouse_flatfile_tool_spark.dialect import _rewrite_where_aliases
from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as tr


def test_renames_and_wraps_pure_string():
    assert tr("SELECT toDate(ts) FROM t") == "SELECT to_date(ts) FROM t"
    assert tr("SELECT toInt64(x) FROM t") == "SELECT CAST(x AS BIGINT) FROM t"
    # nesting: inner call translated, parens matched through it
    assert (
        tr("SELECT toInt32(length(toString(x))) FROM t")
        == "SELECT CAST(length(CAST(x AS STRING)) AS INT) FROM t"
    )
    assert (
        tr("SELECT toStartOfHour(ts), uniqExact(u) FROM t")
        == "SELECT date_trunc('hour', ts), count(DISTINCT u) FROM t"
    )
    assert tr("SELECT toYYYYMM(ts) FROM t") == (
        "SELECT CAST(date_format(ts, 'yyyyMM') AS INT) FROM t"
    )
    assert tr("SELECT now(), today()") == "SELECT current_timestamp(), current_date()"


def test_literals_untouched():
    q = "SELECT 'toInt64(not a call)' AS s, toInt64(x) FROM t"
    assert tr(q) == "SELECT 'toInt64(not a call)' AS s, CAST(x AS BIGINT) FROM t"
    q2 = "SELECT 'it''s now()' FROM t"
    assert tr(q2) == q2


def test_unknown_functions_pass_through():
    q = "SELECT mysteryFn(x, toDate(y)) FROM t"
    assert tr(q) == "SELECT mysteryFn(x, to_date(y)) FROM t"


def test_translated_sql_executes(spark, tables):
    tables["events"].createOrReplaceTempView("events_v")
    ch = (
        "SELECT toStartOfDay(ts) AS day, uniqExact(user_id) AS users, "
        "toInt64(count(*)) AS n, toYYYYMM(ts) AS ym "
        "FROM events_v GROUP BY toStartOfDay(ts), toYYYYMM(ts)"
    )
    got = spark.sql(tr(ch))
    rows = got.collect()
    assert len(rows) > 0
    import pyspark.sql.functions as F

    want = (
        tables["events"]
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("users"))
    )
    wmap = {r["day"]: r["users"] for r in want.collect()}
    for r in rows:
        assert wmap[r["day"]] == r["users"]
        assert r["ym"] == int(r["day"].strftime("%Y%m"))


def test_aggregate_analogs_translate():
    q = (
        "SELECT argMax(s, p), argMin(s, p), groupArray(x), groupUniqArray(x), "
        "groupBitOr(b), medianExact(v) FROM t"
    )
    assert tr(q) == (
        "SELECT max_by(s, p), min_by(s, p), collect_list(x), collect_set(x), "
        "bit_or(b), median(v) FROM t"
    )


def test_group_array_does_not_eat_group_uniq_array():
    # word-boundary safety: groupUniqArray must not be rewritten by the
    # groupArray rule (or vice versa)
    assert tr("groupUniqArray(x)") == "collect_set(x)"
    assert tr("groupArray(x)") == "collect_list(x)"


def test_aggregate_analogs_execute(spark, tables):
    tables["orders"].createOrReplaceTempView("orders_v")
    out = spark.sql(
        tr(
            "SELECT o_orderstatus, argMax(o_custkey, o_totalprice) AS big_spender "
            "FROM orders_v GROUP BY o_orderstatus"
        )
    ).collect()
    assert len(out) > 0 and all(r.big_spender is not None for r in out)


def test_if_combinators():
    q = "SELECT countIf(x > 1), sumIf(price, qty > 5), avgIf(d, f = 'a'), maxIf(v, ok) FROM t"
    assert tr(q) == (
        "SELECT count_if(x > 1), sum(CASE WHEN qty > 5 THEN price END), "
        "avg(CASE WHEN f = 'a' THEN d END), max(CASE WHEN ok THEN v END) FROM t"
    )


def test_if_combinator_nested_args():
    # commas inside nested calls must not split the (expr, cond) boundary
    q = "sumIf(round(a, 2), b in (1, 2))"
    assert tr(q) == "sum(CASE WHEN b in (1, 2) THEN round(a, 2) END)"


def test_curried_quantiles():
    assert tr("quantile(0.5)(x)") == "percentile(x, 0.5)"
    assert tr("quantileExact(0.9)(price)") == "percentile(price, 0.9)"
    assert tr("quantiles(0.25, 0.75)(x)") == "percentile(x, array(0.25, 0.75))"
    # non-curried quantile( stays untouched (not ClickHouse syntax anyway)
    assert tr("quantile(0.5) + 1") == "quantile(0.5) + 1"


def test_if_combinators_execute(spark, tables):
    tables["lineitem"].createOrReplaceTempView("li_v")
    out = spark.sql(
        tr(
            "SELECT l_returnflag, countIf(l_quantity > 25) AS n_high, "
            "sumIf(l_extendedprice, l_quantity > 25) AS s_high, "
            "quantileExact(0.5)(l_quantity) AS med "
            "FROM li_v GROUP BY l_returnflag"
        )
    ).collect()
    assert len(out) > 0 and all(r.med is not None for r in out)


def test_prewhere_merges_into_where():
    assert tr("SELECT a FROM t PREWHERE x > 1 WHERE y < 2 ORDER BY a") == (
        "SELECT a FROM t WHERE (x > 1) AND (y < 2) ORDER BY a"
    )
    assert tr("SELECT a FROM t PREWHERE x > 1") == "SELECT a FROM t WHERE x > 1"


def test_sample_and_format():
    assert tr("SELECT a FROM t SAMPLE 0.1") == "SELECT a FROM t TABLESAMPLE (10 PERCENT)"
    assert tr("SELECT a FROM t SAMPLE 10000 WHERE x") == (
        "SELECT a FROM t TABLESAMPLE (10000 ROWS) WHERE x"
    )
    assert tr("SELECT a FROM t FORMAT JSONEachRow") == "SELECT a FROM t"
    # FORMAT only strips at end-of-statement; a column named format survives
    assert tr("SELECT format FROM t") == "SELECT format FROM t"


def test_clause_rewrites_execute(spark, tables):
    tables["lineitem"].createOrReplaceTempView("li_clause")
    out = spark.sql(
        tr(
            "SELECT count(*) AS n FROM li_clause "
            "PREWHERE l_quantity > 10 WHERE l_discount > 0.01 FORMAT JSONEachRow"
        )
    ).collect()
    direct = tables["lineitem"].where("l_quantity > 10 AND l_discount > 0.01").count()
    assert out[0].n == direct


def test_string_array_function_renames():
    assert tr("position(s, 'x')") == "instr(s, 'x')"
    assert tr("has(tags, 'a') AND indexOf(tags, 'b') > 0") == (
        "array_contains(tags, 'a') AND array_position(tags, 'b') > 0"
    )
    assert tr("empty(s) OR notEmpty(t)") == "(length(s) = 0) OR (length(t) > 0)"
    assert tr("arrayUniq(arraySort(xs))") == "size(array_distinct(array_sort(xs)))"
    assert tr("match(s, '^a.*b$')") == "regexp_like(s, '^a.*b$')"
    assert tr("startsWith(s, 'pre')") == "startswith(s, 'pre')"


def test_time_and_math_renames():
    assert tr("toUnixTimestamp(ts)") == "unix_timestamp(ts)"
    assert tr("fromUnixTimestamp(x)") == "from_unixtime(x)"
    assert tr("toTimeZone(ts, 'America/New_York')") == (
        "from_utc_timestamp(ts, 'America/New_York')"
    )
    assert tr("modulo(a, b)") == "mod(a, b)"
    assert "DIV" in tr("intDiv(a + 1, b)")  # stays in long arithmetic


def test_int_div_floor_semantics(spark):
    # ClickHouse intDiv(-7, 2) = -4 (floor); Spark's bare `div` gives -3
    out = spark.sql("SELECT " + tr("intDiv(-7, 2)") + " AS v").first()
    assert out.v == -4
    out = spark.sql("SELECT " + tr("intDiv(7, 2)") + " AS v").first()
    assert out.v == 3
    out = spark.sql("SELECT " + tr("intDiv(7, -2)") + " AS v").first()
    assert out.v == -4
    out = spark.sql("SELECT " + tr("intDiv(-8, 2)") + " AS v").first()
    assert out.v == -4  # exact division: no correction
    # past 2^53 double division drifts; long `div` must stay exact
    big = 9007199254740993  # 2^53 + 1
    out = spark.sql("SELECT " + tr(f"intDiv({big}, 1)") + " AS v").first()
    assert out.v == big


def test_prewhere_subquery_where_depth():
    # the WHERE inside the IN-subquery must NOT terminate the PREWHERE
    # predicate — merge at paren depth 0 only
    out = tr(
        "SELECT a FROM t PREWHERE a IN (SELECT z FROM u WHERE q > 1) "
        "WHERE y < 2 ORDER BY a"
    )
    assert out == (
        "SELECT a FROM t WHERE (a IN (SELECT z FROM u WHERE q > 1)) "
        "AND (y < 2) ORDER BY a"
    )
    # subquery terminators (GROUP/LIMIT) are likewise invisible at depth 0
    out = tr(
        "SELECT a FROM t PREWHERE a IN (SELECT z FROM u GROUP BY z) WHERE y < 2"
    )
    assert out == (
        "SELECT a FROM t WHERE (a IN (SELECT z FROM u GROUP BY z)) AND (y < 2) "
    )


def test_array_lambda_arg_swap():
    assert tr("SELECT arrayMap(x -> x * 2, arr) FROM t") == (
        "SELECT transform(arr, x -> x * 2) FROM t"
    )
    assert tr("SELECT arrayFilter(x -> x > 1, arr) FROM t") == (
        "SELECT filter(arr, x -> x > 1) FROM t"
    )
    assert tr("SELECT arrayExists(x -> x = 0, arr), arrayAll(x -> x != 0, arr) FROM t") == (
        "SELECT exists(arr, x -> x = 0), forall(arr, x -> x != 0) FROM t"
    )
    # two-array arrayMap zips -> zip_with
    assert tr("SELECT arrayMap((a, b) -> a + b, xs, ys) FROM t") == (
        "SELECT zip_with(xs, ys, (a, b) -> a + b) FROM t"
    )
    # nested higher-order calls rewrite inside moved arguments
    assert tr("arrayFilter(y -> y > 0, arrayMap(x -> x - 1, arr))") == (
        "filter(transform(arr, x -> x - 1), y -> y > 0)"
    )
    # non-lambda first arg: left untouched (ClickHouse would error too)
    assert tr("arrayMap(arr)") == "arrayMap(arr)"


def test_array_lambda_swap_executes(spark):
    out = spark.sql(
        "SELECT "
        + tr("arrayFilter(x -> x > 1, arrayMap(x -> x * 2, array(0, 1, 2)))")
        + " AS v"
    ).first()
    assert out.v == [2, 4]
    out2 = spark.sql(
        "SELECT " + tr("arrayMap((a, b) -> a + b, array(1, 2), array(10, 20))") + " AS v"
    ).first()
    assert out2.v == [11, 22]


def test_multi_if_and_split_and_array_join():
    assert tr("SELECT multiIf(a > 1, 'x', a > 0, 'y', 'z') FROM t") == (
        "SELECT (CASE WHEN a > 1 THEN 'x' WHEN a > 0 THEN 'y' ELSE 'z' END) FROM t"
    )
    assert tr("arrayStringConcat(xs, ',')") == "array_join(xs, ',')"
    assert tr("arrayStringConcat(xs)") == "array_join(xs, '')"
    # even arity multiIf is malformed in ClickHouse too: pass through
    assert tr("multiIf(a, b)") == "multiIf(a, b)"


def test_split_by_char_literal_metachar_executes(spark):
    # '.' must split literally, not as a regex wildcard
    out = spark.sql("SELECT " + tr("splitByChar('.', 'a.b.c')") + " AS v").first()
    assert out.v == ["a", "b", "c"]
    out2 = spark.sql("SELECT " + tr("splitByString('||', 'a||b')") + " AS v").first()
    assert out2.v == ["a", "b"]
    out3 = spark.sql(
        "SELECT " + tr("multiIf(1 > 2, 'x', 3 > 2, 'y', 'z')") + " AS v"
    ).first()
    assert out3.v == "y"


def test_int_div_nested_rewrites_fully(spark):
    out = tr("SELECT intDiv(intDiv(a, b), 2) FROM t")
    assert "intDiv" not in out
    # executable floor-semantics check on the nested form:
    # intDiv(intDiv(-7, 2), 2) = intDiv(-4, 2) = -2
    v = spark.sql("SELECT " + tr("intDiv(intDiv(-7, 2), 2)") + " AS v").first().v
    assert v == -2
    # malformed arity stays untouched while well-formed siblings rewrite
    both = tr("SELECT intDiv(a), intDiv(x, y) FROM t")
    assert "intDiv(a)" in both and "intDiv(x, y)" not in both


def test_url_function_family_translates(spark):
    assert tr("domain(u)") == "try_parse_url(u, 'HOST')"
    assert tr("extractURLParameter(u, 'k')") == "try_parse_url(u, 'QUERY', 'k')"
    # name-boundary safety: longer names must not be eaten by shorter ones
    assert "try_parse_url(u, 'FILE')" in tr("pathFull(u)")
    assert tr("cutQueryString(u)").startswith("regexp_replace(u")
    url = "'https://www.ex.example.com/a/b?lang=en&v=3#s1'"
    row = spark.sql(
        "SELECT "
        + tr(f"domain({url})") + " AS host, "
        + tr(f"protocol({url})") + " AS proto, "
        + tr(f"path({url})") + " AS p, "
        + tr(f"queryString({url})") + " AS qs, "
        + tr(f"fragment({url})") + " AS frag, "
        + tr(f"extractURLParameter({url}, 'lang')") + " AS lang, "
        + tr(f"topLevelDomain({url})") + " AS tld, "
        + tr(f"domainWithoutWWW({url})") + " AS nw, "
        + tr(f"cutQueryString({url})") + " AS nq, "
        + tr(f"cutFragment({url})") + " AS nf"
    ).first()
    assert row.host == "www.ex.example.com"
    assert row.proto == "https"
    assert row.p == "/a/b"
    assert row.qs == "lang=en&v=3"
    assert row.frag == "s1"
    assert row.lang == "en"
    assert row.tld == "com"
    assert row.nw == "ex.example.com"
    assert row.nq == "https://www.ex.example.com/a/b#s1"
    assert row.nf == "https://www.ex.example.com/a/b?lang=en&v=3"


def test_uniq_up_to_json_ipv4_translate_and_execute(spark):
    assert tr("uniqUpTo(5)(x)") == "least(count(DISTINCT x), (5) + 1)"
    assert (
        tr("JSONExtractString(j, 'k')")
        == "get_json_object(j, concat('$.', 'k'))"
    )
    row = spark.sql(
        "SELECT "
        + tr("JSONExtractInt('{\"n\": 42}', 'n')") + " AS n, "
        + tr("JSONHas('{\"n\": 42}', 'missing')") + " AS h, "
        + tr("IPv4NumToString(3232235777)") + " AS ip, "
        + tr("IPv4StringToNum('192.168.1.1')") + " AS num"
    ).first()
    assert row.n == 42
    assert row.h is False
    assert row.ip == "192.168.1.1"
    assert row.num == 3232235777


def test_retention_flags_hand_computed(spark):
    from clickhouse_flatfile_tool_spark.operators.events import retention_flags

    df = spark.createDataFrame(
        [
            (1, "signup"), (1, "purchase"),          # r0=1, r1=1, r2=0
            (2, "purchase"), (2, "error"),           # no signup: all gated to 0
            (3, "signup"),                           # r0=1 only
        ],
        "user_id long, event_type string",
    )
    out = {
        r.user_id: (r.r0, r.r1, r.r2)
        for r in retention_flags(
            df,
            ["event_type = 'signup'", "event_type = 'purchase'", "event_type = 'error'"],
        ).collect()
    }
    assert out == {1: (1, 1, 0), 2: (0, 0, 0), 3: (1, 0, 0)}


def test_numbers_table_function(spark):
    out = tr("SELECT number FROM numbers(5)")
    assert out == "SELECT number FROM (SELECT id AS number FROM range(5))"
    assert [r.number for r in spark.sql(out).collect()] == [0, 1, 2, 3, 4]
    out2 = tr("SELECT sum(number) FROM numbers(10, 5)")
    assert spark.sql(out2).first()[0] == 10 + 11 + 12 + 13 + 14


def test_with_totals_executes(spark):
    out = tr("SELECT event_type, count(*) AS n FROM ev GROUP BY event_type WITH TOTALS")
    assert "GROUPING SETS ((event_type), ())" in out
    spark.createDataFrame(
        [("a",), ("a",), ("b",)], "event_type string"
    ).createOrReplaceTempView("ev")
    rows = {r.event_type: r.n for r in spark.sql(out).collect()}
    # NULL key row = the ClickHouse totals row
    assert rows == {"a": 2, "b": 1, None: 3}


def test_quantile_sketch_variants(spark):
    assert tr("quantileTDigest(0.5)(x)") == "approx_percentile(x, 0.5)"
    assert tr("quantilesTiming(0.5, 0.9)(x)") == "approx_percentile(x, array(0.5, 0.9))"
    assert tr("quantile(0.5)(x)") == "percentile(x, 0.5)"
    df = spark.range(101)
    df.createOrReplaceTempView("r")
    v = spark.sql("SELECT " + tr("quantileTDigest(0.5)(id)") + " AS m FROM r").first().m
    assert 45 <= v <= 55


def test_date_family_translates_and_executes(spark):
    row = spark.sql(
        "SELECT "
        + tr("formatDateTime(timestamp'2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S')")
        + " AS f, "
        + tr("dateDiff('day', timestamp'2024-01-01', timestamp'2024-01-31')")
        + " AS dd, "
        + tr("toDayOfWeek(date'2024-01-01')") + " AS dw_mon, "   # 2024-01-01 = Monday
        + tr("toDayOfWeek(date'2024-01-07')") + " AS dw_sun, "   # Sunday
        + tr("toMonday(date'2024-01-03')") + " AS mon, "
        + tr("toYear(date'2024-06-15')") + " AS y, "
        + tr("toQuarter(date'2024-06-15')") + " AS q"
    ).first()
    assert row.f == "2024-03-05 07:08:09"
    assert row.dd == 30
    assert row.dw_mon == 1 and row.dw_sun == 7  # ClickHouse numbering
    assert str(row.mon) == "2024-01-01"
    assert row.y == 2024 and row.q == 2
    # unknown unit / non-literal format: pass through untouched by name
    assert "dateDiff" in tr("dateDiff('fortnight', a, b)")
    assert "formatDateTime" in tr("formatDateTime(ts, fmt_col)")


def test_array_join_and_settings(spark):
    out = tr("SELECT x FROM t ARRAY JOIN arr AS x")
    assert "LATERAL VIEW explode(arr) __aj1 AS x" in out
    out_left = tr("SELECT x FROM t LEFT ARRAY JOIN arr AS x")
    assert "LATERAL VIEW OUTER explode(arr)" in out_left
    # executes: expand rows; LEFT keeps the empty-array row
    spark.createDataFrame(
        [(1, [10, 20]), (2, [])], "id long, arr array<int>"
    ).createOrReplaceTempView("aj")
    rows = spark.sql(tr("SELECT id, x FROM aj ARRAY JOIN arr AS x")).collect()
    assert {(r.id, r.x) for r in rows} == {(1, 10), (1, 20)}
    rows_l = spark.sql(tr("SELECT id, x FROM aj LEFT ARRAY JOIN arr AS x")).collect()
    assert {(r.id, r.x) for r in rows_l} == {(1, 10), (1, 20), (2, None)}
    # SETTINGS clause is dropped
    assert tr("SELECT 1 FROM t SETTINGS max_threads = 4, join_use_nulls = 1") == "SELECT 1 FROM t"
    # multi-array zip form passes through (out of scope, errors by name)
    assert "ARRAY JOIN" in tr("SELECT 1 FROM t ARRAY JOIN a, b AS x")


def test_any_if_uniq_if(spark):
    assert tr("uniqIf(x, c)") == "count(DISTINCT CASE WHEN c THEN x END)"
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, None)], "v long, g string"
    ).createOrReplaceTempView("aiu")
    row = spark.sql(
        "SELECT "
        + tr("anyIf(v, g = 'a')") + " AS first_a, "
        + tr("uniqIf(g, v > 1)") + " AS u "
        "FROM aiu"
    ).first()
    assert row.first_a in (1, 3)  # some row with g='a'
    assert row.u == 2  # {'b','a'} for v>1 (NULL g ignored by count distinct)


def test_global_and_all_join_modifiers(spark):
    assert tr("SELECT 1 FROM a GLOBAL JOIN b ON a.x = b.x") == "SELECT 1 FROM a JOIN b ON a.x = b.x"
    assert tr("SELECT 1 FROM a ALL LEFT JOIN b ON a.x = b.x") == "SELECT 1 FROM a LEFT JOIN b ON a.x = b.x"
    assert tr("SELECT 1 WHERE x GLOBAL IN (1, 2)") == "SELECT 1 WHERE x IN (1, 2)"
    # ANY JOIN semantics differ — stays untouched for Spark to reject by name
    assert "ANY LEFT JOIN" in tr("SELECT 1 FROM a ANY LEFT JOIN b ON a.x = b.x")


def test_limit_by_clause(spark):
    spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8)], "g string, v int"
    ).createOrReplaceTempView("lb")
    out = tr("SELECT g, v FROM lb ORDER BY v DESC LIMIT 2 BY g")
    rows = [(r.g, r.v) for r in spark.sql(out).collect()]
    assert sorted(rows) == [("a", 2), ("a", 3), ("b", 8), ("b", 9)]
    assert "v" in spark.sql(out).columns and "__rn" not in spark.sql(out).columns
    # trailing outer LIMIT becomes the row cap
    out2 = tr("SELECT g, v FROM lb ORDER BY v DESC LIMIT 1 BY g LIMIT 1")
    rows2 = [(r.g, r.v) for r in spark.sql(out2).collect()]
    assert rows2 == [("b", 9)]
    # no top-level ORDER BY: out of scope, passes through by name
    assert "LIMIT 2 BY" in tr("SELECT g FROM lb LIMIT 2 BY g")


def test_array_join_multi_alias_passes_through(spark):
    # per-array-alias multi form must not be half-rewritten into invalid SQL
    assert "ARRAY JOIN" in tr("SELECT 1 FROM t ARRAY JOIN a AS x, b AS y")


def test_misc_function_batch_translate_and_execute(spark):
    """Session-3 function batch: every rewrite executes on Spark with the
    ClickHouse-documented semantics."""
    spark.createDataFrame(
        [(1, [3, 1, 2], "Hello World", "2024-03-05 10:00:00")],
        "id long, arr array<int>, s string, ts string",
    ).createOrReplaceTempView("mf")
    row = spark.sql(
        "SELECT "
        + tr("arraySum(arr)") + " AS asum, "
        + tr("arrayAvg(arr)") + " AS aavg, "
        + tr("arrayMin(arr)") + " AS amin, "
        + tr("arrayMax(arr)") + " AS amax, "
        + tr("arraySlice(arr, 2, 2)") + " AS aslice, "
        + tr("hasAll(arr, [1, 3])") + " AS hall, "
        + tr("hasAll(arr, [1, 9])") + " AS hall_no, "
        + tr("hasAny(arr, [9, 2])") + " AS hany, "
        + tr("bitAnd(6, 3)") + " AS band, "
        + tr("bitOr(4, 1)") + " AS bor, "
        + tr("bitXor(6, 3)") + " AS bxor, "
        + tr("bitNot(0)") + " AS bnot, "
        + tr("bitShiftLeft(1, 4)") + " AS bshl, "
        + tr("positionCaseInsensitive(s, 'WORLD')") + " AS pci, "
        + tr("extractAll(s, '[A-Z]')") + " AS exall, "
        + tr("replaceAll(s, 'l', 'L')") + " AS rall, "
        + tr("replaceRegexpAll(s, '[aeiou]', '_')") + " AS rre, "
        + tr("leftPad(s, 13, '*')") + " AS lp, "
        + tr("trimLeft('  x  ')") + " AS tl, "
        + tr("concatWithSeparator('-', 'a', 'b')") + " AS cws, "
        + tr("lengthUTF8(s)") + " AS lu, "
        + tr("splitByWhitespace('  a b   c ')") + " AS sbw, "
        + tr("base64Decode(base64Encode('hi'))") + " AS b64, "
        + tr("toYYYYMMDD(toDateTime(ts))") + " AS ymd, "
        + tr("toRelativeDayNum(toDate(ts))") + " AS rdn, "
        + tr("addDays(toDateTime(ts), 3)") + " AS ad, "
        + tr("subtractHours(toDateTime(ts), 2)") + " AS sh, "
        + tr("dateSub(DAY, 4, toDateTime(ts))") + " AS ds, "
        + tr("simpleJSONExtractInt('{\"k\": 7}', 'k')") + " AS sje "
        "FROM mf"
    ).first()
    assert row.asum == 6.0 and row.aavg == 2.0
    assert row.amin == 1 and row.amax == 3 and row.aslice == [1, 2]
    assert row.hall and not row.hall_no and row.hany
    assert row.band == 2 and row.bor == 5 and row.bxor == 5
    assert row.bnot == -1 and row.bshl == 16
    assert row.pci == 7
    assert row.exall == ["H", "W"]
    assert row.rall == "HeLLo WorLd" and row.rre == "H_ll_ W_rld"
    assert row.lp == "**Hello World" and row.tl == "x  "
    assert row.cws == "a-b" and row.lu == 11
    assert row.sbw == ["a", "b", "c"] and row.b64 == "hi"
    assert row.ymd == 20240305
    assert row.rdn == 19787  # days since 1970-01-01
    assert str(row.ad).startswith("2024-03-08 10:00") and str(row.sh).startswith("2024-03-05 08:00")
    assert str(row.ds).startswith("2024-03-01 10:00")
    assert row.sje == 7


def test_any_and_anylast_aggregates(spark):
    spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "v long, g string"
    ).createOrReplaceTempView("aal")
    assert tr("any(v)") == "first(v)" and tr("anyLast(v)") == "last(v)"
    row = spark.sql(
        "SELECT " + tr("any(v)") + " AS a, " + tr("anyLast(v)") + " AS al FROM aal"
    ).first()
    assert row.a in (1, 2, 3) and row.al in (1, 2, 3)
    # the ANY join-strictness keyword is untouched by the rename
    assert "ANY LEFT JOIN" in tr("SELECT 1 FROM a ANY LEFT JOIN b ON a.x = b.x")


def test_array_literal_rewrite(spark):
    # literal positions -> array(); access -> try_element_at (CH is
    # 1-based, Spark's bracket operator is 0-based — pass-through would
    # shift every index; try_ yields NULL on OOB where ANSI throws, r5)
    assert tr("SELECT [1, 2, 3]") == "SELECT array(1, 2, 3)"
    assert tr("SELECT arr[1] FROM t") == "SELECT try_element_at(arr, 1) FROM t"
    assert tr("SELECT [[1], [2]]") == "SELECT array(array(1), array(2))"
    assert tr("SELECT CASE WHEN c THEN [1] ELSE [2] END") == (
        "SELECT CASE WHEN c THEN array(1) ELSE array(2) END"
    )
    assert tr("SELECT f(x)[2], [5][1]") == (
        "SELECT try_element_at(f(x), 2), try_element_at(array(5), 1)"
    )
    # chained access, qualified columns, negative (from-end) index
    assert tr("SELECT a.b[1][2]") == "SELECT try_element_at(try_element_at(a.b, 1), 2)"
    # map access (string-literal key survives masking), lambda bodies,
    # function-result indexing
    assert tr("SELECT m['k'] FROM t") == "SELECT try_element_at(m, 'k') FROM t"
    assert tr("SELECT ['a', 'b'][1]") == "SELECT try_element_at(array('a', 'b'), 1)"
    assert tr("SELECT arrayMap(x -> x[1], arr)") == (
        "SELECT transform(arr, x -> try_element_at(x, 1))"
    )
    row = spark.sql(
        tr("SELECT [10, 20, 30][2] AS v, [10, 20, 30][-1] AS w, "
           "arraySum([1.5, 2.5]) AS s, [[7], [8]][2][1] AS n")
    ).first()
    assert row.v == 20 and row.w == 30 and row.s == 4.0 and row.n == 8


def test_array_difference_compact_weighted_quantiles(spark):
    row = spark.sql(
        "SELECT "
        + tr("arrayDifference([1, 4, 9, 16])") + " AS d, "
        + tr("arrayCompact([1, 1, 2, 2, 2, 3, 1])") + " AS c"
    ).first()
    assert row.d == [0, 3, 5, 7]          # first element 0, CH convention
    assert row.c == [1, 2, 3, 1]          # consecutive dups only
    m = spark.sql(
        tr("SELECT quantileExactWeighted(0.5)(x, w) AS m "
           "FROM (SELECT 1 x, 1 w UNION ALL SELECT 10, 9 UNION ALL SELECT 3, 2)")
    ).first()
    assert m.m == 10.0                    # weight-expanded exact median
    q = spark.sql(
        tr("SELECT quantilesExactWeighted(0.25, 0.75)(x, w) AS q "
           "FROM (SELECT 1 x, 3 w UNION ALL SELECT 10, 1)")
    ).first()
    assert q.q == [1.0, 3.25]


def test_uniq_state_merge_roundtrip(spark):
    """uniqState/uniqMerge: the sketch-state pair survives a store-and-merge
    round trip — the AggregatingMergeTree MV read path in SQL."""
    spark.createDataFrame(
        [(d, f"u{i % 37}") for d in (1, 2) for i in range(200)],
        "day int, user string",
    ).createOrReplaceTempView("usm")
    states = spark.sql(
        tr("SELECT day, uniqState(user) AS s FROM usm GROUP BY day")
    )
    states.createOrReplaceTempView("usm_states")
    merged = spark.sql(tr("SELECT uniqMerge(s) AS u FROM usm_states")).first()
    assert abs(merged.u - 37) <= 2  # both days hold the same 37 users


def test_array_difference_empty_and_single(spark):
    """arrayDifference on []/[x] — slice length is clamped to 0 so the
    rewrite returns []/[0] like ClickHouse instead of raising
    INVALID_PARAMETER_VALUE.LENGTH (r3 ADVICE, dialect.py diff_make)."""
    row = spark.sql(
        "SELECT "
        + tr("arrayDifference(array())")
        + " AS e, "
        + tr("arrayDifference([7])")
        + " AS s"
    ).first()
    assert row.e == []
    assert row.s == [0]


def test_in_bracket_list_translates_to_value_list(spark):
    """`x IN [1,2,3]` — the primary CH bracket idiom in the IN position —
    becomes a parenthesized value list (Spark can't parse IN array())."""
    out = tr("SELECT 1 WHERE 2 IN [1, 2, 3]")
    assert "IN (1, 2, 3)" in out
    assert spark.sql(out).count() == 1


def test_string_literal_subscript(spark):
    """'abc'[2] — a bracket after a masked string literal is element
    access, not an array literal; rewritten via substr (1-based, negative
    from the end) since Spark element_at rejects STRING."""
    out = tr("SELECT 'abc'[2] AS c, 'abc'[-1] AS l")
    row = spark.sql(out).first()
    assert (row.c, row.l) == ("b", "c")


def test_empty_on_array_schema_aware(spark):
    """empty()/notEmpty() on ARRAY columns through the schema-aware path:
    with a SparkSession the translator resolves array args to size() via
    analysis feedback; string args keep length() — including mixed in one
    statement (VERDICT r3 #6)."""
    spark.createDataFrame(
        [(1, [1, 2], "a"), (2, [], ""), (3, None, None)],
        "id int, arr array<int>, s string",
    ).createOrReplaceTempView("ea")
    out = tr("SELECT id FROM ea WHERE notEmpty(arr) AND notEmpty(s)", spark=spark)
    assert "size(arr)" in out and "length(s)" in out
    assert [r.id for r in spark.sql(out).collect()] == [1]
    # schema-free translation keeps the documented string-only default
    assert "length(arr)" in tr("SELECT empty(arr) FROM ea")


def test_asof_join_rewrite(spark):
    """ASOF [LEFT] JOIN → union + running last_value over structs named by
    the aliases (VERDICT r3 #8; the single-shuffle sort-merge shape — the
    correlated-LATERAL form measured 263 s vs 0.9 s at sf0.1).  Backward
    probe (>=) takes the latest earlier row; unmatched left rows survive
    only under ASOF LEFT JOIN; strict > excludes exact-timestamp matches."""
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 15)], "k int, t int"
    ).createOrReplaceTempView("asof_a")
    spark.createDataFrame(
        [(1, 5, "x"), (1, 18, "y"), (2, 99, "z")], "k int, bt int, v string"
    ).createOrReplaceTempView("asof_b")
    out = tr(
        "SELECT asof_a.k, asof_a.t, b.v FROM asof_a "
        "ASOF LEFT JOIN asof_b b ON asof_a.k = b.k AND asof_a.t >= b.bt "
        "ORDER BY asof_a.k, asof_a.t"
    )
    assert "last_value(__rv, true)" in out and "UNION ALL" in out
    assert "LATERAL" not in out  # the per-left-row plan must NOT be used
    rows = [tuple(r) for r in spark.sql(out).collect()]
    assert rows == [(1, 10, "x"), (1, 20, "y"), (2, 15, None)]
    inner = tr(
        "SELECT asof_a.k, b.v FROM asof_a "
        "ASOF JOIN asof_b b ON asof_a.k = b.k AND asof_a.t >= b.bt"
    )
    assert {tuple(r) for r in spark.sql(inner).collect()} == {(1, "x"), (1, "y")}
    # forward probe (<=) scans DESC — earliest not-earlier row
    fwd = tr(
        "SELECT asof_a.k, asof_a.t, b.bt FROM asof_a "
        "ASOF JOIN asof_b b ON asof_a.k = b.k AND asof_a.t <= b.bt "
        "ORDER BY asof_a.k, asof_a.t"
    )
    assert [tuple(r) for r in spark.sql(fwd).collect()] == [(1, 10, 18), (2, 15, 99)]
    # strict >: the bt=18 row is no longer an exact match for t=18-free
    # data, but bt=5 still precedes t=10
    strict = tr(
        "SELECT asof_a.k, asof_a.t, b.bt FROM asof_a "
        "ASOF JOIN asof_b b ON asof_a.k = b.k AND asof_a.t > b.bt "
        "ORDER BY asof_a.k, asof_a.t"
    )
    assert [tuple(r) for r in spark.sql(strict).collect()] == [
        (1, 10, 5),
        (1, 20, 18),
    ]


def test_ema_recursive_hand_computed(spark):
    """ema_recursive: fold seeded at the first event; one step of the
    interpolated EMA checked by hand (r3 ADVICE on exponentialMovingAverage)."""
    import datetime

    from clickhouse_flatfile_tool_spark.operators.events import ema_recursive

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10.0),
        (1, t0 + datetime.timedelta(hours=1), 20.0),  # a = 2^-1 = 0.5
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = {r.user_id: r.ema for r in ema_recursive(df, halflife_seconds=3600.0).collect()}
    # ema = 10*0.5 + 20*0.5 = 15
    assert abs(out[1] - 15.0) < 1e-9


def test_round4_function_batch(spark):
    """arrayCumSum / arrayEnumerate / countEqual / bitCount / range /
    exp2 / exp10 / avgWeighted / anyHeavy — round-4 dialect additions,
    hand-computed, including the empty-array edges the sequence()
    descending trap would break."""
    row = spark.sql(
        "SELECT "
        + tr("arrayCumSum([1, 2, 3])")
        + " AS cs, "
        + tr("arrayCumSum(array())")
        + " AS cse, "
        + tr("arrayEnumerate([7, 8])")
        + " AS en, "
        + tr("arrayEnumerate(array())")
        + " AS ene, "
        + tr("countEqual([1, 2, 1, NULL], 1)")
        + " AS ce, "
        + tr("countEqual([1, NULL], NULL)")
        + " AS cen, "
        + tr("bitCount(7)")
        + " AS bc, "
        + tr("range(3)")
        + " AS r1, "
        + tr("range(0)")
        + " AS r0, "
        + tr("range(2, 5)")
        + " AS r2, "
        + tr("round(exp2(10), 1)")
        + " AS e2, "
        + tr("round(exp10(2), 1)")
        + " AS e10"
    ).first()
    assert row.cs == [1.0, 3.0, 6.0]
    assert row.cse == []
    assert row.en == [1, 2]
    assert row.ene == []
    assert row.ce == 2
    assert row.cen == 1
    assert row.bc == 3
    assert row.r1 == [0, 1, 2]
    assert row.r0 == []
    assert row.r2 == [2, 3, 4]
    assert row.e2 == 1024.0
    assert row.e10 == 100.0
    agg = spark.sql(
        tr(
            "SELECT avgWeighted(x, w) AS aw, anyHeavy(x) AS ah "
            "FROM (SELECT 10 AS x, 1 AS w UNION ALL SELECT 20, 3 "
            "UNION ALL SELECT 20, 1)"
        )
    ).first()
    assert agg.aw == 18.0  # (10*1 + 20*3 + 20*1) / 5
    assert agg.ah == 20    # mode


def test_with_fill_rewrite(spark):
    """ORDER BY c WITH FILL FROM/TO/STEP → generated-sequence FULL join:
    gaps appear as NULL-payload rows, original rows survive, TO is
    exclusive."""
    spark.createDataFrame(
        [(1, 10), (2, 20), (5, 50)], "c int, v int"
    ).createOrReplaceTempView("wf")
    out = tr("SELECT c, v FROM wf ORDER BY c WITH FILL FROM 1 TO 6")
    rows = [(r.c, r.v) for r in spark.sql(out).collect()]
    assert rows == [(1, 10), (2, 20), (3, None), (4, None), (5, 50)]
    # unbounded form: min/max scalar subqueries over the base result
    out2 = tr("SELECT c, v FROM wf ORDER BY c WITH FILL")
    rows2 = [(r.c, r.v) for r in spark.sql(out2).collect()]
    assert rows2 == [(1, 10), (2, 20), (3, None), (4, None), (5, 50)]
    # STEP keeps only the progression's fill points; base rows all survive
    out3 = tr("SELECT c, v FROM wf ORDER BY c WITH FILL FROM 1 TO 8 STEP 2")
    rows3 = [(r.c, r.v) for r in spark.sql(out3).collect()]
    assert rows3 == [(1, 10), (2, 20), (3, None), (5, 50), (7, None)]


def test_tuple_and_array_mutators(spark):
    """tuple/tupleElement positional + named access, arrayPush/Pop,
    arrayIntersect, ifNull/nullIf — round-4 batch 2."""
    row = spark.sql(
        "SELECT "
        + tr("tupleElement(tuple(41, 'x'), 1)")
        + " AS t1, "
        + tr("tupleElement(tuple(41, 'x'), 2)")
        + " AS t2, "
        + tr("arrayPushBack([1, 2], 9)")
        + " AS pb, "
        + tr("arrayPushFront([1, 2], 9)")
        + " AS pf, "
        + tr("arrayPopBack([1, 2, 3])")
        + " AS ob, "
        + tr("arrayPopFront([1, 2, 3])")
        + " AS of, "
        + tr("arrayPopBack(array())")
        + " AS oe, "
        + tr("arraySort(arrayIntersect([3, 1, 2, 2], [2, 3, 9]))")
        + " AS ai, "
        + tr("ifNull(NULL, 7)")
        + " AS ifn, "
        + tr("nullIf(5, 5)")
        + " AS nif"
    ).first()
    assert (row.t1, row.t2) == (41, "x")
    assert row.pb == [1, 2, 9] and row.pf == [9, 1, 2]
    assert row.ob == [1, 2] and row.of == [2, 3] and row.oe == []
    assert row.ai == [2, 3]
    assert row.ifn == 7 and row.nif is None
    # named tuple access: CH tuples with explicit names come from CAST or
    # map contexts; the 'name' selector resolves struct fields
    named = spark.sql(
        "SELECT " + tr("tupleElement(named_struct('a', 5, 'b', 6), 'b')") + " AS v"
    ).first()
    assert named.v == 6


def test_sequence_match_and_count(spark):
    """sequenceMatch/sequenceCount curried translation: subsequence state
    machine over the sorted per-key events; count is non-overlapping
    left-to-right; reversed step indices follow the pattern, not the
    argument order; unsupported pattern shapes pass through untouched."""
    import datetime

    rows = [
        (1, 1, "A"), (1, 2, "X"), (1, 3, "B"),
        (2, 1, "B"), (2, 2, "A"),
        (3, 1, "A"), (3, 2, "B"), (3, 3, "A"), (3, 4, "B"),
    ]
    spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, 1, 0, 0, s), t) for u, s, t in rows],
        "u int, ts timestamp, et string",
    ).createOrReplaceTempView("seq_t")
    out = spark.sql(
        tr(
            "SELECT u, "
            "sequenceMatch('(?1).*(?2)')(ts, et = 'A', et = 'B') AS m, "
            "sequenceCount('(?1).*(?2)')(ts, et = 'A', et = 'B') AS c, "
            "sequenceMatch('(?2).*(?1)')(ts, et = 'A', et = 'B') AS rev "
            "FROM seq_t GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, True, 1, False),
        (2, False, 0, True),
        (3, True, 2, True),
    ]
    # time-constraint patterns are out of scope and must pass through
    untouched = tr("SELECT sequenceMatch('(?1)(?t<=3600)(?2)')(ts, a, b) FROM t")
    assert "sequenceMatch" in untouched


def test_assume_not_null_and_value_transform(spark):
    """assumeNotNull is value-identity; CH transform() value mapping via
    map_from_arrays (3- and 4-arg forms); Spark's lambda transform()
    passes through untouched."""
    row = spark.sql(
        "SELECT "
        + tr("assumeNotNull(5)")
        + " AS a, "
        + tr("transform(2, [1, 2, 3], ['a', 'b', 'c'], 'z')")
        + " AS m, "
        + tr("transform(9, [1, 2, 3], ['a', 'b', 'c'], 'z')")
        + " AS d, "
        + tr("transform(9, [1, 2], [10, 20])")
        + " AS i"
    ).first()
    assert (row.a, row.m, row.d, row.i) == (5, "b", "z", 9)
    lam = tr("SELECT transform(arr, x -> x + 1) FROM t")
    assert "transform(arr, x -> x + 1)" in lam


def test_group_by_all_and_star_except_pass_through(spark):
    """ClickHouse GROUP BY ALL and SELECT * EXCEPT are Spark-native —
    translation must leave them alone and they must execute."""
    spark.createDataFrame(
        [(1, "a", 10), (1, "a", 20), (2, "b", 5)], "k int, g string, v int"
    ).createOrReplaceTempView("gba")
    out = spark.sql(
        tr("SELECT k, g, sum(v) AS s FROM gba GROUP BY ALL ORDER BY k")
    ).collect()
    assert [tuple(r) for r in out] == [(1, "a", 30), (2, "b", 5)]
    ex = spark.sql(tr("SELECT * EXCEPT (g) FROM gba ORDER BY k, v")).columns
    assert ex == ["k", "v"]


def test_to_start_of_interval(spark):
    """toStartOfInterval epoch-aligned bucket floor for fixed-width units;
    variable-width units pass through untranslated."""
    out = spark.sql(
        "SELECT "
        + tr("toStartOfInterval(TIMESTAMP '2024-03-05 10:47:33', INTERVAL 15 minute)")
        + " AS m15, "
        + tr("toStartOfInterval(TIMESTAMP '2024-03-05 10:47:33', INTERVAL 6 hour)")
        + " AS h6"
    ).first()
    assert str(out.m15) == "2024-03-05 10:45:00"
    assert str(out.h6) == "2024-03-05 06:00:00"
    assert "toStartOfInterval" in tr("toStartOfInterval(ts, INTERVAL 1 month)")


def test_fold_reduce_and_string_counts(spark):
    """arrayFold lambda reposition, arrayReduce by-name, countSubstrings
    length-delta, countMatches, extract capture-vs-whole, positionUTF8."""
    row = spark.sql(
        "SELECT "
        + tr("arrayFold((acc, x) -> acc * 2 + x, [1, 0, 1], 0)")
        + " AS f, "
        + tr("arrayReduce('max', [3, 9, 4])")
        + " AS rmax, "
        + tr("round(arrayReduce('avg', [1, 2, 3, 4]), 2)")
        + " AS ravg, "
        + tr("countSubstrings('ababab', 'ab')")
        + " AS cs, "
        + tr("countSubstrings('aaa', 'aa')")
        + " AS cs2, "
        + tr("countMatches('a1b22c333', '[0-9]+')")
        + " AS cm, "
        + tr("extract('key=val', 'key=(\\\\w+)')")
        + " AS exg, "
        + tr("extract('abc123', '[0-9]+')")
        + " AS exw, "
        + tr("positionUTF8('haystack', 'st')")
        + " AS p"
    ).first()
    assert row.f == 5            # binary 101
    assert row.rmax == 9 and row.ravg == 2.5
    assert row.cs == 3
    assert row.cs2 == 1          # non-overlapping, length-delta trick
    assert row.cm == 3
    assert row.exg == "val" and row.exw == "123"
    assert row.p == 4
    # SQL-standard extract passes through untouched
    assert tr("extract(YEAR FROM ts)") == "extract(YEAR FROM ts)"


def test_uniq_sketch_family(spark):
    """uniqCombined/uniqCombined64/uniqTheta/uniqHLL12 all map to the
    HLL++ aggregate; estimates land near exact on a small set."""
    spark.createDataFrame(
        [(i % 50,) for i in range(500)], "x int"
    ).createOrReplaceTempView("usf")
    row = spark.sql(
        tr(
            "SELECT uniqCombined(x) AS a, uniqCombined64(x) AS b, "
            "uniqTheta(x) AS c, uniqHLL12(x) AS d FROM usf"
        )
    ).first()
    for v in row:
        assert abs(v - 50) <= 3


def test_double_quoted_identifiers_become_backticks(spark):
    """CH double quotes are ANSI identifier quoting, not string literals —
    Spark's default mode would read "name" as a constant string, silently
    corrupting the query.  Double quotes inside single-quoted literals
    stay put."""
    spark.createDataFrame(
        [(1, "x")], "id int, `user name` string"
    ).createOrReplaceTempView("dqi")
    out = tr('SELECT "user name", id FROM dqi WHERE "user name" = \'x\'')
    assert "`user name`" in out and '"' not in out
    assert [tuple(r) for r in spark.sql(out).collect()] == [("x", 1)]
    lit = tr("SELECT 'he said \"hi\"' AS s")
    assert '"hi"' in lit  # double quotes inside a string literal survive


def test_stat_aggregate_renames(spark):
    """Moment aggregates: stddev/var/covar map 1:1; skewPop is Spark's
    skewness verbatim (both population m3/m2^1.5); kurtPop needs +3
    (Spark kurtosis is the excess/Fisher form)."""
    import math

    xs = [1.0, 2.0, 2.0, 3.0, 7.0]
    spark.createDataFrame(
        [(x, 2 * x + 1) for x in xs], "x double, y double"
    ).createOrReplaceTempView("stats_t")
    row = spark.sql(
        tr(
            "SELECT varPop(x) AS vp, varSamp(x) AS vs, stddevPop(x) AS sp, "
            "covarPop(x, y) AS cv, skewPop(x) AS sk, kurtPop(x) AS ku, "
            "tupleElement(simpleLinearRegression(x, y), 1) AS slope "
            "FROM stats_t"
        )
    ).first()
    n = len(xs)
    mu = sum(xs) / n
    m2 = sum((v - mu) ** 2 for v in xs) / n
    m3 = sum((v - mu) ** 3 for v in xs) / n
    m4 = sum((v - mu) ** 4 for v in xs) / n
    assert abs(row.vp - m2) < 1e-9
    assert abs(row.vs - m2 * n / (n - 1)) < 1e-9
    assert abs(row.sp - math.sqrt(m2)) < 1e-9
    assert abs(row.cv - 2 * m2) < 1e-9
    assert abs(row.sk - m3 / m2**1.5) < 1e-9
    assert abs(row.ku - m4 / m2**2) < 1e-9  # Pearson, not excess
    assert abs(row.slope - 2.0) < 1e-9


def test_hash_and_arith_function_forms(spark):
    """Crypto hashes return byte values (unhex of Spark's hex output) so
    hex(MD5(x)) agrees with CH up to case; function-form arithmetic maps
    to the operators; intDivOrZero guards division by zero."""
    row = spark.sql(
        tr(
            "SELECT hex(MD5('abc')) AS m, hex(SHA256('abc')) AS s, "
            "plus(2, 3) AS p, minus(2, 3) AS mi, multiply(6, 7) AS mu, "
            "divide(7, 2) AS d, intDiv(7, 2) AS id, "
            "intDivOrZero(7, 0) AS iz, negate(5) AS ng"
        )
    ).first()
    # ClickHouse hex() is uppercase; Spark's is too for unhexed binary
    assert row.m == "900150983CD24FB0D6963F7D28E17F72"
    assert row.s == (
        "BA7816BF8F01CFEA414140DE5DAE2223B00361A396177A9CB410FF61F20015AD"
    )
    assert (row.p, row.mi, row.mu, row.d, row.id, row.iz, row.ng) == (
        5, -1, 42, 3.5, 3, 0, -5
    )


def test_multi_search_any(spark):
    out = spark.sql(
        tr(
            "SELECT multiSearchAny('hello world', ['lo w', 'zzz']) AS a, "
            "multiSearchAny('hello', ['zzz']) AS b, "
            "multiSearchAnyCaseInsensitive('HeLLo', ['ell']) AS c"
        )
    ).first()
    assert (out.a, out.b, out.c) == (True, False, True)


def test_retention_aggregate(spark):
    """retention(c1, …): r[0] = OR-rows(c1); r[i] = OR-rows(ci) AND r[0] —
    the CH cohort-retention aggregate (anchor condition gates the rest)."""
    rows = [(1, "a"), (1, "c"), (2, "b"), (2, "c"), (3, "a"), (3, "b")]
    spark.createDataFrame(rows, "u int, et string").createOrReplaceTempView(
        "ret_t"
    )
    out = spark.sql(
        tr(
            "SELECT u, retention(et = 'a', et = 'b', et = 'c') AS r "
            "FROM ret_t GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.r) for r in out] == [
        (1, [1, 0, 1]),
        (2, [0, 0, 0]),  # anchor missing gates everything
        (3, [1, 1, 0]),
    ]


def test_window_funnel_dialect(spark):
    """windowFunnel(W)(ts, c1..ck) single-fold translation: per level the
    most recent chain anchor is kept (maximal ⇒ exact for default mode).
    Covers: full chain in window, deadline exceeded, later re-anchor
    rescuing a chain the first anchor can't finish."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def ev(u, sec, et):
        return (u, t0 + datetime.timedelta(seconds=sec), et)

    rows = [
        # u1: A@0 B@10 C@20, W=30 → 3
        ev(1, 0, "A"), ev(1, 10, "B"), ev(1, 20, "C"),
        # u2: A@0 B@10 C@50, W=30 → C misses the deadline → 2
        ev(2, 0, "A"), ev(2, 10, "B"), ev(2, 50, "C"),
        # u3: A@0 A@40 B@45 C@60, W=30 → first anchor dies, A@40 chain
        # completes (re-anchor dominance) → 3
        ev(3, 0, "A"), ev(3, 40, "A"), ev(3, 45, "B"), ev(3, 60, "C"),
        # u4: B then A only → 1
        ev(4, 0, "B"), ev(4, 10, "A"),
    ]
    spark.createDataFrame(
        rows, "u int, ts timestamp, et string"
    ).createOrReplaceTempView("wf_t")
    out = spark.sql(
        tr(
            "SELECT u, windowFunnel(30)(ts, et = 'A', et = 'B', et = 'C') "
            "AS lvl FROM wf_t GROUP BY u ORDER BY u"
        )
    ).collect()
    assert [(r.u, r.lvl) for r in out] == [(1, 3), (2, 2), (3, 3), (4, 1)]
    # strict modes / non-literal windows pass through for the DataFrame
    # operator (events.window_funnel) to handle
    untouched = tr("SELECT windowFunnel(30, 'strict_order')(ts, a, b) FROM t")
    assert "windowFunnel" in untouched


def test_finiteness_decimal_and_rounding_batch(spark):
    """Batch 5: isFinite/isInfinite/isNaN/ifNotFinite (NaN is neither
    finite nor infinite, CH semantics), toDecimal32/64 scale casts,
    roundBankers = bround, toUUID/generateUUIDv4."""
    row = spark.sql(
        tr(
            "SELECT isFinite(1.0) AS a, isFinite(toFloat64('Infinity')) AS b, "
            "isFinite(sqrt(-1)) AS c, isInfinite(toFloat64('-Infinity')) AS d, "
            "isInfinite(sqrt(-1)) AS e, isNaN(sqrt(-1)) AS f, "
            "ifNotFinite(toFloat64('Infinity'), -1.0) AS g, ifNotFinite(2.5, -1.0) AS h, "
            "toDecimal64(1.005, 2) AS dec, roundBankers(2.5) AS rb, "
            "roundBankers(3.5) AS rb2, length(generateUUIDv4()) AS u"
        )
    ).first()
    assert (row.a, row.b, row.c) == (True, False, False)
    assert (row.d, row.e, row.f) == (True, False, True)
    assert (row.g, row.h) == (-1.0, 2.5)
    assert str(row.dec) in ("1.00", "1.01")  # decimal cast at scale 2
    assert (row.rb, row.rb2) == (2.0, 4.0)  # half-to-even
    assert row.u == 36


def test_lambda_accessors_and_splits(spark):
    """Batch 6: arrayFirst/arrayLast (NULL when nothing matches — the one
    documented divergence from CH's typed default), arrayFirstIndex /
    arrayCount with CH's exact none-semantics, splitByRegexp arg swap,
    alphaTokens maximal alpha runs."""
    row = spark.sql(
        tr(
            "SELECT arrayFirst(x -> x > 2, [1, 3, 5]) AS f, "
            "arrayLast(x -> x > 2, [1, 3, 5]) AS l, "
            "arrayFirst(x -> x > 9, [1, 3]) AS none_f, "
            "arrayFirstIndex(x -> x > 2, [1, 3, 5]) AS fi, "
            "arrayFirstIndex(x -> x > 9, [1, 3]) AS fi0, "
            "arrayCount(x -> x > 2, [1, 3, 5]) AS cnt, "
            "arrayCount([0, 2, 0, 5]) AS cnz, "
            "splitByRegexp('[0-9]+', 'a12b3c') AS sr, "
            "alphaTokens('ab.12cd--ef') AS at"
        )
    ).first()
    assert (row.f, row.l, row.none_f) == (3, 5, None)
    assert (row.fi, row.fi0, row.cnt, row.cnz) == (2, 0, 2, 2)
    assert row.sr == ["a", "b", "c"]
    assert row.at == ["ab", "cd", "ef"]


def test_batch7_array_and_string(spark):
    """Batch 7a: arrayResize (NULL pad — documented divergence from CH's
    typed default), arrayRotateLeft/Right incl. oversized/negative n and
    empty arrays, arrayProduct Float64, arrayCumSumNonNegative clamping,
    tokens/ngrams character ops."""
    row = spark.sql(
        tr(
            "SELECT arrayResize([1, 2, 3], 2) AS shrink, "
            "arrayResize([1, 2], 4) AS pad_null, "
            "arrayResize([1, 2], 4, 9) AS pad_fill, "
            "arrayResize([1, 2], 0) AS to_zero, "
            "arrayRotateLeft([1, 2, 3, 4], 1) AS rl, "
            "arrayRotateLeft([1, 2, 3, 4], 6) AS rl_big, "
            "arrayRotateRight([1, 2, 3, 4], 1) AS rr, "
            "arrayRotateLeft([1, 2, 3, 4], -1) AS rl_neg, "
            "arrayRotateLeft(arrayResize([1], 0), 2) AS rl_empty, "
            "arrayProduct([1, 2, 3, 4]) AS prod, "
            "arrayCumSumNonNegative([1, 1, -4, 1]) AS cnn, "
            "tokens('ab_cd 12;ef') AS toks, "
            "ngrams('abcd', 3) AS ng, "
            "ngrams('ab', 3) AS ng_short"
        )
    ).first()
    assert row.shrink == [1, 2]
    assert row.pad_null == [1, 2, None, None]
    assert row.pad_fill == [1, 2, 9, 9]
    assert row.to_zero == []
    assert (row.rl, row.rl_big) == ([2, 3, 4, 1], [3, 4, 1, 2])
    assert (row.rr, row.rl_neg) == ([4, 1, 2, 3], [4, 1, 2, 3])
    assert row.rl_empty == []
    assert row.prod == 24.0
    assert row.cnn == [1.0, 2.0, 0.0, 1.0]
    assert row.toks == ["ab", "cd", "12", "ef"]
    assert row.ng == ["abc", "bcd"]
    assert row.ng_short == []


def test_batch7_datetime_bits_geo_format(spark):
    """Batch 7b: five/ten/fifteen-minute buckets + timeSlot, Modified
    Julian Day round-trip, bitTest family (UInt8-style 0/1), readable
    size/quantity formatting, great-circle distance (haversine on CH's
    radius — agrees to ~4 significant digits, asserted loosely)."""
    row = spark.sql(
        tr(
            "SELECT toStartOfFiveMinutes(toDateTime('2024-03-05 10:17:44')) AS m5, "
            "toStartOfFifteenMinutes(toDateTime('2024-03-05 10:17:44')) AS m15, "
            "timeSlot(toDateTime('2024-03-05 10:44:00')) AS slot, "
            "toModifiedJulianDay('1858-11-17') AS mjd0, "
            "toModifiedJulianDay('2020-01-01') AS mjd, "
            "fromModifiedJulianDay(58849) AS from_mjd, "
            "bitTest(5, 0) AS b0, bitTest(5, 1) AS b1, "
            "bitTestAll(5, 0, 2) AS ball, bitTestAny(5, 1, 3) AS bany, "
            "formatReadableSize(123456789) AS fsize, "
            "formatReadableSize(0) AS fzero, "
            "formatReadableQuantity(1234567) AS fqty, "
            "formatReadableQuantity(123) AS fqty_small, "
            "greatCircleDistance(-0.1278, 51.5074, 2.3522, 48.8566) AS dist, "
            "monthName(toDate('2024-03-05')) AS mn, "
            "mapKeys(map('a', 1)) AS mk, mapContains(map('a', 1), 'b') AS mc"
        )
    ).first()
    assert str(row.m5) == "2024-03-05 10:15:00"
    assert str(row.m15) == "2024-03-05 10:15:00"
    assert str(row.slot) == "2024-03-05 10:30:00"
    assert (row.mjd0, row.mjd) == (0, 58849)
    assert str(row.from_mjd) == "2020-01-01"
    assert (row.b0, row.b1, row.ball, row.bany) == (1, 0, 1, 0)
    assert row.fsize == "117.74 MiB"  # matches ClickHouse output
    assert row.fzero == "0.00 B"
    assert row.fqty == "1.23 million"
    assert row.fqty_small == "123.00"
    assert abs(row.dist - 343_550) < 1500  # London→Paris ≈ 343.5 km
    assert row.mn == "March"
    assert (row.mk, row.mc) == (["a"], False)


def test_batch7_rand_family(spark):
    """randCanonical/randUniform/randNormal translate to Spark's rand/
    randn forms; values are nondeterministic so only ranges assert."""
    row = spark.sql(
        tr(
            "SELECT randCanonical() AS rc, randUniform(5, 6) AS ru, "
            "randNormal(100, 0.001) AS rn"
        )
    ).first()
    assert 0.0 <= row.rc < 1.0
    assert 5.0 <= row.ru < 6.0
    assert 99.0 < row.rn < 101.0


def test_batch8_vector_math(spark):
    """Batch 8a: the CH vector family over array columns — dot product,
    Lp distances and norms, cosineDistance (NULL on zero vector — the
    documented divergence from CH's nan)."""
    row = spark.sql(
        tr(
            "SELECT arrayDotProduct([1.0, 2.0], [3.0, 4.0]) AS dp, "
            "dotProduct([1, 2], [3, 4]) AS dpi, "
            "arrayL1Distance([1.0, -2.0], [4.0, 2.0]) AS l1, "
            "arrayL2Distance([0.0, 0.0], [3.0, 4.0]) AS l2, "
            "arrayL2SquaredDistance([0.0, 0.0], [3.0, 4.0]) AS l2sq, "
            "arrayLinfDistance([1.0, 5.0], [2.0, 9.0]) AS linf, "
            "L1Norm([1.0, -2.0]) AS n1, L2Norm([3.0, 4.0]) AS n2, "
            "LinfNorm([-7.0, 2.0]) AS ninf, "
            "round(cosineDistance([1.0, 0.0], [0.0, 1.0]), 6) AS cd_orth, "
            "round(cosineDistance([1.0, 2.0], [2.0, 4.0]), 6) AS cd_same, "
            "cosineDistance([0.0, 0.0], [1.0, 0.0]) AS cd_zero"
        )
    ).first()
    assert (row.dp, row.dpi) == (11.0, 11.0)
    assert (row.l1, row.l2, row.l2sq, row.linf) == (7.0, 5.0, 25.0, 4.0)
    assert (row.n1, row.n2, row.ninf) == (3.0, 5.0, 7.0)
    assert (row.cd_orth, row.cd_same) == (1.0, 0.0)
    assert row.cd_zero is None


def test_batch8_tokens_bits_misc(spark):
    """Batch 8b: hasToken boundary rule, argMaxIf/argMinIf combinators,
    arrayReverseSort/arrayEnumerateDense, bitmaskToList string output,
    intExp2/intExp10, tryBase64Decode '' on garbage, toLastDayOfMonth."""
    spark.createDataFrame(
        [(1, 10.0, "a"), (2, 30.0, "b"), (3, 20.0, "c"), (4, 99.0, "skip")],
        "k int, v double, tag string",
    ).createOrReplaceTempView("b8")
    row = spark.sql(
        tr(
            "SELECT hasToken('ab_cd ef', 'cd') AS ht, "
            "hasToken('abcd ef', 'bc') AS ht_sub, "
            "hasTokenCaseInsensitive('AB cd', 'ab') AS htc, "
            "arrayReverseSort([1, 3, 2]) AS ars, "
            "arrayEnumerateDense([10, 20, 10, 30]) AS aed, "
            "bitmaskToList(50) AS bml, "
            "intExp2(10) AS e2, intExp10(3) AS e10, "
            "tryBase64Decode('YWJj') AS b64, "
            "tryBase64Decode('!!invalid!!') AS b64bad, "
            "toLastDayOfMonth(toDate('2024-02-05')) AS ldm"
        )
    ).first()
    assert row.ht and not row.ht_sub and row.htc
    assert row.ars == [3, 2, 1]
    assert row.aed == [1, 2, 1, 3]
    assert row.bml == "2,16,32"
    assert (row.e2, row.e10) == (1024, 1000)
    assert (row.b64, row.b64bad) == ("abc", "")
    assert str(row.ldm) == "2024-02-29"
    agg = spark.sql(
        tr(
            "SELECT argMaxIf(tag, v, tag != 'skip') AS amx, "
            "argMinIf(tag, v, tag != 'skip') AS amn FROM b8"
        )
    ).first()
    assert (agg.amx, agg.amn) == ("b", "a")


def test_window_navigation_renames(spark):
    """lagInFrame/leadInFrame/firstValue/lastValue/nthValue map to
    Spark's window navigation functions (default-frame semantics agree;
    explicit-frame clipping is the documented divergence)."""
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "i int, v int"
    ).createOrReplaceTempView("wn")
    rows = spark.sql(
        tr(
            "SELECT i, lagInFrame(v, 1) OVER (ORDER BY i) AS lg, "
            "leadInFrame(v) OVER (ORDER BY i) AS ld, "
            "firstValue(v) OVER (ORDER BY i) AS fv, "
            "lastValue(v) OVER (ORDER BY i) AS lv, "
            "nthValue(v, 2) OVER (ORDER BY i) AS nv "
            "FROM wn ORDER BY i"
        )
    ).collect()
    assert [r.lg for r in rows] == [None, 10, 20]
    assert [r.ld for r in rows] == [20, 30, None]
    assert [r.fv for r in rows] == [10, 10, 10]
    assert [r.lv for r in rows] == [10, 20, 30]
    assert [r.nv for r in rows] == [None, 20, 20]


def test_batch9_misc(spark):
    """Batch 9: sumCount tuple, boundingRatio slope, toRelative*Num epoch
    buckets, dateName literal parts, arrayJaccardIndex, toDecimalString,
    byteHammingDistance (incl. length-delta), translateUTF8, makeDate /
    makeDateTime, Unix-64 milli round-trip, -Stable aggregate renames."""
    spark.createDataFrame(
        [(1.0, 10.0), (2.0, 40.0), (3.0, 30.0)], "x double, y double"
    ).createOrReplaceTempView("b9")
    agg = spark.sql(
        tr(
            "SELECT sumCount(x) AS sc, boundingRatio(x, y) AS br, "
            "round(corrStable(x, y), 6) AS cs FROM b9"
        )
    ).first()
    assert (agg.sc.col1, agg.sc.col2) == (6.0, 3)
    assert agg.br == 10.0  # (30 - 10) / (3 - 1)
    assert abs(agg.cs - 0.654654) < 1e-6  # corr of (1,10),(2,40),(3,30)
    row = spark.sql(
        tr(
            "SELECT toRelativeHourNum(toDateTime('1970-01-02 03:00:00')) AS rh, "
            "toRelativeDayNum(toDateTime('1970-01-05 00:00:00')) AS rd, "
            "dateName('month', toDate('2024-03-05')) AS mn, "
            "dateName('weekday', toDate('2024-03-05')) AS wd, "
            "dateName('year', toDate('2024-03-05')) AS yr, "
            "round(arrayJaccardIndex([1, 2, 3], [2, 3, 4]), 6) AS aj, "
            "toDecimalString(1.5, 2) AS ds, "
            "byteHammingDistance('abc', 'abd') AS hd, "
            "byteHammingDistance('abcde', 'abd') AS hd_len, "
            "translateUTF8('abca', 'ab', 'xy') AS tl, "
            "makeDate(2024, 3, 5) AS md, "
            "makeDateTime(2024, 3, 5, 10, 30, 0) AS mdt, "
            "toUnixTimestamp64Milli(fromUnixTimestamp64Milli(1700000000123)) AS ms, "
            "size(arrayRandomSample([1, 2, 3, 4], 2)) AS rs"
        )
    ).first()
    assert (row.rh, row.rd) == (27, 4)
    assert (row.mn, row.wd, row.yr) == ("March", "Tuesday", "2024")
    assert row.aj == 0.5
    assert row.ds == "1.50"
    assert (row.hd, row.hd_len) == (1, 3)
    assert row.tl == "xyцx".replace("ц", "c")  # translate maps a->x, b->y
    assert str(row.md) == "2024-03-05"
    assert str(row.mdt) == "2024-03-05 10:30:00"
    assert row.ms == 1700000000123
    assert row.rs == 2


def test_batch10_string_search(spark):
    """Batch 10: multiSearchFirstPosition (0 when absent), 3-arg
    position→locate, countSubstringsCaseInsensitive, replaceOne first-
    occurrence splice, splitByWhitespace/splitByNonAlpha,
    substringIndex/reverseUTF8 renames."""
    row = spark.sql(
        tr(
            "SELECT multiSearchFirstPosition('hello world', ['wor', 'ell']) AS mfp, "
            "multiSearchFirstPosition('abc', ['xy', 'zq']) AS mfp0, "
            "position('abcabc', 'bc', 3) AS p3, "
            "countSubstringsCaseInsensitive('aBAbab', 'ab') AS csci, "
            "replaceOne('a-b-c', '-', '+') AS ro, "
            "replaceOne('abc', 'zz', '+') AS ro_none, "
            "splitByWhitespace('a  b\\tc') AS sw, "
            "splitByNonAlpha('ab_cd;12') AS sna, "
            "substringIndex('a.b.c', '.', 2) AS si, "
            "reverseUTF8('abc') AS rv"
        )
    ).first()
    assert (row.mfp, row.mfp0) == (2, 0)  # 'ell' at 2 beats 'wor' at 7
    assert row.p3 == 5
    assert row.csci == 3
    assert (row.ro, row.ro_none) == ("a+b-c", "abc")
    assert row.sw == ["a", "b", "c"]
    assert row.sna == ["ab", "cd", "12"]
    assert row.si == "a.b"
    assert row.rv == "cba"


def test_batch11_misc(spark):
    """Batch 11: toTime anchor date, toDateTime64/now64, typed empty
    arrays, toInterval* via make_interval, arrayWithConstant,
    identity/materialize/ignore, toYYYYMMDDhhmmss, Joda-syntax formats,
    isZeroOrNull, moduloOrZero, bitRotateLeft, accurateCast[OrNull],
    toDate32/max2/min2 renames, session zero-arg renames."""
    row = spark.sql(
        tr(
            "SELECT toTime(toDateTime('2024-03-05 10:17:44')) AS tt, "
            "toDateTime64('2024-01-01 00:00:00.123', 3) AS dt64, "
            "emptyArrayInt64() AS ea, "
            "toDateTime('2024-03-05 00:00:00') + toIntervalDay(3) AS iv, "
            "arrayWithConstant(3, 7) AS awc, "
            "identity(5) AS idn, materialize(6) AS mz, ignore(99, 'x') AS ig, "
            "toYYYYMMDDhhmmss(toDateTime('2024-03-05 10:17:44')) AS ymdhms, "
            "fromUnixTimestampInJodaSyntax(86400, 'yyyy-MM-dd') AS joda, "
            "isZeroOrNull(0) AS zn0, isZeroOrNull(5) AS zn5, "
            "isZeroOrNull(NULL) AS znn, "
            "moduloOrZero(5, 0) AS mz0, moduloOrZero(7, 3) AS mz3, "
            "bitRotateLeft(1, 3) AS brl, "
            "accurateCast('42', 'Int64') AS ac, "
            "accurateCastOrNull('xx', 'Int64') AS acn, "
            "toDate32('2024-01-01') AS d32, "
            "max2(1, 2) AS mx, min2(1, 2) AS mn"
        )
    ).first()
    assert str(row.tt) == "1970-01-02 10:17:44"
    assert str(row.dt64) == "2024-01-01 00:00:00.123000"
    assert row.ea == []
    assert str(row.iv) == "2024-03-08 00:00:00"
    assert row.awc == [7, 7, 7]
    assert (row.idn, row.mz, row.ig) == (5, 6, 0)
    assert row.ymdhms == 20240305101744
    assert row.joda == "1970-01-02"
    assert (row.zn0, row.zn5, row.znn) == (1, 0, 1)
    assert (row.mz0, row.mz3) == (0, 1)
    assert row.brl == 8
    assert (row.ac, row.acn) == (42, None)
    assert str(row.d32) == "2024-01-01"
    assert (row.mx, row.mn) == (2, 1)


def test_batch12_map_lambdas(spark):
    """Batch 12: mapFilter/mapExists/mapAll (CH lambda-first argument
    order), mapFromArrays rename."""
    row = spark.sql(
        tr(
            "SELECT mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf, "
            "mapExists((k, v) -> v > 1, map('a', 1, 'b', 2)) AS me, "
            "mapExists((k, v) -> v > 9, map('a', 1)) AS me0, "
            "mapAll((k, v) -> v > 0, map('a', 1, 'b', 2)) AS ma, "
            "mapAll((k, v) -> v > 1, map('a', 1, 'b', 2)) AS ma0, "
            "mapFromArrays(['x', 'y'], [1, 2]) AS mfa"
        )
    ).first()
    assert row.mf == {"b": 2}
    assert row.me and not row.me0
    assert row.ma and not row.ma0
    assert row.mfa == {"x": 1, "y": 2}


def test_batch13_aggregate_combinators(spark):
    """Batch 13: -Array combinator (element folds under the group
    aggregate), -Distinct, -OrNull renames."""
    spark.createDataFrame(
        [("a", [1.0, 2.0], 1), ("a", [3.0], 1), ("b", [], 2)],
        "g string, arr array<double>, x int",
    ).createOrReplaceTempView("b13")
    rows = {
        r.g: (r.sa, r.mna, r.mxa, r.ava, r.cta)
        for r in spark.sql(
            tr(
                "SELECT g, sumArray(arr) AS sa, minArray(arr) AS mna, "
                "maxArray(arr) AS mxa, round(avgArray(arr), 6) AS ava, "
                "countArray(arr) AS cta FROM b13 GROUP BY g"
            )
        ).collect()
    }
    assert rows["a"] == (6.0, 1.0, 3.0, 2.0, 3)
    assert rows["b"][0] == 0.0 and rows["b"][4] == 0
    agg = spark.sql(
        tr(
            "SELECT sumDistinct(x) AS sd, countDistinct(x) AS cd, "
            "sumOrNull(x) AS sn FROM b13"
        )
    ).first()
    assert (agg.sd, agg.cd, agg.sn) == (3, 2, 4)


def test_curried_histogram(spark):
    """histogram(N)(x) -> histogram_numeric(x, N): N adaptive centroids
    covering the value range (engine-specific bin placement — structure
    asserted, not values)."""
    spark.range(100).selectExpr("CAST(id AS DOUBLE) AS v").createOrReplaceTempView(
        "hgr"
    )
    row = spark.sql(tr("SELECT histogram(5)(v) AS h FROM hgr")).first()
    assert len(row.h) == 5
    assert sum(c["y"] for c in row.h) == 100  # counts cover every row
    xs = [c["x"] for c in row.h]
    assert xs == sorted(xs) and 0 <= xs[0] and xs[-1] <= 99


def test_batch14_ip_functions(spark):
    """Batch 14: IP validity predicates (strict octets, no leading
    zeros), CIDR range as the positional (col1, col2) struct."""
    row = spark.sql(
        tr(
            "SELECT isIPv4String('10.0.0.1') AS v4, "
            "isIPv4String('256.1.1.1') AS bad_oct, "
            "isIPv4String('01.2.3.4') AS lead0, "
            "isIPv6String('2001:db8::8a2e:370:7334') AS v6, "
            "isIPv6String('::') AS v6z, "
            "isIPv6String('not-an-ip') AS v6bad, "
            "IPv4CIDRToRange(IPv4StringToNum('192.168.5.2'), 16) AS r"
        )
    ).first()
    assert row.v4 and not row.bad_oct and not row.lead0
    assert row.v6 and row.v6z and not row.v6bad
    assert (row.r.col1, row.r.col2) == ("192.168.0.0", "192.168.255.255")


def test_batch14_map_arithmetic(spark):
    """Batch 14: mapAdd/mapSubtract key-union cell math,
    mapPopulateSeries dense integer range."""
    row = spark.sql(
        tr(
            "SELECT mapAdd(map(1, 10, 2, 20), map(2, 5, 3, 7)) AS ma, "
            "mapSubtract(map(1, 10, 2, 20), map(2, 5)) AS ms, "
            "mapPopulateSeries(map(1, 10, 4, 40)) AS mp"
        )
    ).first()
    assert row.ma == {1: 10, 2: 25, 3: 7}
    assert row.ms == {1: 10, 2: 15}
    assert row.mp == {1: 10, 2: 0, 3: 0, 4: 40}


def test_batch14_moving_and_delta(spark):
    """Batch 14: groupArrayMovingSum = prefix sums (default window = row
    count), MovingAvg divides by that window, deltaSum keeps positive
    consecutive deltas only."""
    spark.createDataFrame(
        [(1, 1.0), (1, 3.0), (1, 2.0), (1, 6.0)], "g int, v double"
    ).createOrReplaceTempView("b14mv")
    sub = "(SELECT * FROM b14mv ORDER BY v) "
    row = spark.sql(
        tr(
            "SELECT g, groupArrayMovingSum(v) AS ms, "
            "groupArrayMovingAvg(v) AS mavg, deltaSum(v) AS ds "
            "FROM " + sub + "GROUP BY g"
        )
    ).first()
    assert row.ms == [1.0, 3.0, 6.0, 12.0]
    assert row.mavg == [0.25, 0.75, 1.5, 3.0]
    assert row.ds == 5.0


def test_batch14_round_family(spark):
    """Batch 14: roundToExp2 / roundDown / roundAge / roundDuration
    bucket-floor ladders (CH FunctionRoundAge/Duration tables)."""
    row = spark.sql(
        tr(
            "SELECT roundToExp2(100) AS e2, roundToExp2(0.5) AS e2z, "
            "roundDown(7, [1, 5, 10]) AS rd, roundDown(0, [1, 5, 10]) AS rdz, "
            "roundAge(30) AS ra, roundAge(16) AS ra17, roundAge(70) AS ra55, "
            "roundDuration(250) AS du, roundDuration(0) AS duz, "
            "intExp2(10) AS i2, intExp10(6) AS i10, "
            "bitHammingDistance(15, 1) AS hd"
        )
    ).first()
    assert (row.e2, row.e2z) == (64, 0)
    assert (row.rd, row.rdz) == (5, 1)
    assert (row.ra, row.ra17, row.ra55) == (25, 17, 55)
    assert (row.du, row.duz) == (240, 0)
    assert (row.i2, row.i10, row.hd) == (1024, 1000000, 3)


def test_batch14_replace_one_auc_digests(spark):
    """Batch 14: replaceOne first-occurrence splice, arrayAUC rank-sum
    (0.75 for the sklearn doc example), digest renames and UTF-8
    validity."""
    row = spark.sql(
        tr(
            "SELECT replaceOne('aXbXc', 'X', '-') AS r1, "
            "replaceOne('abc', 'z', '-') AS r2, "
            "round(arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]), 4) AS auc, "
            "farmHash64('x') = xxHash64('x') AS h64, "
            "murmurHash3_32('x') = javaHash('x') AS h32, "
            "isValidUTF8('hello') AS vu, "
            "toValidUTF8('hello') AS tv"
        )
    ).first()
    assert (row.r1, row.r2) == ("a-bXc", "abc")
    assert row.auc == 0.75
    assert row.h64 and row.h32
    assert row.vu and row.tv == "hello"


def test_batch15_stragglers(spark):
    """Batch 15: regexpExtract arities, arrayEnumerateUniq occurrence
    ranks, arrayElement negative indexing, bitmaskToArray powers of
    two."""
    row = spark.sql(
        tr(
            "SELECT regexpExtract('ab12cd', '([a-z]+)(\\\\d+)', 2) AS g2, "
            "regexpExtract('ab12cd', '\\\\d+') AS whole, "
            "arrayEnumerateUniq([10, 20, 10, 10]) AS occ, "
            "arrayElement([5, 6, 7], -1) AS last, "
            "bitmaskToArray(50) AS bits"
        )
    ).first()
    assert row.g2 == "12" and row.whole == "12"
    assert row.occ == [1, 1, 2, 3]
    assert row.last == 7
    assert row.bits == [2, 16, 32]


def test_quantile_gk_and_group_concat(spark):
    """quantileGK/quantilesGK(accuracy, level...)(x) → approx_percentile
    (Spark's sketch IS Greenwald-Khanna, accuracy knob included);
    groupConcat[(sep)](x) → listagg."""
    spark.range(101).selectExpr(
        "CAST(id AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS s"
    ).createOrReplaceTempView("gk_t")
    row = spark.sql(
        tr(
            "SELECT quantileGK(100, 0.5)(v) AS med, "
            "quantilesGK(100, 0.25, 0.75)(v) AS qs FROM gk_t"
        )
    ).first()
    assert row.med == 50.0 and row.qs == [24.0, 74.0]
    row2 = spark.sql(
        tr(
            "SELECT groupConcat('|')(s) AS a, groupConcat(s) AS b "
            "FROM (SELECT s FROM gk_t ORDER BY v LIMIT 3)"
        )
    ).first()
    assert row2.a == "0|1|2" and row2.b == "012"


def test_query_parameters_bind_typed_literals(spark):
    """ClickHouse {name:Type} query parameters: typed CAST literals,
    quote-doubling makes string values injection-safe, unbound raises."""
    import pytest as _pytest

    from clickhouse_flatfile_tool_spark.dialect import bind_parameters

    out = bind_parameters(
        "SELECT {n:UInt32} AS n, {s:String} AS s, {d:Float64} AS d",
        {"n": 7, "s": "it's", "d": 1.5},
    )
    row = spark.sql(tr(out)).first()
    assert (row.n, row.s, row.d) == (7, "it's", 1.5)
    evil = bind_parameters(
        "SELECT {s:String} AS s", {"s": "x'; DROP TABLE t; --"}
    )
    assert spark.sql(tr(evil)).first().s == "x'; DROP TABLE t; --"
    with _pytest.raises(ValueError):
        bind_parameters("SELECT {missing:UInt8}", {})


def test_api_query_with_params(spark):
    from clickhouse_flatfile_tool_spark import api

    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id int, g string"
    ).createOrReplaceTempView("qp_t")
    out = api.query(
        spark,
        "SELECT count(*) AS n FROM qp_t WHERE g = {grp:String} "
        "AND id >= {lo:Int64}",
        params={"grp": "a", "lo": 1},
    )
    assert out["success"] and out["data"] == [{"n": 2}]


def test_misc_renames_batch15b(spark):
    """sumKahan/concatAssumeInjective/substringIndexUTF8 renames and the
    notLike/notILike function forms."""
    row = spark.sql(
        tr(
            "SELECT notLike('abc', 'a%') AS nl, notILike('ABC', 'a%') AS nil, "
            "substringIndexUTF8('a.b.c', '.', 2) AS si, "
            "concatAssumeInjective('x', 'y') AS ci"
        )
    ).first()
    assert (row.nl, row.nil, row.si, row.ci) == (False, False, "a.b", "xy")


def test_group_array_sorted(spark):
    """groupArraySorted(N)(x): smallest N values, sorted — exact."""
    spark.createDataFrame(
        [(1, 5.0), (1, 1.0), (1, 3.0), (1, 2.0)], "g int, v double"
    ).createOrReplaceTempView("gas_t")
    row = spark.sql(
        tr("SELECT g, groupArraySorted(2)(v) AS s FROM gas_t GROUP BY g")
    ).first()
    assert row.s == [1.0, 2.0]


def test_cast_type_names(spark):
    """ClickHouse type spellings inside CAST/:: rewrite to Spark types;
    Spark-native names and aliases pass through untouched."""
    row = spark.sql(
        tr(
            "SELECT CAST('3.5' AS Float64) AS a, cast('7' AS UInt32) AS b, "
            "'5'::Int64 AS c, CAST('x' AS String) AS d, "
            "CAST(1.9 AS BIGINT) AS sp, "
            "CAST('1.5' AS Nullable(Float64)) AS n, "
            "CAST('2020-01-02' AS Date) AS dt"
        )
    ).first()
    assert (row.a, row.b, row.c, row.d, row.sp, row.n) == (
        3.5, 7, 5, "x", 1, 1.5,
    )
    assert str(row.dt) == "2020-01-02"


def test_topk_curried(spark):
    """topK(N)(x): most-frequent-N, exact here with pinned order
    (count desc, value asc)."""
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "a"), (1, "c"), (1, "b"), (1, "a")],
        "g int, v string",
    ).createOrReplaceTempView("topk_t")
    row = spark.sql(
        tr("SELECT g, topK(2)(v) AS t FROM topk_t GROUP BY g")
    ).first()
    assert row.t == ["a", "b"]


def test_batch16_array_fill_split(spark):
    """arrayFill/arrayReverseFill fill-forward/backward from the nearest
    predicate match (edge elements keep their original values);
    arraySplit cuts before matches, arrayReverseSplit after."""
    row = spark.sql(
        tr(
            "SELECT arrayFill(x -> x != 0, [0, 0, 3, 0, 5, 0]) AS ff, "
            "arrayReverseFill(x -> x != 0, [1, 0, 0, 5, 0]) AS rf, "
            "arraySplit(x -> x = 1, [1, 2, 3, 1, 4, 5]) AS sp, "
            "arrayReverseSplit(x -> x = 1, [1, 2, 3, 1, 4, 5]) AS rsp"
        )
    ).first()
    assert row.ff == [0, 0, 3, 3, 5, 5]
    assert row.rf == [1, 5, 5, 5, 0]
    assert row.sp == [[1, 2, 3], [1, 4, 5]]
    assert row.rsp == [[1], [2, 3, 1], [4, 5]]


def test_batch16_string_and_array_predicates(spark):
    """hasSubstr contiguous subsequence (empty needle true),
    stringJaccardIndex char-set Jaccard, multiSearchAllPositions
    per-needle instr, toFixedString NUL padding."""
    row = spark.sql(
        tr(
            "SELECT hasSubstr([1, 2, 3, 4], [2, 3]) AS hit, "
            "hasSubstr([1, 2, 3, 4], [2, 4]) AS miss, "
            "hasSubstr([1, 2], []) AS empty_needle, "
            "stringJaccardIndex('apple', 'paper') AS jac, "
            "multiSearchAllPositions('hello world', ['wor', 'xx', 'hel']) "
            "AS pos, "
            "toFixedString('ab', 4) AS fs"
        )
    ).first()
    assert row.hit is True and row.miss is False and row.empty_needle is True
    assert abs(row.jac - 0.6) < 1e-12
    assert row.pos == [7, 0, 1]
    assert row.fs == "ab\x00\x00"


def test_batch16_url_hierarchy(spark):
    """URLHierarchy: progressive prefixes cut after every / and ? past the
    host; URLPathHierarchy drops protocol/host and the bare root."""
    row = spark.sql(
        tr(
            "SELECT URLHierarchy("
            "'https://example.com/browse/FOOD/x?b=1') AS h, "
            "URLPathHierarchy('https://example.com/browse/FOOD/x') AS p"
        )
    ).first()
    assert row.h == [
        "https://example.com/",
        "https://example.com/browse/",
        "https://example.com/browse/FOOD/",
        "https://example.com/browse/FOOD/x?",
        "https://example.com/browse/FOOD/x?b=1",
    ]
    assert row.p == ["/browse/", "/browse/FOOD/", "/browse/FOOD/x"]


def test_batch16_normalize_and_uuid(spark):
    """normalizeQuery literal scrubbing (+ ?.. list collapse), UUID
    byte round-trip, regexpQuoteMeta escaping."""
    row = spark.sql(
        tr(
            "SELECT normalizeQuery("
            "'SELECT a FROM t WHERE id = 42 AND n = \\'bob\\' "
            "AND v IN (1, 2, 3)') AS nq, "
            "UUIDNumToString(UUIDStringToNum("
            "'61F0C404-5CB3-11E7-907B-A6006AD3DBA0')) AS uuid, "
            "regexpQuoteMeta('a.b*c[x]') AS qm"
        )
    ).first()
    assert row.nq == "SELECT a FROM t WHERE id = ? AND n = ? AND v IN (?..)"
    assert row.uuid == "61f0c404-5cb3-11e7-907b-a6006ad3dba0"
    assert row.qm == "a\\.b\\*c\\[x\\]"


def test_batch16_casts_intervals_renames(spark):
    """-OrNull/-OrZero parse conversions, interval constructors through
    timestamp arithmetic, groupBitmap cardinality, 1:1 renames."""
    row = spark.sql(
        tr(
            "SELECT toInt64OrNull('x') AS bad, toInt64OrNull('42') AS ok, "
            "toFloat64OrZero('x') AS z, "
            "toDateTime('2024-01-01 00:00:00') + toIntervalDay(3) AS d3, "
            "toDateTime('2024-01-01 00:00:00') + toIntervalMonth(2) AS m2, "
            "timestampAdd(DAY, 3, toDateTime('2024-01-01 00:00:00')) AS ta, "
            "timestampSub(MONTH, 2, toDateTime('2024-03-05 00:00:00')) AS ts, "
            "CRC32('abc') AS crc, mid('hello', 2, 3) AS m, "
            "initcapUTF8('hello world') AS ic, soundex('Robert') AS sx"
        )
    ).first()
    assert row.bad is None and row.ok == 42 and row.z == 0.0
    assert str(row.d3) == "2024-01-04 00:00:00"
    assert str(row.m2) == "2024-03-01 00:00:00"
    assert str(row.ta) == "2024-01-04 00:00:00"
    assert str(row.ts) == "2024-01-05 00:00:00"
    assert row.crc == 891568578 and row.m == "ell"
    assert row.ic == "Hello World" and row.sx == "R163"
    agg = spark.sql(
        tr("SELECT groupBitmap(number % 3) AS card FROM numbers(10)")
    ).first()
    assert agg.card == 3


def test_batch16_topk_weighted(spark):
    """topKWeighted(N)(x, w): most-frequent-N by weight sum, pinned tie
    order (weight desc, value asc)."""
    spark.createDataFrame(
        [("a", 1.0), ("b", 5.0), ("a", 1.0), ("c", 3.0)], "v string, w double"
    ).createOrReplaceTempView("tkw_t")
    row = spark.sql(
        tr("SELECT topKWeighted(2)(v, w) AS t FROM tkw_t")
    ).first()
    assert row.t == ["b", "c"]


def test_mean_z_test_curried(spark):
    """meanZTest(var_x, var_y, conf)(data, index): z with known population
    variances over the 0/1 sample-index convention.  a = [1,2,3] (idx 0),
    b = [2,4,6] (idx 1), variances 1 and 4."""
    import math

    spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 0), (2.0, 1), (4.0, 1), (6.0, 1)],
        "v double, idx int",
    ).createOrReplaceTempView("mz_t")
    row = spark.sql(
        tr("SELECT meanZTest(1.0, 4.0, 0.95)(v, idx) AS z FROM mz_t")
    ).first()
    assert abs(row.z - (2 - 4) / math.sqrt(1 / 3 + 4 / 3)) < 1e-9


def test_sequence_next_node(spark):
    """sequenceNextNode: the value following a matched CONSECUTIVE chain.
    Journey X,A,B,C (uid 1), A,B (uid 2), B,A (uid 3)."""
    spark.createDataFrame(
        [(1, 1, "X"), (1, 2, "A"), (1, 3, "B"), (1, 4, "C"),
         (2, 1, "A"), (2, 2, "B"), (3, 1, "B"), (3, 2, "A")],
        "uid int, ts int, page string",
    ).createOrReplaceTempView("snn_t")

    def run(call):
        q = tr(
            f"SELECT uid, {call} AS nxt FROM snn_t GROUP BY uid ORDER BY uid"
        )
        return [r.nxt for r in spark.sql(q).collect()]

    # head anchored at X for uid 1 -> no match; uid 2 matches A,B but has
    # no following event; uid 3 head is B
    assert run(
        "sequenceNextNode('forward', 'head')"
        "(ts, page, page = 'A', page = 'A', page = 'B')"
    ) == [None, None, None]
    # first_match finds A@2,B@3 for uid 1 -> C; uid 3's A has no B after
    assert run(
        "sequenceNextNode('forward', 'first_match')"
        "(ts, page, page = 'A', page = 'A', page = 'B')"
    ) == ["C", None, None]
    # backward from the tail: uid 1 tail C then B -> next-earlier is A
    assert run(
        "sequenceNextNode('backward', 'tail')"
        "(ts, page, page = 'C', page = 'C', page = 'B')"
    ) == ["A", None, None]
    # k = 1 last_match: the event right before the last B in time
    assert run(
        "sequenceNextNode('backward', 'last_match')(ts, page, page = 'B', page = 'B')"
    ) == ["A", "A", None]
    # unsupported combo passes through untranslated (Spark then errors by
    # name if actually executed) — translation itself must not corrupt
    out = tr(
        "SELECT sequenceNextNode('forward', 'tail')"
        "(ts, page, page = 'A', page = 'A') FROM snn_t"
    )
    assert "sequenceNextNode" in out


def test_point_in_polygon(spark):
    """pointInPolygon even-odd ray casting over a literal vertex list —
    convex, concave (L-shape), float coordinates, and a column point."""
    row = spark.sql(
        tr(
            "SELECT "
            "pointInPolygon((5, 5), [(0, 0), (10, 0), (10, 10), (0, 10)]) AS a, "
            "pointInPolygon((15, 5), [(0, 0), (10, 0), (10, 10), (0, 10)]) AS b, "
            "pointInPolygon((3, 3), "
            "[(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]) AS c, "
            "pointInPolygon((1, 3), "
            "[(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]) AS d, "
            "pointInPolygon((0.5, 0.5), "
            "[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]) AS e"
        )
    ).first()
    assert (row.a, row.b, row.c, row.d, row.e) == (1, 0, 0, 1, 1)
    spark.createDataFrame(
        [(5.0, 5.0), (15.0, 5.0)], "x double, y double"
    ).createOrReplaceTempView("pip_t")
    got = spark.sql(
        tr(
            "SELECT pointInPolygon((x, y), "
            "[(0, 0), (10, 0), (10, 10), (0, 10)]) AS i FROM pip_t ORDER BY x"
        )
    ).collect()
    assert [r.i for r in got] == [1, 0]
    # polygon columns are out of scope: the call passes through untouched
    assert "pointInPolygon" in tr("SELECT pointInPolygon((x, y), poly) FROM t")


def test_geohash_encode_decode(spark):
    """geohashEncode closed-form bit extraction vs the canonical example
    (ezs42), 12-char default precision, range-edge clamps, and the
    decode round-trip landing inside the cell."""
    row = spark.sql(
        tr(
            "SELECT geohashEncode(-5.60302734375, 42.60498046875, 5) AS a, "
            "geohashEncode(13.361389, 38.115556) AS b, "
            "geohashEncode(179.99999, 89.99999, 4) AS hi, "
            "geohashEncode(-180.0, -90.0, 4) AS lo, "
            "geohashDecode('ezs42') AS d, "
            "geohashDecode(geohashEncode(13.361389, 38.115556, 12)) AS e"
        )
    ).first()
    assert row.a == "ezs42"
    assert row.b == "sqc8b49rnyte" and len(row.b) == 12
    assert row.hi == "zzzz" and row.lo == "0000"
    assert abs(row.d.col1 - -5.60302734375) < 1e-9
    assert abs(row.d.col2 - 42.60498046875) < 1e-9
    # 12-char cell is ~3.7e-5 degrees — the round-trip center must land
    # well inside one cell of the input
    assert abs(row.e.col1 - 13.361389) < 1e-5
    assert abs(row.e.col2 - 38.115556) < 1e-5


def test_map_aggregates_sql_forms(spark):
    """sumMap/minMap/maxMap(k, v) over parallel arrays: tuple of
    key-sorted distinct keys and per-key combined values."""
    spark.createDataFrame(
        [(1, ["a", "b"], [1.0, 2.0]), (1, ["b", "c"], [3.0, 4.0]),
         (2, ["a"], [5.0])],
        "g int, k array<string>, v array<double>",
    ).createOrReplaceTempView("mapagg_t")
    rows = spark.sql(
        tr(
            "SELECT g, sumMap(k, v) AS s, minMap(k, v) AS mn, "
            "maxMap(k, v) AS mx FROM mapagg_t GROUP BY g ORDER BY g"
        )
    ).collect()
    assert rows[0].s.col1 == ["a", "b", "c"]
    assert rows[0].s.col2 == [1.0, 5.0, 4.0]
    assert rows[0].mn.col2 == [1.0, 2.0, 4.0]
    assert rows[0].mx.col2 == [1.0, 3.0, 4.0]
    assert rows[1].s.col1 == ["a"] and rows[1].s.col2 == [5.0]


def test_great_circle_angle(spark):
    """greatCircleAngle: exact haversine central angle in degrees —
    a quarter turn along the equator is exactly 45."""
    row = spark.sql(
        tr("SELECT greatCircleAngle(0.0, 0.0, 45.0, 0.0) AS a")
    ).first()
    assert abs(row.a - 45.0) < 1e-9


def test_entropy_sql_form(spark):
    """entropy(x): Shannon entropy (log2) of the group's value
    distribution — two 50/50 values = 1 bit, a constant = 0."""
    spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, "b"), (2, "x")],
        "g int, v string",
    ).createOrReplaceTempView("ent_t")
    rows = spark.sql(
        tr("SELECT g, round(entropy(v), 9) AS h FROM ent_t GROUP BY g ORDER BY g")
    ).collect()
    assert [(r.g, r.h) for r in rows] == [(1, 1.0), (2, 0.0)]


def test_scalar_with(spark):
    """ClickHouse scalar WITH (`expr AS ident`, alias LAST): numeric
    constants, chained aliases, functions, and scalar subqueries
    substitute at use sites; CTE-shaped WITH passes through intact."""
    spark.createDataFrame([(1,), (2,)], "id long").createOrReplaceTempView("sw_t")
    assert [r.v for r in spark.sql(
        tr("WITH 10 AS k SELECT id * k AS v FROM sw_t ORDER BY id")
    ).collect()] == [10, 20]
    assert [r.v for r in spark.sql(
        tr("WITH 2 AS a, a * 3 AS b SELECT id + b AS v FROM sw_t ORDER BY id")
    ).collect()] == [7, 8]
    assert [r.id for r in spark.sql(
        tr(
            "WITH (SELECT max(id) FROM sw_t) AS m "
            "SELECT id FROM sw_t WHERE id = m"
        )
    ).collect()] == [2]
    assert [r.id for r in spark.sql(
        tr("WITH toInt64(5) AS lim SELECT id FROM sw_t WHERE id < lim ORDER BY id")
    ).collect()] == [1, 2]
    # CTE form untouched
    out = tr("WITH c AS (SELECT id FROM sw_t) SELECT * FROM c")
    assert out.startswith("WITH c AS")


def test_batch17_url_date_math(spark):
    """Batch 17: significant-subdomain rule (com|net|org|co → 3rd-level),
    netloc/basename/queryStringAndFragment, %20-exact URL encoding,
    ISO year, days-since-year-zero, snowflake round-trip, Euclid
    gcd/lcm, nearest-rank exact quantiles, 1:1 renames."""
    row = spark.sql(
        tr(
            "SELECT "
            "firstSignificantSubdomain('https://news.clickhouse.com.tr/x') AS fsd, "
            "cutToFirstSignificantSubdomain('https://news.clickhouse.com.tr/x') AS ctf, "
            "cutWWW('http://www.example.com/x') AS cw, "
            "netloc('http://u:p@host.com:8080/p') AS nl, "
            "basename('/a/b/file.txt') AS bn, "
            "queryStringAndFragment('https://x.com/p?q=1#f') AS qsf, "
            "encodeURLComponent('a b+c') AS enc, "
            "decodeURLComponent('a%20b%2Bc') AS dec, "
            "toISOYear(toDate('2017-01-01')) AS iy, "
            "toDaysSinceYearZero(toDate('1970-01-01')) AS dz, "
            "dateTimeToSnowflake(snowflakeToDateTime(1426860702823350272)) AS sf, "
            "gcd(12, 18) AS g, lcm(4, 6) AS l, gcd(0, 0) AS g0, "
            "leftUTF8('abcd', 2) AS lu, concatWS('-', 'a', 'b') AS cws, "
            "printf('%d-%s', 5, 'x') AS pf"
        )
    ).first()
    assert row.fsd == "clickhouse" and row.ctf == "clickhouse.com.tr"
    assert row.cw == "http://example.com/x"
    assert row.nl == "u:p@host.com:8080" and row.bn == "file.txt"
    assert row.qsf == "q=1#f"
    assert row.enc == "a%20b%2Bc" and row.dec == "a b+c"
    assert row.iy == 2016 and row.dz == 719528
    assert row.sf == 1426860702823350272
    assert (row.g, row.l, row.g0) == (6, 12, 0)
    assert row.lu == "ab" and row.cws == "a-b" and row.pf == "5-x"
    spark.sql("SELECT explode(array(1, 2, 3, 4)) AS x").createOrReplaceTempView(
        "qelh_t"
    )
    q = spark.sql(
        tr(
            "SELECT quantileExactLow(0.5)(x) AS lo, "
            "quantileExactHigh(0.5)(x) AS hi FROM qelh_t"
        )
    ).first()
    assert (q.lo, q.hi) == (2, 3)


def test_limit_with_ties(spark):
    """ORDER BY … LIMIT n WITH TIES → rank() <= n: the first n rows plus
    everything tied with the n-th; plain LIMIT stays untouched."""
    spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 30)], "id long, v long"
    ).createOrReplaceTempView("ties_t")
    got = sorted(
        (r.id, r.v)
        for r in spark.sql(
            tr("SELECT id, v FROM ties_t ORDER BY v LIMIT 2 WITH TIES")
        ).collect()
    )
    assert got == [(1, 10), (2, 10), (3, 10)]
    top = spark.sql(
        tr("SELECT id, v * 2 AS w FROM ties_t ORDER BY w DESC LIMIT 1 WITH TIES")
    ).collect()
    assert [(r.id, r.w) for r in top] == [(5, 60)]
    assert tr("SELECT id FROM ties_t ORDER BY id LIMIT 2").endswith("LIMIT 2")


def test_with_fill_interpolate(spark):
    """WITH FILL INTERPOLATE (cols): filled rows carry the listed columns
    forward from the last ORIGINAL row; fills before any original row
    stay NULL; interpolated columns move to the row's end."""
    spark.createDataFrame(
        [(1, 10.0, "a"), (4, 40.0, "d"), (6, 60.0, "f")],
        "t long, v double, s string",
    ).createOrReplaceTempView("fill_i_t")
    rows = spark.sql(
        tr("SELECT t, v, s FROM fill_i_t ORDER BY t WITH FILL INTERPOLATE (v, s)")
    ).collect()
    assert [(r.t, r.v, r.s) for r in rows] == [
        (1, 10.0, "a"), (2, 10.0, "a"), (3, 10.0, "a"),
        (4, 40.0, "d"), (5, 40.0, "d"), (6, 60.0, "f"),
    ]
    head = spark.sql(
        tr(
            "SELECT t, v, s FROM fill_i_t ORDER BY t "
            "WITH FILL FROM 0 TO 8 STEP 2 INTERPOLATE (v)"
        )
    ).collect()
    assert (head[0].t, head[0].v) == (0, None)   # before any original row
    assert (head[2].t, head[2].v) == (2, 10.0)   # carried from t=1
    # carry-previous-row includes NULL: an original row with v NULL is the
    # carry source for the fills after it — ignoreNulls over the raw column
    # would wrongly skip back to the older non-NULL (ADVICE r4)
    spark.createDataFrame(
        [(1, 10.0), (3, None)],
        "t long, v double",
    ).createOrReplaceTempView("fill_n_t")
    rows = spark.sql(
        tr("SELECT t, v FROM fill_n_t ORDER BY t WITH FILL FROM 1 TO 6 "
           "INTERPOLATE (v)")
    ).collect()
    assert [(r.t, r.v) for r in rows] == [
        (1, 10.0), (2, 10.0), (3, None), (4, None), (5, None),
    ]


def test_quantiles_exact_plural_and_partial_sort(spark):
    """quantilesExactLow/High plural forms return one nearest-rank value
    per level; arrayPartialSort's full sort is a valid refinement of
    CH's 'remainder unspecified' contract."""
    spark.sql("SELECT explode(array(1, 2, 3, 4, 5)) AS x").createOrReplaceTempView(
        "qplural_t"
    )
    r = spark.sql(
        tr(
            "SELECT quantilesExactLow(0.25, 0.5, 0.75)(x) AS lo, "
            "quantilesExactHigh(0.5)(x) AS hi FROM qplural_t"
        )
    ).first()
    assert r.lo == [2, 3, 4] and r.hi == [3]
    p = spark.sql(
        tr(
            "SELECT arrayPartialSort(2, [5, 1, 4, 2]) AS a, "
            "arrayPartialReverseSort(2, [5, 1, 4, 2]) AS b"
        )
    ).first()
    assert p.a == [1, 2, 4, 5] and p.b == [5, 4, 2, 1]


def test_any_join_sql_form(spark):
    """ANY [LEFT|INNER] JOIN: the right side collapses to ONE
    deterministic row per ON key before the join (min over all right
    columns), so the left never fans out; schema-free translation
    passes through."""
    spark.createDataFrame([(1,), (2,), (3,)], "uid long").createOrReplaceTempView(
        "anyj_u"
    )
    spark.createDataFrame(
        [(1, 10.0), (1, 99.0), (2, 20.0)], "uid long, amt double"
    ).createOrReplaceTempView("anyj_o")
    left = spark.sql(
        tr(
            "SELECT u.uid, o.amt FROM anyj_u u ANY LEFT JOIN anyj_o o "
            "ON u.uid = o.uid ORDER BY u.uid",
            spark=spark,
        )
    ).collect()
    assert [(r.uid, r.amt) for r in left] == [(1, 10.0), (2, 20.0), (3, None)]
    inner = spark.sql(
        tr(
            "SELECT u.uid, o.amt FROM anyj_u u ANY JOIN anyj_o o "
            "ON u.uid = o.uid ORDER BY u.uid",
            spark=spark,
        )
    ).collect()
    assert [(r.uid, r.amt) for r in inner] == [(1, 10.0), (2, 20.0)]
    # schema-free translation: keyword passes through untouched
    assert "ANY" in tr("SELECT 1 FROM a ANY LEFT JOIN b ON a.x = b.x")


def test_where_alias_repair(spark):
    """Analysis-failure-gated repair: WHERE may reference SELECT-list
    aliases (the CH idiom); queries that already analyze keep Spark's
    column resolution even when an alias shadows a real column."""
    spark.createDataFrame(
        [(1, 3.0), (2, 8.0)], "id long, v double"
    ).createOrReplaceTempView("wal_t")
    got = spark.sql(
        tr("SELECT id, v * 2 AS dbl FROM wal_t WHERE dbl > 10", spark=spark)
    ).collect()
    assert [(r.id, r.dbl) for r in got] == [(2, 16.0)]
    # shadowing: the statement analyzes as-is, so `v` stays the COLUMN
    shadow = spark.sql(
        tr(
            "SELECT upper('x') AS v, id FROM wal_t WHERE v > 5.0",
            spark=spark,
        )
    ).collect()
    assert [r.id for r in shadow] == [2]
    # schema-free translation never rewrites (no analyzer to consult)
    assert "dbl > 10" in tr("SELECT v * 2 AS dbl FROM wal_t WHERE dbl > 10")


def test_qualify_clause(spark):
    """QUALIFY filters on window results over the query's OUTPUT rows —
    top-1 by aggregate, per-group rank, and window-vs-aggregate compare
    with an ORDER/LIMIT tail."""
    spark.createDataFrame(
        [(1, 3.0), (1, 8.0), (2, 1.0), (3, 9.0)], "g long, v double"
    ).createOrReplaceTempView("qualify_t")
    top = spark.sql(
        tr(
            "SELECT g, sum(v) AS s FROM qualify_t GROUP BY g "
            "QUALIFY row_number() OVER (ORDER BY s DESC, g) = 1"
        )
    ).collect()
    assert [(r.g, r.s) for r in top] == [(1, 11.0)]
    per_g = spark.sql(
        tr(
            "SELECT g, v FROM qualify_t "
            "QUALIFY rank() OVER (PARTITION BY g ORDER BY v DESC) = 1 "
            "ORDER BY g"
        )
    ).collect()
    assert [(r.g, r.v) for r in per_g] == [(1, 8.0), (2, 1.0), (3, 9.0)]
    above = spark.sql(
        tr(
            "SELECT g, sum(v) AS s FROM qualify_t GROUP BY g "
            "QUALIFY s > avg(s) OVER () ORDER BY g LIMIT 5"
        )
    ).collect()
    assert [(r.g, r.s) for r in above] == [(1, 11.0), (3, 9.0)]


def test_distinct_on(spark):
    """DISTINCT ON (keys): first row per key combination in the
    statement's ORDER BY order; the tail reapplies outside.  (Without
    an ORDER BY the pick is arbitrary — matching ClickHouse.)"""
    spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (2, 9, "d")],
        "g long, x long, s string",
    ).createOrReplaceTempView("dist_on_t")
    rows = spark.sql(
        tr("SELECT DISTINCT ON (g) g, x, s FROM dist_on_t ORDER BY g, x")
    ).collect()
    assert [(r.g, r.x, r.s) for r in rows] == [(1, 5, "b"), (2, 7, "c")]
    lim = spark.sql(
        tr("SELECT DISTINCT ON (g) g, x FROM dist_on_t ORDER BY g, x DESC LIMIT 1")
    ).collect()
    assert [(r.g, r.x) for r in lim] == [(1, 10)]
    # plain DISTINCT untouched
    assert tr("SELECT DISTINCT g FROM dist_on_t").startswith("SELECT DISTINCT g")


def test_array_shingles(spark):
    """arrayShingles(a, n): consecutive length-n windows; [] when the
    array is shorter than n."""
    row = spark.sql(
        tr(
            "SELECT arrayShingles([1, 2, 3, 4], 3) AS a, "
            "arrayShingles([1, 2], 3) AS b, arrayShingles([7], 1) AS c"
        )
    ).first()
    assert row.a == [[1, 2, 3], [2, 3, 4]]
    assert row.b == [] and row.c == [[7]]


def test_paste_join_sql(spark):
    """PASTE JOIN through the SQL endpoint: positional concatenation with
    each side ordered by its full row (the relational.paste_join
    convention); unequal lengths truncate to the shorter side."""
    spark.createDataFrame(
        [(2, "b"), (1, "a"), (3, "c")], "id long, s string"
    ).createOrReplaceTempView("pj_l")
    spark.createDataFrame(
        [(20.0,), (10.0,)], "v double"
    ).createOrReplaceTempView("pj_r")
    rows = spark.sql(
        tr("SELECT id, s, v FROM pj_l PASTE JOIN pj_r ORDER BY id")
    ).collect()
    # left sorted (1,a),(2,b),(3,c); right sorted 10,20 -> 2 rows
    assert [(r.id, r.s, r.v) for r in rows] == [(1, "a", 10.0), (2, "b", 20.0)]
    # aliased form
    rows2 = spark.sql(
        tr("SELECT * FROM pj_l AS x PASTE JOIN pj_r AS y ORDER BY id")
    ).collect()
    assert len(rows2) == 2 and rows2[0].asDict() == {"id": 1, "s": "a", "v": 10.0}


def test_paste_join_sql_subquery_operands(spark):
    """PASTE JOIN with parenthesized subquery operands (r6, VERDICT r5
    #8a): either or both sides may be subqueries (with or without
    alias), a WHERE tail still belongs to the outer query, and chained
    PASTE JOIN resolves left-to-right."""
    spark.createDataFrame(
        [(2, "b"), (1, "a"), (3, "c")], "id long, s string"
    ).createOrReplaceTempView("pjs_l")
    spark.createDataFrame(
        [(30.0,), (20.0,), (10.0,)], "v double"
    ).createOrReplaceTempView("pjs_r")
    spark.createDataFrame(
        [(200,), (100,)], "w long"
    ).createOrReplaceTempView("pjs_t")
    # left subquery (filtered, unaliased) + plain right
    rows = spark.sql(
        tr("SELECT id, v FROM (SELECT id FROM pjs_l WHERE id > 1) "
           "PASTE JOIN pjs_r ORDER BY id")
    ).collect()
    assert [(r.id, r.v) for r in rows] == [(2, 10.0), (3, 20.0)]
    # both sides subqueries, AS and bare aliases, outer WHERE tail
    rows2 = spark.sql(
        tr("SELECT id, v FROM (SELECT id FROM pjs_l) x PASTE JOIN "
           "(SELECT v FROM pjs_r) AS y WHERE v >= 20 ORDER BY id")
    ).collect()
    assert [(r.id, r.v) for r in rows2] == [(2, 20.0), (3, 30.0)]
    # chained: A PASTE JOIN B PASTE JOIN (subquery) — truncates to 2 rows
    rows3 = spark.sql(
        tr("SELECT id, v, w FROM pjs_l PASTE JOIN pjs_r PASTE JOIN "
           "(SELECT w FROM pjs_t) ORDER BY id")
    ).collect()
    assert [(r.id, r.v, r.w) for r in rows3] == [
        (1, 10.0, 100), (2, 20.0, 200)]


def test_with_totals_sql(spark):
    """GROUP BY ... WITH TOTALS: per-group rows plus one grand-total row
    with NULL keys (GROUPING SETS ((keys), ()) — single aggregation
    pass); works through HAVING/ORDER tails and multi-key groups."""
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "g string, v long"
    ).createOrReplaceTempView("wt_t")
    rows = spark.sql(
        tr("SELECT g, sum(v) AS s FROM wt_t GROUP BY g WITH TOTALS ORDER BY g")
    ).collect()
    got = {(r.g, r.s) for r in rows}
    assert got == {("a", 3), ("b", 10), (None, 13)}
    # multi-key: groups + ONE totals row, no intermediate subtotals
    spark.createDataFrame(
        [("a", "x", 1), ("a", "y", 2), ("b", "x", 4)],
        "g string, h string, v long",
    ).createOrReplaceTempView("wt_m")
    rows2 = spark.sql(
        tr("SELECT g, h, sum(v) AS s FROM wt_m GROUP BY g, h WITH TOTALS")
    ).collect()
    assert len(rows2) == 4
    totals = [r for r in rows2 if r.g is None and r.h is None]
    assert len(totals) == 1 and totals[0].s == 7


def test_with_totals_backtick_key_executes(spark):
    """A grouping key spelled like the GROUP keyword (`group`) is a
    column, not the clause: WITH TOTALS still becomes the grand-total
    grouping set and runs."""
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "group string, v long"
    ).createOrReplaceTempView("wt_k")
    rows = spark.sql(
        tr("SELECT `group`, sum(v) AS s FROM wt_k GROUP BY `group` WITH TOTALS")
    ).collect()
    assert {(r["group"], r.s) for r in rows} == {
        ("a", 3), ("b", 10), (None, 13)
    }


# A keyword inside a backtick or double-quoted identifier, or after a
# qualifier dot, is a name: the clause passes share one top-level scanner
# that skips it.
_SCANNER_CASES = [
    (tr, "SELECT a, `qualify` FROM t", "SELECT a, `qualify` FROM t"),
    (tr, 'SELECT a, "qualify" FROM t', "SELECT a, `qualify` FROM t"),
    (tr, "SELECT a, t.qualify FROM t", "SELECT a, t.qualify FROM t"),
    (
        tr,
        "SELECT DISTINCT ON (a) a, t.order FROM t",
        "SELECT * EXCEPT(__dn) FROM (SELECT __q0.*, ROW_NUMBER() OVER "
        "(PARTITION BY a ORDER BY a) AS __dn FROM (SELECT  a, t.order "
        "FROM t) AS __q0) WHERE __dn = 1 ",
    ),
    (
        tr,
        "SELECT a FROM t PREWHERE `where` > 1 WHERE b < 2",
        "SELECT a FROM t WHERE (`where` > 1) AND (b < 2) ",
    ),
    (
        tr,
        "SELECT `group`, count() AS c FROM t GROUP BY `group` WITH TOTALS",
        "SELECT `group`, count(*) AS c FROM t "
        "GROUP BY GROUPING SETS ((`group`), ())",
    ),
    (
        tr,
        'SELECT "group", count() AS c FROM t GROUP BY "group" WITH TOTALS',
        "SELECT `group`, count(*) AS c FROM t "
        "GROUP BY GROUPING SETS ((`group`), ())",
    ),
    (
        tr,
        "SELECT t.group, count() AS c FROM t GROUP BY t.group WITH TOTALS",
        "SELECT t.group, count(*) AS c FROM t "
        "GROUP BY GROUPING SETS ((t.group), ())",
    ),
    (
        tr,
        "SELECT `order` AS o, a FROM t ORDER BY a LIMIT 2 BY b",
        "SELECT * EXCEPT (__rn) FROM (SELECT __q.*, row_number() OVER "
        "(PARTITION BY b ORDER BY a) AS __rn FROM (SELECT `order` AS o, a "
        "FROM t) AS __q) WHERE __rn <= 2 ORDER BY a",
    ),
    (
        _rewrite_where_aliases,
        "SELECT x + 1 AS y FROM t WHERE `group` = 1 AND y > 0",
        "SELECT x + 1 AS y FROM t WHERE `group` = 1 AND (x + 1) > 0",
    ),
]


@pytest.mark.parametrize(
    "rewrite,sql,want",
    _SCANNER_CASES,
    ids=[
        "qualify-backtick", "qualify-double-quoted", "qualify-qualified",
        "distinct-on-qualified-order", "prewhere-backtick-where",
        "totals-backtick-group", "totals-double-quoted-group",
        "totals-qualified-group", "limit-by-backtick-order",
        "where-aliases-backtick-group",
    ],
)
def test_clause_keywords_inside_names(rewrite, sql, want):
    assert rewrite(sql) == want


@pytest.mark.parametrize(
    "name",
    ["`prewhere`", "`sample 5`", "`global in`", "`all join`"],
    ids=["prewhere", "sample", "global", "all"],
)
def test_keyword_rewrites_leave_backtick_names(name):
    """The whole-statement PREWHERE/SAMPLE/GLOBAL/ALL rewrites treat a
    backtick identifier as opaque, as the clause scanner does."""
    sql = f"SELECT {name} FROM t"
    assert tr(sql) == sql


def test_batch18_functions(spark):
    """Batch 18: dateTrunc rename, toWeek mode 0/3, ngramDistance/Search
    (distinct-set 4-gram variants), JSONLength, toJSONString,
    timestamp_diff string-unit form."""
    rows = spark.sql(
        tr(
            "SELECT dateTrunc('month', toDateTime('2024-03-17 10:30:00')) AS mt, "
            # 2024-01-06 is Saturday (before the first Sunday Jan 7) -> week 0;
            # 2024-01-07 Sunday -> week 1; 2016-12-27 -> 52 (CH docs value)
            "toWeek(toDate('2024-01-06')) AS w0, "
            "toWeek(toDate('2024-01-07')) AS w1, "
            "toWeek(toDate('2016-12-27'), 0) AS w52, "
            "toWeek(toDate('2024-01-04'), 3) AS wiso, "
            "round(ngramDistance('clickhouse', 'clickhouse'), 6) AS nd0, "
            "round(ngramDistance('abcdefgh', 'zzzzyyyy'), 6) AS nd1, "
            "round(ngramSearch('the quick brown fox', 'quick'), 6) AS ns1, "
            "round(ngramSearch('the quick brown fox', 'zzzz'), 6) AS ns0, "
            "JSONLength('[1,2,3]') AS jl_arr, "
            "JSONLength('{\"a\":1,\"b\":2}') AS jl_obj, "
            "toJSONString(array(1, 2)) AS js, "
            "timestamp_diff('day', toDateTime('2024-01-01 00:00:00'), "
            "toDateTime('2024-01-31 00:00:00')) AS td"
        )
    ).first()
    assert str(rows.mt).startswith("2024-03-01")
    assert (rows.w0, rows.w1, rows.w52) == (0, 1, 52)
    assert rows.wiso == 1
    assert rows.nd0 == 0.0 and rows.nd1 == 1.0
    assert rows.ns1 == 1.0 and rows.ns0 == 0.0
    assert (rows.jl_arr, rows.jl_obj) == (3, 2)
    assert rows.js == "[1,2]"
    assert rows.td == 30
    yw = spark.sql(
        tr(
            "SELECT toYearWeek(toDate('2016-01-01')) AS a, "  # week 0 -> prior year
            "toYearWeek(toDate('2017-01-01')) AS b, "
            "toYearWeek(toDate('2016-12-27')) AS c, "
            "toYearWeek(toDate('2024-01-04'), 3) AS iso"
        )
    ).first()
    assert (yw.a, yw.b, yw.c) == (201552, 201701, 201652)
    assert yw.iso == 202401


def test_array_auc(spark):
    """arrayAUC: the sklearn doc example scores/labels give 0.75; perfect
    ranking gives 1.0; ties take average ranks; single-class input is
    NULL (CH nan — NULL is the relational encoding)."""
    r = spark.sql(
        tr(
            "SELECT round(arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]), 6) AS a, "
            "arrayAUC([0.1, 0.2, 0.9], [0, 0, 1]) AS perfect, "
            "arrayAUC([0.5, 0.5, 0.5, 0.5], [0, 1, 0, 1]) AS tied, "
            "arrayAUC([0.3, 0.7], [1, 1]) AS degen"
        )
    ).first()
    assert r.a == 0.75
    assert r.perfect == 1.0
    assert r.tied == 0.5
    assert r.degen is None


def test_empty_array_division_guards(spark):
    """Empty-array inputs yield NULL, not an ANSI DIVIDE_BY_ZERO: arrayAvg,
    arrayReduce('avg'), arrayAUC on single-class labels (r5 audit)."""
    r = spark.sql(
        tr(
            "SELECT arrayAvg(arraySlice([1], 1, 0)) AS a, "
            "arrayReduce('avg', arraySlice([1], 1, 0)) AS b, "
            "arrayAUC([0.3, 0.7], [1, 1]) AS c, "
            "arrayAvg([2, 4]) AS d"
        )
    ).first()
    assert r.a is None and r.b is None and r.c is None
    assert r.d == 3.0


def test_array_element_out_of_bounds_null(spark):
    """arrayElement: out-of-range and zero indexes yield NULL (CH returns
    the type default; ANSI element_at used to throw — r5 fix); in-range
    and negative-from-the-end still work."""
    r = spark.sql(
        tr(
            "SELECT arrayElement([1, 2], 5) AS oob, "
            "arrayElement([1, 2], 0) AS zero, "
            "arrayElement([1, 2], 2) AS ok, "
            "arrayElement([1, 2], -1) AS neg"
        )
    ).first()
    assert r.oob is None and r.zero is None
    assert r.ok == 2 and r.neg == 2


def test_subscript_out_of_bounds_null(spark):
    """CH subscripts a[i] rewrite to try_element_at: out-of-range array
    indexes and missing map keys yield NULL instead of an ANSI throw;
    in-range / negative / map access unchanged (r5 audit)."""
    r = spark.sql(
        tr(
            "SELECT ([1, 2])[5] AS oob, ([1, 2])[2] AS ok, "
            "([1, 2])[-1] AS neg, arrayCumSum([1, 2])[9] AS oob2, "
            "map('a', 7)['a'] AS mk, map('a', 7)['z'] AS miss"
        )
    ).first()
    assert r.oob is None and r.oob2 is None and r.miss is None
    assert r.ok == 2 and r.neg == 2 and r.mk == 7


def test_paste_join_sql_matches_dataframe_operator(spark):
    """The SQL PASTE JOIN rewrite and relational.paste_join implement the
    same positional semantics: identical outputs when the DataFrame form
    sorts by all columns (the rewrite's full-row order)."""
    from clickhouse_flatfile_tool_spark.operators.relational import paste_join

    l = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b")], "id long, s string"
    )
    r = spark.createDataFrame([(30.0,), (10.0,), (20.0,)], "v double")
    df_form = {
        tuple(x)
        for x in paste_join(
            l, r, order_left=["id", "s"], order_right=["v"]
        ).collect()
    }
    l.createOrReplaceTempView("pjeq_l")
    r.createOrReplaceTempView("pjeq_r")
    sql_form = {
        tuple(x)
        for x in spark.sql(
            tr("SELECT * FROM pjeq_l PASTE JOIN pjeq_r")
        ).collect()
    }
    assert df_form == sql_form == {
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0),
    }


def test_batch19_functions(spark):
    """Batch 19: age complete units (add-months-clamp-exact),
    parseDateTime[OrNull] %-syntax, extractGroups, arrayShiftLeft/Right,
    simpleJSONHas, replaceRegexpOne (first occurrence only), timeSlots,
    skewSamp/kurtSamp, renames (arrayUnion/widthBucket/positiveModulo/
    JSONExtractKeys/toRelative*Num/toStartOfSecond)."""
    r = spark.sql(
        tr(
            "SELECT "
            # Jan 30 + 1 clamped month = Feb 28 -> COMPLETE (months_between
            # would say 0 here; the clamp-aware formula says 1, as CH)
            "age('month', toDateTime('2021-01-30 12:00:00'), "
            "toDateTime('2021-02-28 12:00:00')) AS am1, "
            "age('month', toDateTime('2021-01-30 12:00:00'), "
            "toDateTime('2021-02-28 11:59:59')) AS am0, "
            "age('year', toDateTime('2020-02-29 00:00:00'), "
            "toDateTime('2021-02-28 00:00:00')) AS ay, "
            "age('day', toDateTime('2021-01-01 06:00:00'), "
            "toDateTime('2021-01-03 05:59:59')) AS ad, "
            "parseDateTime('2021-03-05 06:07:08', '%Y-%m-%d %H:%M:%S') AS pd, "
            "parseDateTimeOrNull('garbage', '%Y-%m-%d') AS pn, "
            "extractGroups('id=42-abc', '(\\\\d+)-(\\\\w+)') AS eg, "
            "extractGroups('nothing', '(\\\\d+)-(\\\\w+)') AS eg0, "
            "arrayShiftLeft([1, 2, 3, 4, 5], 2) AS sl, "
            "arrayShiftRight([1, 2, 3, 4, 5], 2) AS sr, "
            "arrayShiftRight([1, 2, 3], 1, 0) AS srd, "
            "simpleJSONHas('{\"k\": null}', 'k') AS jh1, "
            "simpleJSONHas('{\"k\": 1}', 'q') AS jh0, "
            "replaceRegexpOne('banana', 'an', 'AN') AS r1, "
            "replaceRegexpOne('banana', 'q+', 'X') AS rmiss, "
            "arrayCount(__x -> true, "
            "timeSlots(toDateTime('2024-03-15 06:00:00'), 3600)) AS tsn, "
            "toRelativeMonthNum(toDate('2021-01-30')) AS rm, "
            "toRelativeYearNum(toDate('2021-01-30')) AS ry, "
            "toStartOfSecond(toDateTime('2021-01-30 12:34:56')) AS tss, "
            "positiveModulo(-5, 3) AS pm, "
            "widthBucket(7.0, 0, 10, 5) AS wb, "
            "arraySort(arrayUnion([1, 2], [2, 3])) AS au, "
            "JSONExtractKeys('{\"a\": 1, \"b\": 2}') AS jk, "
            "throwIf(1 > 2, 'nope') AS ti"
        )
    ).first()
    assert (r.am1, r.am0, r.ay, r.ad) == (1, 0, 1, 1)
    assert str(r.pd) == "2021-03-05 06:07:08"
    assert r.pn is None
    assert list(r.eg) == ["42", "abc"] and list(r.eg0) == []
    assert list(r.sl) == [3, 4, 5, None, None]
    assert list(r.sr) == [None, None, 1, 2, 3]
    assert list(r.srd) == [0, 1, 2]
    assert (r.jh1, r.jh0) == (True, False)
    assert (r.r1, r.rmiss) == ("bANana", "banana")
    assert r.tsn == 3
    assert (r.rm, r.ry) == (2021 * 12 + 1, 2021)
    assert str(r.tss) == "2021-01-30 12:34:56"
    assert (r.pm, r.wb) == (1, 4)
    assert list(r.au) == [1, 2, 3]
    assert list(r.jk) == ["a", "b"]
    assert r.ti == 0
    # throwIf raising branch
    import pytest as _pytest

    with _pytest.raises(Exception, match="too big|assert"):
        spark.sql(tr("SELECT throwIf(2 > 1, 'too big') AS x")).collect()
    # sample central moments vs hand-computed m3/varSamp^1.5, m4/varSamp^2
    vals = [1.0, 2.0, 2.0, 3.0, 9.0]
    spark.createDataFrame([(v,) for v in vals], "x double").createOrReplaceTempView(
        "b19_t"
    )
    n = len(vals)
    mean = sum(vals) / n
    m3 = sum((v - mean) ** 3 for v in vals) / n
    m4 = sum((v - mean) ** 4 for v in vals) / n
    vs = sum((v - mean) ** 2 for v in vals) / (n - 1)
    got = spark.sql(
        tr("SELECT round(skewSamp(x), 9) AS s, round(kurtSamp(x), 9) AS k FROM b19_t")
    ).first()
    assert got.s == round(m3 / vs**1.5, 9)
    assert got.k == round(m4 / vs**2, 9)


def test_batch20_functions(spark):
    """Batch 20 scalars: mapApply (tuple-lambda entrywise transform),
    isValidJSON/JSONType (VARIANT-validated), addQuarters/
    subtractQuarters, YYYYMMDD serial forms, toTimezone, timezoneOf,
    nowInBlock, caseWithExpression, dateTime64ToSnowflake."""
    r = spark.sql(
        tr(
            "SELECT "
            "mapApply((k, v) -> (upper(k), v * 2), map('a', 1, 'b', 2)) "
            "AS ma, "
            "isValidJSON('{\"a\": [1, 2]}') AS vj, "
            "isValidJSON('{\"a\": [1, 2]') AS ivj, "
            "JSONType('{\"a\": 1}') AS jo, JSONType('[1]') AS ja, "
            "JSONType('\"s\"') AS js, JSONType('3.5e2') AS jd, "
            "JSONType('42') AS ji, JSONType('false') AS jb, "
            "JSONType('null') AS jn, JSONType('oops') AS jbad, "
            "addQuarters(toDate('2023-11-30'), 1) AS aq, "
            "subtractQuarters(toDate('2024-01-15'), 2) AS sq, "
            "YYYYMMDDToDate(20240229) AS ymd, "
            "YYYYMMDDToDate(20240230) AS ymdbad, "
            "YYYYMMDDhhmmssToDateTime(20240229235959) AS ymdh, "
            "toTimezone(toDateTime('2024-06-15 12:00:00'), "
            "'America/New_York') AS ttz, "
            "timezoneOf(now()) AS tzof, "
            "nowInBlock() IS NOT NULL AS nib, "
            "caseWithExpression(3, 1, 'a', 3, 'b', 'z') AS cw1, "
            "caseWithExpression(9, 1, 'a', 3, 'b', 'z') AS cwd, "
            "caseWithExpression(9, 1, 'a', 3, 'b') AS cwn, "
            "dateTime64ToSnowflake(toDateTime('2021-08-15 18:57:56')) AS sf"
        )
    ).first()
    assert dict(r.ma) == {"A": 2, "B": 4}
    assert (r.vj, r.ivj) == (True, False)
    assert (r.jo, r.ja, r.js) == ("Object", "Array", "String")
    assert (r.jd, r.ji, r.jb, r.jn) == ("Double", "Int64", "Bool", "Null")
    assert r.jbad is None
    assert str(r.aq) == "2024-02-29"  # Nov 30 + 3 months clamps to Feb 29
    assert str(r.sq) == "2023-07-15"
    assert str(r.ymd) == "2024-02-29" and r.ymdbad is None
    assert str(r.ymdh) == "2024-02-29 23:59:59"
    # UTC noon -> New York wall clock 08:00 (EDT in June)
    assert str(r.ttz) == "2024-06-15 08:00:00"
    assert isinstance(r.tzof, str) and r.tzof
    assert r.nib is True
    assert (r.cw1, r.cwd, r.cwn) == ("b", "z", None)
    # (epoch_ms('2021-08-15 18:57:56' UTC) - 1288834974657) << 22; the CH
    # docs example value is the same instant in Asia/Shanghai
    assert r.sf == (1629053876000 - 1288834974657) * 4194304


def test_batch20_interval_aggregates(spark):
    """Batch 20 aggregate folds: exponentialMovingAverage (half-life
    weighted mean, verified against the closed form), intervalLengthSum
    (union of overlapping segments counted once), maxIntersections
    (touching intervals do NOT intersect), deltaSumTimestamp (positive
    deltas in t order, counter resets ignored)."""
    rows = [
        # g=1: overlapping chain [0,10],[5,15],[20,25] union=20, max 2
        (1, 0.0, 1.0), (1, 5.0, 3.0), (1, 20.0, 2.0),
        # g=2: single interval / single sample
        (2, 7.0, 4.0),
    ]
    spark.createDataFrame(rows, "g long, t double, v double") \
        .createOrReplaceTempView("b20_iv")
    got = {
        r.g: r
        for r in spark.sql(
            tr(
                "SELECT g, "
                "exponentialMovingAverage(5)(v, t) AS ema, "
                "intervalLengthSum(t, t + CASE WHEN g = 1 AND t < 6 "
                "THEN 10 ELSE 5 END) AS ils, "
                "maxIntersections(t, t + CASE WHEN g = 1 AND t < 6 "
                "THEN 10 ELSE 5 END) AS mi, "
                "deltaSumTimestamp(v, t) AS ds "
                "FROM b20_iv GROUP BY g"
            )
        ).collect()
    }
    import math

    # closed form: sum(v*2^-(tmax-t)/hl) / sum(2^-(tmax-t)/hl)
    w = [2 ** (-(20 - t) / 5) for t in (0, 5, 20)]
    exp_ema = sum(wi * vi for wi, vi in zip(w, (1.0, 3.0, 2.0))) / sum(w)
    assert math.isclose(got[1].ema, exp_ema, rel_tol=1e-12)
    assert got[1].ils == 20.0  # [0,15] merged + [20,25]
    assert got[1].mi == 2
    assert got[1].ds == 2.0  # 1->3 (+2), 3->2 (ignored)
    assert got[2].ema == 4.0 and got[2].ils == 5.0
    assert got[2].mi == 1 and got[2].ds == 0.0
    # touching intervals [0,5],[5,10]: union 10, intersections 1
    spark.createDataFrame(
        [(1, 0.0), (1, 5.0)], "g long, s double"
    ).createOrReplaceTempView("b20_tch")
    t = spark.sql(
        tr(
            "SELECT intervalLengthSum(s, s + 5) AS u, "
            "maxIntersections(s, s + 5) AS m FROM b20_tch GROUP BY g"
        )
    ).first()
    assert t.u == 10.0 and t.m == 1


def test_select_column_modifiers(spark):
    """ClickHouse SELECT modifiers (_expand_select_modifiers): positional
    * REPLACE, COLUMNS('re') regex base, APPLY(fn) with CH result naming,
    chained EXCEPT/REPLACE/APPLY, schema-free REPLACE without a session,
    and non-modifier stars/multiplication left untouched."""
    from clickhouse_flatfile_tool_spark.dialect import (
        translate_clickhouse_sql as t,
    )

    spark.createDataFrame(
        [(1, 10.0, 100.0, "x"), (2, 20.0, 200.0, "y")],
        "id long, price double, total double, tag string",
    ).createOrReplaceTempView("mod_t")
    # positional REPLACE: column order preserved
    df = spark.sql(
        t("SELECT * REPLACE(price * 2 AS price) FROM mod_t ORDER BY id",
          spark=spark)
    )
    assert df.columns == ["id", "price", "total", "tag"]
    assert [r.price for r in df.collect()] == [20.0, 40.0]
    # COLUMNS regex + APPLY naming
    df2 = spark.sql(
        t("SELECT tag, COLUMNS('^(price|total)$') APPLY(sum) FROM mod_t "
          "GROUP BY tag ORDER BY tag", spark=spark)
    )
    assert df2.columns == ["tag", "sum(price)", "sum(total)"]
    assert [tuple(r) for r in df2.collect()] == [
        ("x", 10.0, 100.0), ("y", 20.0, 200.0)]
    # chained EXCEPT -> REPLACE -> APPLY
    df3 = spark.sql(
        t("SELECT * EXCEPT(tag) REPLACE(id + 100 AS id) APPLY(max) "
          "FROM mod_t", spark=spark)
    )
    assert df3.columns == ["max(id)", "max(price)", "max(total)"]
    assert tuple(df3.first()) == (102, 20.0, 200.0)
    # schema-free REPLACE (no session): EXCEPT trick, column moves to end
    sql = t("SELECT * REPLACE(round(price, 0) AS price) FROM mod_t")
    assert "EXCEPT(`price`)" in sql and sql.rstrip().endswith(
        "round(price, 0) AS price FROM mod_t"
    )
    # stars and multiplication pass through untouched
    assert t("SELECT count(*) FROM mod_t", spark=spark) == (
        "SELECT count(*) FROM mod_t"
    )
    assert t("SELECT id * 2 AS d FROM mod_t", spark=spark) == (
        "SELECT id * 2 AS d FROM mod_t"
    )
    # set-op EXCEPT (parenthesized operand) is not a modifier
    df4 = spark.sql(
        t("SELECT * FROM mod_t EXCEPT (SELECT * FROM mod_t WHERE id = 2)",
          spark=spark)
    )
    assert [r.id for r in df4.collect()] == [1]


def test_batch21_functions(spark):
    """Batch 21: conditional-combinator extensions (quantileIf/
    quantilesIf curried, medianIf, groupArrayIf/groupUniqArrayIf), bar
    full-block chart, space, parseTimeDelta unit ladder,
    formatReadableTimeDelta rendering, joinGet over a registered
    Join-engine table."""
    from clickhouse_flatfile_tool_spark.dialect import register_join_table

    r = spark.sql(
        tr(
            "SELECT "
            "quantileIf(0.5)(v, v > 1) AS q, "
            "medianIf(v, v > 1) AS m, "
            "arraySort(groupArrayIf(v, v >= 2)) AS ga, "
            "arraySort(groupUniqArrayIf(v, v >= 2)) AS gu, "
            "arraySum(quantilesIf(0.0, 1.0)(v, v > 1)) AS qs "
            "FROM VALUES (1.0), (2.0), (3.0), (2.0) AS t(v)"
        )
    ).first()
    assert (float(r.q), float(r.m)) == (2.0, 2.0)
    assert [float(x) for x in r.ga] == [2.0, 2.0, 3.0]
    assert [float(x) for x in r.gu] == [2.0, 3.0]
    assert float(r.qs) == 5.0  # min 2 + max 3 of the v > 1 subset
    s = spark.sql(
        tr(
            "SELECT bar(5, 0, 10, 8) AS b1, bar(99, 0, 10, 8) AS bclamp, "
            "bar(3, 3, 3, 8) AS bdegen, space(3) AS sp, "
            "parseTimeDelta('1h 30m') AS p1, "
            "parseTimeDelta('2 days 4 hours') AS p2, "
            "parseTimeDelta('500ms') AS p3, "
            "parseTimeDelta('nonsense') AS p0, "
            "formatReadableTimeDelta(7693) AS f1, "
            "formatReadableTimeDelta(0) AS f0, "
            "formatReadableTimeDelta(90061) AS f2"
        )
    ).first()
    assert s.b1 == "████" and s.bclamp == "████████" and s.bdegen == ""
    assert s.sp == "   "
    assert (s.p1, s.p2, s.p3, s.p0) == (5400.0, 187200.0, 0.5, 0.0)
    assert s.f1 == "2 hours, 8 minutes, 13 seconds"
    assert s.f0 == "0 seconds"
    assert s.f2 == "1 day, 1 hour, 1 minute, 1 second"
    # joinGet: registered Join-engine table; misses yield NULL
    spark.createDataFrame(
        [(1, "one"), (2, "two")], "k long, v string"
    ).createOrReplaceTempView("b21_jt_t")
    register_join_table("b21_jt_t", "b21_jt_t", "k")
    j = spark.sql(
        tr("SELECT joinGet('b21_jt_t', 'v', 2) AS a, "
           "joinGet('b21_jt_t', 'v', 9) AS miss, "
           "joinGetOrNull('b21_jt_t', 'v', 1) AS c")
    ).first()
    assert (j.a, j.miss, j.c) == ("two", None, "one")


def test_join_engine_ddl_lifecycle(spark):
    """CREATE TABLE ... ENGINE = Join(ANY, LEFT, k) registers the table
    for joinGet through api.query; DROP TABLE deregisters it."""
    from clickhouse_flatfile_tool_spark import api

    api.query(
        spark,
        "CREATE TABLE jlife (k Int64, v String) ENGINE = Join(ANY, LEFT, k)",
    )
    spark.sql(
        "SELECT 1L AS k, 'one' AS v UNION ALL SELECT 2L, 'two'"
    ).createOrReplaceTempView("jlife")
    got = api.query(
        spark, "SELECT joinGet('jlife', 'v', 1) AS a"
    )
    assert got["data"][0]["a"] == "one"
    api.query(spark, "DROP TABLE jlife")
    from clickhouse_flatfile_tool_spark.dialect import _JOIN_TABLES

    assert "jlife" not in _JOIN_TABLES


def test_r7_advice_fixes(spark):
    """Round-7 ADVICE regression pack: (1) composite-key Join tables stay
    unregistered so joinGet errors by name instead of probing k1 alone;
    (2) _expand_select_modifiers masks string literals (a literal that
    LOOKS like a modifier chain is preserved verbatim); (3) a malformed
    modifier candidate (real multiplication `x * replace(...)`) skips
    locally without aborting a genuine chain later in the statement;
    (4) the exponentialMovingAverage fold uses reserved __ac/__ev lambda
    params so an hl expression naming columns `a`/`e` isn't captured; (5)
    extractGroups counts capture groups escape/char-class-aware."""
    from clickhouse_flatfile_tool_spark import api
    from clickhouse_flatfile_tool_spark.dialect import (
        _JOIN_TABLES,
        _count_capture_groups,
        translate_clickhouse_sql as t,
    )

    # (1) composite-key Join engine: NOT registered
    api.query(
        spark,
        "CREATE TABLE jcomp (k1 Int64, k2 Int64, v String) "
        "ENGINE = Join(ANY, LEFT, k1, k2)",
    )
    try:
        assert "jcomp" not in _JOIN_TABLES
    finally:
        api.query(spark, "DROP TABLE IF EXISTS jcomp")

    # (2) modifier-looking text inside a string literal is untouched
    spark.createDataFrame(
        [(1, 10.0, "2")], "id long, price double, s string"
    ).createOrReplaceTempView("mod_lit")
    lit_sql = "SELECT ' * REPLACE(x AS y) junk FROM t' AS s FROM mod_lit"
    assert t(lit_sql) == lit_sql
    assert t(lit_sql, spark=spark) == lit_sql

    # (3) malformed candidate is local: the genuine chain after it expands
    df = spark.sql(
        t(
            "SELECT price * replace(s, '9', '8') AS p2, "
            "* REPLACE(price * 3 AS price) FROM mod_lit",
            spark=spark,
        )
    )
    assert df.columns == ["p2", "id", "price", "s"]
    row = df.first()
    assert row.price == 30.0 and row.p2 == 20.0

    # (4) EMA fold params are reserved: an hl expression naming columns
    # a/e is NOT captured by the fold lambda anymore.  Pre-fix, bare a/e
    # params silently bound `a + e` to accumulator/element structs and the
    # query "worked" with garbage; post-fix Spark correctly rejects a
    # non-grouped column inside the aggregate (CH requires constant hl).
    sql = t("SELECT exponentialMovingAverage(a + e)(v, ts) AS ema FROM ema_ae")
    assert "(__ac, __ev) ->" in sql and "CAST(a + e AS DOUBLE)" in sql
    spark.createDataFrame(
        [(5.0, 0.0, 1.0, 0.0), (5.0, 0.0, 3.0, 5.0)],
        "a double, e double, v double, ts double",
    ).createOrReplaceTempView("ema_ae")
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        spark.sql(sql)
    # constant hl still computes: decay on the older point pow(.5,5/5)=.5
    got = spark.sql(
        t("SELECT exponentialMovingAverage(5)(v, ts) AS ema FROM ema_ae")
    ).first()
    assert abs(got.ema - (3.0 + 0.5 * 1.0) / 1.5) < 1e-9

    # (5) capture-group counting: char class, escaped backslash, named
    assert _count_capture_groups("[(]x") == 0
    assert _count_capture_groups(r"\\(a)") == 1
    assert _count_capture_groups(r"(?:x)(y)") == 1
    assert _count_capture_groups("(?<name>x)(?<=y)") == 1
    g = spark.sql(
        t("SELECT extractGroups('ab(cd', '[(](\\\\w+)') AS eg")
    ).first()
    assert list(g.eg) == ["cd"]


def test_batch22_scalar_rewrites(spark):
    """Batch 22 scalar surface: multiMatch*/multiSearchFirstIndex, JSON
    array/UInt extraction, xor, timeDiff, sigmoid, firstLine,
    appendTrailingCharIfAbsent, millisecond arithmetic, ISO-year start,
    OrZero/OrNull conversions, map sort family, extractAllGroups — each
    executed with exact expected values."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    r = spark.sql(t(
        "SELECT "
        "multiMatchAny('clickhouse', ['^cl', 'zz$']) AS m1, "
        "multiMatchAny('spark', ['^cl', 'zz$']) AS m2, "
        "multiMatchAnyIndex('warehouse', ['^cl', 'se$']) AS mi, "
        "multiSearchFirstIndex('a join b', ['vector', 'join']) AS ms, "
        "multiSearchFirstIndex('nothing', ['vector', 'join']) AS ms0, "
        # leftmost-occurrence rule: 'join' (offset 3) beats 'vector'
        # (offset 10) even though 'vector' is first in the array
        "multiSearchFirstIndex('a join b vector', ['vector', 'join']) "
        "  AS msl, "
        "JSONExtractArrayRaw('[1, \"a\", {\"k\": 2}]') AS jar, "
        "JSONExtractArrayRaw('{\"items\": [7, 8]}', 'items') AS jar2, "
        "JSONExtractArrayRaw('{}') AS jar0, "
        "JSONExtractUInt('{\"n\": 42}', 'n') AS jeu, "
        "JSONArrayLength('[1,2,3]') AS jal, "
        "visitParamHas('{\"k\": 1}', 'k') AS vph, "
        "xor(1 = 1, 2 = 3) AS x1, xor(true, true) AS x2, "
        "timeDiff(toDateTime('2024-01-01 00:00:00'), "
        "  toDateTime('2024-01-01 00:02:05')) AS td, "
        "round(sigmoid(0), 6) AS sg, "
        "firstLine('top\\nrest') AS fl, "
        "appendTrailingCharIfAbsent('dir', '/') AS a1, "
        "appendTrailingCharIfAbsent('dir/', '/') AS a2, "
        "toMillisecond(addMilliseconds(toDateTime('2024-01-01 00:00:00'), "
        "  250)) AS ms250, "
        "toStartOfISOYear(toDate('2021-01-01')) AS isy, "
        "toUInt32OrZero('17') AS u17, toUInt32OrZero('xx') AS u0, "
        "toDateOrZero('zz') AS dz, "
        "toFloat64(toDecimal64OrZero('bad', 3)) AS dz3, "
        "toFloat64(toDecimal64OrNull('2.5', 1)) AS dn, "
        "parseDateTimeBestEffortOrNull('not a ts') AS pn, "
        "startsWithUTF8('héllo', 'hé') AS sw, "
        "arrayStringConcat(mapKeys(mapSort(map('b', 1, 'a', 2))), ',') AS mk, "
        "arrayStringConcat(mapKeys(mapReverseSort(map('a', 1, 'b', 2))), ',') "
        "  AS mrk, "
        "mapValues(mapConcat(map('x', 1), map('y', 2))) AS mc"
    )).first()
    assert r.m1 is True and r.m2 is False
    assert r.mi == 2 and r.ms == 2 and r.ms0 == 0
    assert r.msl == 2  # leftmost occurrence wins, not array order
    # string elements come back unquoted (Spark get_json_object rendering,
    # the documented JSONExtractRaw stance; CH keeps the quotes)
    assert list(r.jar) == ["1", "a", '{"k":2}']
    assert list(r.jar2) == ["7", "8"] and list(r.jar0) == []
    assert r.jeu == 42 and r.jal == 3 and r.vph is True
    assert r.x1 is True and r.x2 is False
    assert r.td == 125
    assert abs(r.sg - 0.5) < 1e-9
    assert r.fl == "top"
    assert r.a1 == "dir/" and r.a2 == "dir/"
    assert r.ms250 == 250
    assert str(r.isy) == "2019-12-30"  # ISO year of 2021-01-01 is 2020
    assert r.u17 == 17 and r.u0 == 0
    assert str(r.dz) == "1970-01-01"
    assert r.dz3 == 0.0 and r.dn == 2.5
    assert r.pn is None
    assert r.sw is True
    assert r.mk == "a,b" and r.mrk == "b,a"
    assert list(r.mc) == [1, 2]


def test_batch22_sha_family(spark):
    """SHA224/384/512 follow the SHA256 unhex stance: hex(SHAn(x)) equals
    hashlib's uppercase hex digest."""
    import hashlib

    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    r = spark.sql(t(
        "SELECT hex(SHA224('abc')) AS h224, hex(SHA384('abc')) AS h384, "
        "hex(SHA512('abc')) AS h512"
    )).first()
    assert r.h224 == hashlib.sha224(b"abc").hexdigest().upper()
    assert r.h384 == hashlib.sha384(b"abc").hexdigest().upper()
    assert r.h512 == hashlib.sha512(b"abc").hexdigest().upper()


def test_batch22_group_array_last(spark):
    """groupArrayLast exact slice semantics, checked where order is
    well-defined: the generated slice arithmetic over a literal array
    (last 3 of [1..5] = [3,4,5]; n past the size = whole array), plus a
    single-row group (trivially ordered) through the real aggregate."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    sql = t("SELECT groupArrayLast(3)(v) AS l3 FROM lit_g")
    # the rewrite slices collect_list; verify the identical slice logic
    # on a literal array by substituting the collected list
    lit = sql.replace("collect_list(v)", "array(1, 2, 3, 4, 5)").replace(
        " FROM lit_g", ""
    )
    assert list(spark.sql(lit).first().l3) == [3, 4, 5]
    lit9 = t("SELECT groupArrayLast(9)(v) AS l9 FROM lit_g").replace(
        "collect_list(v)", "array(1, 2)"
    ).replace(" FROM lit_g", "")
    assert list(spark.sql(lit9).first().l9) == [1, 2]
    spark.createDataFrame([(7,)], "v int").createOrReplaceTempView("lit_g")
    assert list(spark.sql(sql).first().l3) == [7]


def test_batch22_matrices_and_groups(spark):
    """corrMatrix/covarSampMatrix explicit pairwise expansion and the
    extractAllGroups family (vertical = match-major, horizontal =
    group-major)."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 7.0)], "a double, b double"
    ).createOrReplaceTempView("b22m")
    r = spark.sql(t(
        "SELECT corrMatrix(a, b) AS cm, covarSampMatrix(a, b) AS vm FROM b22m"
    )).first()
    assert abs(r.cm[0][0] - 1.0) < 1e-9 and abs(r.cm[1][1] - 1.0) < 1e-9
    assert abs(r.cm[0][1] - r.cm[1][0]) < 1e-12
    assert abs(r.vm[0][0] - 1.0) < 1e-9      # var_samp([1,2,3]) = 1
    assert abs(r.vm[0][1] - 2.5) < 1e-9      # covar_samp = 2.5
    g = spark.sql(t(
        "SELECT extractAllGroupsVertical('a1 b2', '([a-z])(\\\\d)') AS v, "
        "extractAllGroupsHorizontal('a1 b2', '([a-z])(\\\\d)') AS h, "
        "extractAllGroups('zz', '([a-z])(\\\\d)') AS none"
    )).first()
    assert [list(x) for x in g.v] == [["a", "1"], ["b", "2"]]
    assert [list(x) for x in g.h] == [["a", "b"], ["1", "2"]]
    assert list(g.none) == []


def test_batch22_typed_dict_get(spark):
    """Typed dictGet variants pin the result type via CAST over the same
    decorrelated scalar-subquery probe; missing keys stay NULL."""
    from clickhouse_flatfile_tool_spark.dialect import (
        register_dictionary,
        translate_clickhouse_sql as t,
    )

    spark.createDataFrame(
        [(1, "one", 1.5), (2, "two", 2.5)], "k long, nm string, w double"
    ).createOrReplaceTempView("b22d")
    register_dictionary("b22dict", "b22d", "k")
    df = spark.sql(t(
        "SELECT dictGetString('b22dict', 'nm', 1) AS s, "
        "dictGetFloat64('b22dict', 'w', 2) AS f, "
        "dictGetInt64('b22dict', 'k', 1) AS i, "
        "dictGetString('b22dict', 'nm', 99) AS missing"
    ))
    r = df.first()
    assert r.s == "one" and r.f == 2.5 and r.i == 1 and r.missing is None
    assert dict(df.dtypes)["f"] == "double"


def test_batch23_ttests(spark):
    """studentTTest/welchTTest t statistics from pure sums match scipy's
    hand-derivable two-sample values on a tiny fixture (statistic only,
    the meanZTest stance)."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    # sample0 = [1,2,3], sample1 = [2,4,6,8]
    spark.createDataFrame(
        [(1.0, 0), (2.0, 0), (3.0, 0), (2.0, 1), (4.0, 1), (6.0, 1), (8.0, 1)],
        "x double, idx int",
    ).createOrReplaceTempView("tt23")
    r = spark.sql(t(
        "SELECT studentTTest(x, idx) AS st, welchTTest(x, idx) AS wt FROM tt23"
    )).first()
    # hand-computed: m0=2, m1=5, s0²=1, s1²=20/3, n0=3, n1=4
    sp2 = (2 * 1.0 + 3 * (20.0 / 3)) / 5
    import math

    st = (2.0 - 5.0) / math.sqrt(sp2 * (1 / 3 + 1 / 4))
    wt = (2.0 - 5.0) / math.sqrt(1.0 / 3 + (20.0 / 3) / 4)
    assert abs(r.st - st) < 1e-9 and abs(r.wt - wt) < 1e-9


def test_batch23_nonnegative_derivative(spark):
    """nonNegativeDerivative: per-second positive rate over the window,
    NULL on the first row, negative deltas clamped to 0."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10.0), (1, "2024-01-01 00:00:10", 30.0),
         (1, "2024-01-01 00:00:20", 20.0), (2, "2024-01-01 00:00:00", 5.0)],
        "u int, ts string, m double",
    ).selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts", "m").createOrReplaceTempView("nnd23")
    rows = spark.sql(t(
        "SELECT u, ts, nonNegativeDerivative(m, ts) "
        "OVER (PARTITION BY u ORDER BY ts) AS r FROM nnd23 ORDER BY u, ts"
    )).collect()
    assert rows[0].r is None and abs(rows[1].r - 2.0) < 1e-9
    assert rows[2].r == 0.0 and rows[3].r is None


def test_batch23_misc_scalars(spark):
    """mapUpdate collision policy, isNotDistinctFrom NULL semantics,
    multiSearch positions, Lp norms, JSON key/value pairs, UUID
    validation, URL tails."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    r = spark.sql(t(
        "SELECT "
        "mapValues(mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3))) AS mu, "
        "mapKeys(mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3))) AS muk, "
        "isNotDistinctFrom(NULL, NULL) AS ind1, "
        "isNotDistinctFrom(1, NULL) AS ind2, "
        "multiSearchAllPositions('hello world', ['wor', 'zz', 'h']) AS map_, "
        "multiSearchFirstPosition('hello world', ['zz', 'wor']) AS mfp, "
        "multiSearchFirstPosition('hello', ['zz']) AS mfp0, "
        "round(LpNorm([3.0, 4.0], 2), 6) AS lp2, "
        "normalizeL1([1.0, 3.0]) AS n1, "
        "round(arrayElement(normalizeL2([3.0, 4.0]), 1), 6) AS n2, "
        "JSONExtractKeysAndValuesRaw('{\"a\": 1, \"b\": \"x\"}') AS kv, "
        "toUUIDOrNull('123e4567-e89b-12d3-a456-426614174000') AS u1, "
        "toUUIDOrNull('nope') AS u0, "
        "cutQueryStringAndFragment('http://x.com/p?a=1#f') AS cut, "
        "extractURLParameters('http://x.com/p?a=1&b=2') AS ps, "
        "extractURLParameterNames('http://x.com/p?a=1&b=2') AS pn, "
        "decodeURLFormComponent('a+b%21') AS dfc"
    )).first()
    assert list(r.mu) == [1, 9, 3] and list(r.muk) == ["a", "b", "c"]
    assert r.ind1 is True and r.ind2 is False
    assert list(r.map_) == [7, 0, 1]
    assert r.mfp == 7 and r.mfp0 == 0
    assert abs(r.lp2 - 5.0) < 1e-9
    assert [round(x, 6) for x in r.n1] == [0.25, 0.75]
    assert abs(r.n2 - 0.6) < 1e-9
    assert [(e.col1, e.col2) for e in r.kv] == [("a", "1"), ("b", "x")]
    assert r.u1 is not None and r.u0 is None
    assert r.cut == "http://x.com/p"
    assert list(r.ps) == ["a=1", "b=2"] and list(r.pn) == ["a", "b"]
    assert r.dfc == "a b!"


def test_batch23_aggregates(spark):
    """sumMapFiltered key filter, maxIntersectionsPosition argmax sweep,
    weighted-quantile aliases, groupArraySample size/membership, random
    generators in range."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    spark.createDataFrame(
        [([1, 2, 3], [10.0, 20.0, 30.0]), ([1, 3], [5.0, 5.0])],
        "k array<int>, v array<double>",
    ).createOrReplaceTempView("smf23")
    r = spark.sql(t(
        "SELECT sumMapFiltered([1, 3])(k, v) AS sm FROM smf23"
    )).first()
    assert list(r.sm.col1) == [1, 3] and list(r.sm.col2) == [15.0, 35.0]

    spark.createDataFrame(
        [(1.0, 5.0), (2.0, 6.0), (3.0, 4.0), (10.0, 11.0)],
        "s double, e double",
    ).createOrReplaceTempView("mi23")
    r = spark.sql(t(
        "SELECT maxIntersections(s, e) AS mi, "
        "maxIntersectionsPosition(s, e) AS mp FROM mi23"
    )).first()
    assert r.mi == 3 and r.mp == 3.0  # occupancy hits 3 when [3,4) opens

    spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 2)], "x double, w int"
    ).createOrReplaceTempView("qw23")
    r = spark.sql(t(
        "SELECT quantileInterpolatedWeighted(0.5)(x, w) AS q FROM qw23"
    )).first()
    assert abs(r.q - 2.5) < 1e-9  # expanded multiset [1,2,3,3] median

    spark.createDataFrame(
        [(i,) for i in range(10)], "x int"
    ).createOrReplaceTempView("gs23")
    r = spark.sql(t(
        "SELECT groupArraySample(4)(x) AS s, "
        "CAST(floor(rand32() / 4294967296.0) AS INT) AS z32, "
        "randBernoulli(0.5) AS rb, randExponential(2.0) AS re, "
        "randLogNormal(0.0, 1.0) AS rl FROM gs23 GROUP BY 'all'"
    )).first()
    assert len(r.s) == 4 and set(r.s) <= set(range(10))
    assert r.z32 == 0 and r.rb in (0, 1) and r.re > 0 and r.rl > 0


def test_batch24_state_merge(spark):
    """-State/-Merge two-phase: per-key partial states merged equal the
    direct aggregate (sum/count identity, avg struct, quantile collected
    list with percentile interpolation)."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0), (2, 4.0), (2, 5.0)],
        "k int, v double",
    ).createOrReplaceTempView("sm24")
    r = spark.sql(t(
        "SELECT sumMerge(ps) AS s, countMerge(cs) AS c, "
        "avgMerge(avs) AS a, quantileMerge(0.5)(qs) AS q "
        "FROM (SELECT k, sumState(v) AS ps, countState(v) AS cs, "
        "avgState(v) AS avs, quantileState(v) AS qs FROM sm24 GROUP BY k)"
    )).first()
    assert r.s == 15.0 and r.c == 5
    assert abs(r.a - 3.0) < 1e-9 and abs(r.q - 3.0) < 1e-9
    # interpolation on an even count
    r2 = spark.sql(t(
        "SELECT quantileMerge(0.5)(qs) AS q FROM (SELECT k, "
        "quantileState(v) AS qs FROM sm24 WHERE v <= 4 GROUP BY k)"
    )).first()
    assert abs(r2.q - 2.5) < 1e-9


def test_batch24_foreach_resample_argminmax(spark):
    """-ForEach padded element-wise folds (ragged arrays), -Resample
    literal buckets, sumArgMin/Max restart-sum folds, -OrDefault,
    groupArrayInsertAt scatter, arrayLastIndex."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    spark.createDataFrame(
        [([1.0, 2.0], 1), ([3.0, 4.0, 5.0], 2)], "a array<double>, k int"
    ).createOrReplaceTempView("fe24")
    r = spark.sql(t(
        "SELECT sumForEach(a) AS s, maxForEach(a) AS mx, "
        "avgForEach(a) AS av FROM fe24"
    )).first()
    assert list(r.s) == [4.0, 6.0, 5.0]
    assert list(r.mx) == [3.0, 4.0, 5.0]
    assert list(r.av) == [2.0, 3.0, 5.0]  # position 3 has one member

    spark.createDataFrame(
        [(0.5, 1.0), (1.5, 2.0), (2.5, 3.0), (7.0, 9.0)],
        "k double, v double",
    ).createOrReplaceTempView("rs24")
    r = spark.sql(t(
        "SELECT sumResample(0, 4, 2)(v, k) AS sr, "
        "countResample(0, 4, 2)(v, k) AS cr, "
        "sumArgMin(v, k) AS sam, sumArgMax(v, k) AS sax, "
        "sumOrDefault(CASE WHEN v < 0 THEN v END) AS sod, "
        "groupArrayInsertAt(-1.0, 3)(v, toInt64(k)) AS gia, "
        "arrayLastIndex(__x -> __x > 1.5, [1.0, 2.0, 3.0, 1.0]) AS ali "
        "FROM rs24"
    )).first()
    assert list(r.sr) == [3.0, 3.0]     # [0,2): 1+2; [2,4): 3; k=7 outside
    assert list(r.cr) == [2, 1]
    assert r.sam == 1.0 and r.sax == 9.0
    assert r.sod == 0
    # toInt64 truncates k: slots 0<-0.5, 1<-1.5, 2<-2.5 (7.0 -> pos 7 ignored
    # beyond size... transform guard: only positions < size land)
    assert list(r.gia) == [1.0, 2.0, 3.0]
    assert r.ali == 3


def test_batch25_tail(spark):
    """Batch 25: comparison function forms, bit rotate right, byteSwap,
    timezoneOffset (0 under the fixed-UTC session), relative week
    arithmetic, decimal arithmetic, wide-integer lanes, decimal
    readable size, hasTokenOrNull, visibleWidth, toColumnTypeName."""
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql as t

    r = spark.sql(t(
        "SELECT equals(1, 1) AS e1, notEquals(1, 2) AS ne, "
        "lessOrEquals(1, 1) AS le, greater(2, 1) AS g, "
        "bitRotateRight(8, 3) AS brr, bitRotateLeft(1, 3) AS brl, "
        "byteSwap(1) AS bs, byteSwap(258) AS bs2, "
        "timezoneOffset(toDateTime('2024-06-01 00:00:00')) AS tzo, "
        "toRelativeWeekNum(toDate('1970-01-01')) - "
        "  toRelativeWeekNum(toDate('1969-12-29')) AS rw0, "
        "toRelativeWeekNum(toDate('1970-01-12')) - "
        "  toRelativeWeekNum(toDate('1970-01-01')) AS rw2, "
        "multiplyDecimal(toDecimal64('1.5', 2), toDecimal64('2.5', 2)) AS md, "
        "divideDecimal(toDecimal64('7.0', 2), toDecimal64('2.0', 2), 3) AS dd, "
        "toInt128('99999999999999999999') AS i128, "
        "formatReadableDecimalSize(1500000) AS frd, "
        "hasTokenOrNull('alpha beta', 'beta') AS ht1, "
        "hasTokenOrNull('alpha beta', 'be ta') AS ht0, "
        "visibleWidth(12345) AS vw"
    )).first()
    assert r.e1 is True and r.ne is True and r.le is True and r.g is True
    assert r.brr == 1 and r.brl == 8
    # byteSwap(1) = 1 << 56; byteSwap(258 = 0x0102) = 0x0201 << 48
    assert r.bs == 1 << 56 and r.bs2 == (0x0201 << 48)
    assert r.tzo == 0
    # Monday-aligned: Jan 1 1970 sits in the anchor's own week (delta 0);
    # Jan 12 is two Monday boundaries later
    assert r.rw0 == 0 and r.rw2 == 2
    assert float(r.md) == 3.75 and float(r.dd) == 3.5
    assert str(r.i128) == "99999999999999999999"
    assert r.frd == "1.50 MB"
    assert r.ht1 is True and r.ht0 is None
    assert r.vw == 5


def test_batch26_math_specials(spark):
    """Batch 26: erf/erfc (A&S 7.1.26, |err| < 1.5e-7) and
    lgamma/tgamma (Lanczos g=7, z >= 0.5) against Python math."""
    import math

    r = spark.sql(tr(
        "SELECT erf(0.5) AS e1, erf(-1.2) AS e2, erfc(0.8) AS ec, "
        "lgamma(4.5) AS lg, lgamma(0.7) AS lg2, "
        "tgamma(5) AS tg, tgamma(2.5) AS tg2"
    )).first()
    assert abs(r.e1 - math.erf(0.5)) < 2e-7
    assert abs(r.e2 - math.erf(-1.2)) < 2e-7
    assert abs(r.ec - math.erfc(0.8)) < 2e-7
    assert abs(r.lg - math.lgamma(4.5)) < 1e-10
    assert abs(r.lg2 - math.lgamma(0.7)) < 1e-10
    assert abs(r.tg - 24.0) < 1e-7
    assert abs(r.tg2 - math.gamma(2.5)) < 1e-10


def test_batch26_tail(spark):
    """Batch 26: array/string/bit/tuple/url/json coverage tail."""
    r = spark.sql(tr(
        "SELECT emptyArrayToSingle(emptyArrayInt64()) AS ea, "
        "emptyArrayToSingle([7, 8]) AS ea2, "
        "arrayReduceInRanges('sum', [(1, 3), (2, 2)], [1, 2, 3, 4]) AS arr, "
        "hasSubsequence('garbage', 'arg') AS hs1, "
        "hasSubsequence('garbage', 'bga') AS hs0, "
        "unbin('0100000101000010') AS ub, "
        "bitSlice('Hello', 1, 8) AS bsl, "
        "mortonEncode(5, 9) AS me, mortonDecode(2, 99).col1 AS mdx, "
        "reinterpretAsUInt64('AB') AS ri, "
        "reinterpretAsString(16706) AS rs, "
        "pointInEllipses(1.0, 1.0, 0.0, 0.0, 2.0, 2.0) AS pe1, "
        "pointInEllipses(3.0, 3.0, 0.0, 0.0, 1.0, 1.0, 0.5, 0.5, 1.0, 1.0) "
        "  AS pe0, "
        "cutURLParameter('http://x/?a=1&b=2&c=3', 'b') AS cu1, "
        "cutURLParameter('http://x/?a=1', 'a') AS cu2, "
        "JSONExtractKeysAndValues('{\"a\": 5, \"b\": 7}', 'Int64') AS kv, "
        "formatRowNoNewline('JSONEachRow', 5) AS frj, "
        "formatRow('TSV', 5, 'x') AS frt, "
        "toFloat64(toDecimal256('1.25', 2)) AS d256, "
        "hostName() AS hn, uptime() AS up, sleep(3) AS sl, "
        "sipHash128('abc') AS sh, murmurHash3_128('abc') AS mh, "
        "xxh3('q') = xxHash64('q') AS xx, "
        "leftPadUTF8('ab', 4, '*') AS lp, rightPadUTF8('ab', 4, '*') AS rp"
    )).first()
    # mortonEncode(5, 9): x bits 0,2 -> even lanes 0,4; y bits 0,3 ->
    # odd lanes 1,7 => 1 + 2 + 16 + 128 = 147
    assert list(r.ea) == [0] and list(r.ea2) == [7, 8]
    assert [float(v) for v in r.arr] == [6.0, 5.0]
    assert r.hs1 is True and r.hs0 is False
    assert r.ub == "AB" and r.bsl == "H"
    assert r.me == 147
    assert r.mdx == sum(((99 >> (2 * i)) & 1) << i for i in range(32))
    assert r.ri == ord("A") + 256 * ord("B")
    assert r.rs == "BA"
    assert r.pe1 is True and r.pe0 is False
    assert r.cu1 == "http://x/?a=1&c=3" and r.cu2 == "http://x/?"
    assert [(e.col1, e.col2) for e in r.kv] == [("a", 5), ("b", 7)]
    assert r.frj == '{"expr_1":5}'
    assert r.frt == "5\tx\n"
    assert float(r.d256) == 1.25
    assert r.hn == "localhost" and r.up == 0 and r.sl == 0
    assert len(r.sh) == 32 and len(r.mh) == 32 and r.sh != r.mh
    assert r.xx is True
    assert r.lp == "**ab" and r.rp == "ab**"


def test_batch26_geohashes_in_box(spark):
    """geohashesInBox constant-folds to the covering cell array and
    agrees with the engine's own geohashEncode on an interior point."""
    r = spark.sql(tr(
        "SELECT geohashesInBox(-1.0, -1.0, 1.0, 1.0, 3) AS cells, "
        "geohashEncode(0.1, 0.1, 3) AS center, "
        "geohashEncode(-0.9, -0.9, 3) AS corner"
    )).first()
    assert r.center in r.cells and r.corner in r.cells
    assert list(r.cells) == sorted(set(r.cells))


def test_batch26_random_family(spark):
    """Nondeterministic family: deterministic PROPERTIES only (length,
    range, per-call-site constancy across rows)."""
    spark.range(50).createOrReplaceTempView("b26_rows")
    rows = spark.sql(tr(
        "SELECT randomPrintableASCII(16) AS ra, randomString(8) AS rs, "
        "randBinomial(10, 0.5) AS rb, randPoisson(4.0) AS rp, "
        "randConstant() AS rc1, randConstant() AS rc2 "
        "FROM b26_rows LIMIT 50"
    )).collect()
    import re as _re

    for r in rows:
        assert len(r.ra) == 16 and _re.fullmatch(r"[ -~]{16}", r.ra)
        assert len(r.rs) == 8
        assert 0 <= r.rb <= 10
        assert r.rp >= 0
    # one constant per call site, shared by every row
    assert len({r.rc1 for r in rows}) == 1
    assert len({r.rc2 for r in rows}) == 1
    vals = [r.rb for r in rows] + [r.rp for r in rows]
    assert len(set(vals)) > 1  # actually random, not a constant fold


def test_batch27_ipv6_roundtrip(spark):
    """Batch 27 IPv6: parse/print agree with Python's ipaddress for a
    spread of forms (:: compression, mixed case, dotted tails, mapped
    rendering — CH renders ::ffff:a.b.c.d, Python 3.11 does not, so the
    round-trip compares ADDRESSES, not strings)."""
    import ipaddress

    cases = [
        "2001:db8::1", "::1", "::", "1:2:3:4:5:6:7:8", "fe80::1:2",
        "::ffff:192.168.1.1", "2001:DB8::FF", "1::", "0:1:2:3:4:5:6:7",
        "1:0:0:1:0:0:0:1", "2001:0:0:1::1", "abcd:ef01:2345:6789::",
    ]
    sel = ", ".join(
        f"hex(IPv6StringToNum('{a}')) AS h{i}, "
        f"IPv6NumToString(IPv6StringToNum('{a}')) AS s{i}"
        for i, a in enumerate(cases)
    )
    r = spark.sql(tr("SELECT " + sel)).first()
    for i, a in enumerate(cases):
        want = int(ipaddress.IPv6Address(a))
        assert int(r[f"h{i}"], 16) == want, a
        assert int(ipaddress.IPv6Address(r[f"s{i}"])) == want, a
    # dotted-quad input maps to ::ffff (CH's own conversion)
    r = spark.sql(tr(
        "SELECT IPv6NumToString(IPv6StringToNum('1.2.3.4')) AS m"
    )).first()
    assert r.m == "::ffff:1.2.3.4"


def test_batch27_ip_tail(spark):
    """Batch 27: OrNull gate, toIPv4/toIPv6, IPv4ToIPv6, cutIPv6,
    IPv6CIDRToRange, isIPAddressInRange (v4 + v6, non-nibble prefixes)."""
    import ipaddress

    net = ipaddress.ip_network("2001:db8::/53")
    r = spark.sql(tr(
        "SELECT IPv4StringToNumOrNull('1.2.3.4') AS ok, "
        "IPv4StringToNumOrNull('1.2.3.999') AS bad, "
        "IPv4StringToNumOrNull('01.2.3.4') AS zeros, "
        "toIPv4('255.255.255.255') AS t4, "
        "hex(IPv4ToIPv6(toIPv4('1.2.3.4'))) AS m6, "
        "cutIPv6(IPv6StringToNum('2001:db8:1:2:3:4:5:6'), 4, 0) AS cut, "
        "hex(IPv6CIDRToRange(IPv6StringToNum('2001:db8::1'), 53).col1) "
        "  AS lo, "
        "hex(IPv6CIDRToRange(IPv6StringToNum('2001:db8::1'), 53).col2) "
        "  AS hi, "
        "isIPAddressInRange('192.168.5.7', '192.168.4.0/22') AS in4, "
        "isIPAddressInRange('192.168.8.7', '192.168.4.0/22') AS out4, "
        "isIPAddressInRange('2001:db8:8000::1', '2001:db8:8000::/33') "
        "  AS in6, "
        "isIPAddressInRange('2001:db8:4000::1', '2001:db8:8000::/33') "
        "  AS out6"
    )).first()
    assert r.ok == 16909060 and r.bad is None and r.zeros is None
    assert r.t4 == 4294967295
    assert r.m6 == "00000000000000000000FFFF01020304"
    assert r.cut == "2001:db8:1:2:3:4::"
    assert int(r.lo, 16) == int(net.network_address)
    assert int(r.hi, 16) == int(net.broadcast_address)
    assert r.in4 is True and r.out4 is False
    assert r.in6 is True and r.out6 is False


def test_batch27_ipv6_random_roundtrip(spark):
    """Randomized differential: 120 random IPv6 values (full-random,
    zero-run-heavy, and mapped shapes) go text -> parse -> print ->
    parse; every stage must agree with Python's ipaddress on the VALUE
    (string forms may differ only in the documented ::ffff dotted
    rendering)."""
    import ipaddress
    import random

    rng = random.Random(11)
    vals = []
    for _ in range(40):
        vals.append(rng.getrandbits(128))
    for _ in range(40):
        # sparse: few nonzero groups -> long zero runs exercise the
        # RFC 5952 compressor
        v = 0
        for g in rng.sample(range(8), rng.randint(1, 3)):
            v |= rng.getrandbits(16) << (16 * g)
        vals.append(v)
    for _ in range(40):
        vals.append((0xFFFF << 32) | rng.getrandbits(32))  # mapped
    rows = [(i, str(ipaddress.IPv6Address(v)), v) for i, v in enumerate(vals)]
    spark.createDataFrame(
        [(i, s) for i, s, _ in rows], ["i", "addr"]
    ).createOrReplaceTempView("b27_rand")
    got = {
        r.i: (r.h, r.h2)
        for r in spark.sql(tr(
            "SELECT i, hex(IPv6StringToNum(addr)) AS h, "
            "hex(IPv6StringToNum(IPv6NumToString(IPv6StringToNum(addr)))) "
            "AS h2 FROM b27_rand"
        )).collect()
    }
    for i, _, v in rows:
        want = "%032X" % v
        assert got[i][0] == want, (i, rows[i], got[i])
        assert got[i][1] == want, (i, rows[i], got[i])


def test_batch26_review_fixes(spark):
    """r7 self-review regressions: formatRow keeps NULL fields (CH
    renders {"x":null}), bitSlice is UTF-8-BYTE accurate for non-ASCII,
    reinterpretAsString has no spurious NUL at double-rounding byte
    boundaries, randPoisson past the exp-underflow bound passes through,
    and the mapped-IPv6 printer keeps CH's dotted form."""
    r = spark.sql(tr(
        "SELECT formatRowNoNewline('JSONEachRow', CAST(NULL AS BIGINT)) "
        "  AS fn, "
        "bitSlice('€x', 25, 8) AS bs, "
        "length(reinterpretAsString(72057594037927935)) AS rl, "
        "reinterpretAsString(72057594037927935) AS rv"
    )).first()
    assert r.fn == '{"expr_1":null}'
    assert r.bs == "x"  # euro sign is 3 UTF-8 bytes; byte 4 is 'x'
    # 2^56 - 1: double rounding hits 2^56 exactly; the integer-threshold
    # byte count must still say 7 bytes, all 0xFF
    assert r.rl == 7 and r.rv == "\xff" * 7
    # randPoisson(900) would underflow exp(-lam): stays untranslated and
    # errors by name instead of returning a deterministic constant
    from clickhouse_flatfile_tool_spark.dialect import translate_clickhouse_sql
    assert "randPoisson" in translate_clickhouse_sql("SELECT randPoisson(900.0)")


def test_batch26_base58(spark):
    """base58Encode/Decode: Bitcoin-alphabet radix conversion as nested
    aggregate folds — differential vs a Python big-int reference over
    random byte strings, leading-zero '1' rule, round-trips, NULL on
    invalid alphabet chars, BINARY decode lane."""
    import random

    alpha = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"

    def pyenc(b: bytes) -> str:
        n = int.from_bytes(b, "big")
        out = ""
        while n:
            n, r = divmod(n, 58)
            out = alpha[r] + out
        return "1" * (len(b) - len(b.lstrip(b"\0"))) + out

    rng = random.Random(3)
    cases = [
        b"Hello World!", b"", b"\x00\x00abc", b"a", b"\x00",
        bytes(range(1, 20)), bytes([255] * 8),
    ] + [
        bytes(rng.randrange(256) for _ in range(rng.randrange(0, 24)))
        for _ in range(12)
    ]
    sel = ", ".join(
        f"base58Encode(unhex('{c.hex()}')) AS e{i}, "
        f"hex(base58Decode(base58Encode(unhex('{c.hex()}')))) AS rt{i}"
        for i, c in enumerate(cases)
    )
    r = spark.sql(tr("SELECT " + sel)).first()
    for i, c in enumerate(cases):
        assert r[f"e{i}"] == pyenc(c), (c, r[f"e{i}"])
        assert (r[f"rt{i}"] or "").lower() == c.hex(), c
    r = spark.sql(tr(
        "SELECT base58Decode('0OIl') AS bad, base58Encode('abc') AS s"
    )).first()
    assert r.bad is None and r.s == pyenc(b"abc")


def test_rewrite_expansion_guard_known_offenders_nested(spark):
    """The translate-time expansion guard (VERDICT r8 #6): the known-worst
    splice-heavy rewrites (base58, reinterpret, geohashesInBox) nested 3
    deep must translate WITHOUT tripping the size guard — their arguments
    are let-bound, so nesting grows the SQL additively, not
    multiplicatively (the 587 KB reinterpret blow-up class the r8
    deep-fuzz caught post hoc is now impossible to ship).  Each tower is
    also pushed through Spark's ANALYZER: semantic type errors the fuzz
    shape itself causes are tolerated, but an iteration/stack blow-up
    (what oversized splices actually produce) fails the test."""
    from clickhouse_flatfile_tool_spark.dialect import (
        _MAX_REWRITE_CHARS,
        translate_clickhouse_sql as tr,
    )

    nested = [
        # reinterpret self-composition — the exact r8 fuzz offender
        "reinterpretAsUInt64(reinterpretAsString(reinterpretAsUInt64("
        "reinterpretAsString(reinterpretAsUInt64('abcdefgh')))))",
        # base58 round-trip towers
        "base58Encode(base58Decode(base58Encode(base58Decode("
        "base58Encode('hello world')))))",
        # mixed tower: every layer splices the one below
        "reinterpretAsString(reinterpretAsUInt64(base58Encode("
        "reinterpretAsString(reinterpretAsUInt64('deadbeef')))))",
        # geohashesInBox constant-folds; nest it under splicers
        "base58Encode(arrayStringConcat(geohashesInBox("
        "-1.0, -1.0, 1.0, 1.0, 3), ''))",
        # the r9 fuzz find — ~20 argument references across four units,
        # 134 KB at depth 3 before its argument was let-bound
        "formatReadableTimeDelta(formatReadableTimeDelta("
        "formatReadableTimeDelta(7573)))",
    ]
    for expr in nested:
        out = tr(f"SELECT {expr} AS v")
        assert len(out) < _MAX_REWRITE_CHARS, (expr, len(out))
        # additive, not multiplicative: 3-deep nesting of let-bound
        # rewrites stays within a few KB
        assert len(out) < 32_768, (expr, len(out))
        try:
            spark.sql(out).schema
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            assert "MAX_ITERATIONS" not in msg, (expr, msg[:200])
            assert "StackOverflow" not in msg, (expr, msg[:200])


def test_rewrite_expansion_guard_raises_on_multiplicative_splice():
    """A rewriter that splices its argument multiplicatively (the bug
    class the guard exists for) must raise a clear translate-time error
    once nesting pushes the statement past the bound — never silently
    emit megabytes of SQL for the analyzer to choke on."""
    import pytest

    from clickhouse_flatfile_tool_spark.dialect import _rewrite_call

    def bad_make(args):
        # each level splices the argument 8x — textbook multiplicative
        return "concat(" + ", ".join([f"({args[0]})"] * 8) + ")"

    sql = "badFn('x')"
    for _ in range(7):
        sql = f"badFn({sql})"
    with pytest.raises(ValueError, match="badFn"):
        _rewrite_call(f"SELECT {sql}", "badFn", bad_make)


def test_rewrite_expansion_guard_scales_with_entry_size():
    """ADVICE r9: the guard budget scales with the statement's size at
    translate ENTRY — a legitimately large input (a machine-generated
    >256 KB IN-list) must pass through a benign multi-splice rewrite
    (intDiv references its argument 3x) without tripping the absolute
    floor and blaming that rewrite's name, while tiny multiplicative
    inputs keep tripping the floor exactly as before (previous test)."""
    from clickhouse_flatfile_tool_spark.dialect import (
        _MAX_REWRITE_CHARS,
        translate_clickhouse_sql as tr,
    )

    inlist = ",".join(str(i) for i in range(52_000))  # ~300 KB of SQL
    sql = f"SELECT intDiv(x, 7) AS q FROM t WHERE x IN ({inlist})"
    assert len(sql) > _MAX_REWRITE_CHARS  # bigger than the old hard cap
    out = tr(sql)  # must NOT raise ValueError
    assert " DIV " in out and inlist in out


def test_every_rewritten_name_has_one_table_row():
    """One row per ClickHouse name across the call tables, _WRAPS and
    _RENAMES: a second row for a name is either dead (an earlier row
    rewrites every valid call) or fires only at arities ClickHouse
    rejects.  position/positionUTF8 have one row each — the 3-arg locate
    form and the instr rename of every other arity."""
    from collections import Counter

    from clickhouse_flatfile_tool_spark import dialect

    names = [n for table in dialect._CALL_TABLES for n, _, _ in table]
    names += [src for src, _ in dialect._RENAMES]
    dup = sorted(n for n, c in Counter(names).items() if c > 1)
    assert dup == []
    assert tr("SELECT position(h, 'a'), positionUTF8(h, 'a', 2)") == (
        "SELECT instr(h, 'a'), locate('a', h, 2)"
    )


def test_to_interval_week_valid_arity():
    assert tr("SELECT ts + toIntervalWeek(2) AS w FROM t") == (
        "SELECT ts + make_interval(0, 0, (2), 0, 0, 0, 0) AS w FROM t"
    )


def test_fuzz_names_cover_wraps_and_curried_rewrites():
    """scripts/fuzz_dialect.py reads its names from the tables, so the
    _WRAPS rows and the curried rows get self-composition seeds too."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).parents[1] / "scripts" / "fuzz_dialect.py"
    spec = importlib.util.spec_from_file_location("fuzz_dialect", path)
    fuzz = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fuzz)
    names = set(fuzz.rewrite_names())
    assert {"toStartOfDay", "uniqUpTo", "quantileMerge"} <= names


def test_same_name_nested_in_subquery_translates():
    """-If and curried rows run through the one engine innermost-first: a
    same-name call inside the outer call's arguments (a scalar subquery)
    is translated too, not copied through untranslated."""
    out = tr("SELECT sumIf(x, y > (SELECT sumIf(z, w > 0) FROM u)) FROM t")
    assert out == (
        "SELECT sum(CASE WHEN y > (SELECT sum(CASE WHEN w > 0 THEN z END) "
        "FROM u) THEN x END) FROM t"
    )
    out = tr(
        "SELECT quantile(0.5)(x - (SELECT quantile(0.5)(y) FROM u)) FROM t"
    )
    assert out == (
        "SELECT percentile(x - (SELECT percentile(y, 0.5) FROM u), 0.5) FROM t"
    )
