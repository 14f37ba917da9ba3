"""Plan-shape assertions: the 100 TB design rules as executable checks
(SURVEY §4.2).  If a future change drops a broadcast hint or breaks predicate
pushdown, these fail."""

from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators import relational as R
from clickhouse_flatfile_tool_spark.plans import explain_str
from clickhouse_flatfile_tool_spark.plans.explain import pushed_filters


def test_dim_join_broadcasts(tables):
    joined = R.chain_join(
        [tables["lineitem"], R.broadcast_dim(tables["part"])],
        ["l_partkey = p_partkey"],
    )
    plan = explain_str(joined)
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(tables):
    df = tables["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"expected pushed filter, got: {pf!r}"


def test_column_pruning_in_read_schema(tables):
    df = tables["lineitem"].select("l_orderkey", "l_quantity")
    plan = explain_str(df)
    # ReadSchema should carry only the projected columns, not all 11
    read_schema_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema_lines and "l_extendedprice" not in read_schema_lines[0]


def test_topk_plans_take_ordered(tables):
    df = R.top_k(tables["orders"], 5, F.desc("o_totalprice"))
    assert "TakeOrderedAndProject" in explain_str(df)


def test_minhash_no_cartesian(tables):
    from clickhouse_flatfile_tool_spark.operators import dedup as D
    from clickhouse_flatfile_tool_spark.plans import assert_no_cartesian

    cands = D.minhash_lsh_candidates(tables["documents"].limit(50))
    assert_no_cartesian(cands)


def test_asof_join_single_shuffle_on_key(spark):
    """As-of join must plan exactly one exchange keyed by the join key (for
    the window) — no nested-loop, no per-row subquery."""
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 5, 1.0)], "k int, t int, v double")
    df = R.asof_join(left, right, "k", "t", "t", ["v"])
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # one hash-partitioning exchange on k (the window); union feeds it
    assert plan.count("hashpartitioning(k") == 1, plan


def test_salted_join_no_cartesian_and_equi(tables):
    from clickhouse_flatfile_tool_spark.plans import assert_no_cartesian

    li = tables["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey")
    df = R.salted_join(li, tables["orders"], "o_orderkey", salt=4)
    assert_no_cartesian(df)


def test_range_join_broadcasts_band_side(spark, tables):
    bands = spark.createDataFrame(
        [(0.0, 960.0, "lo"), (960.0, 1e9, "hi")], "lo double, hi double, band string"
    )
    df = R.range_join(tables["part"], bands, ["p_retailprice >= lo", "p_retailprice < hi"])
    plan = explain_str(df)
    # inequality-only join over a broadcast side → BroadcastNestedLoopJoin is
    # the intended shape (never a shuffled cartesian)
    assert "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan


def test_groupby_partial_aggregation(tables):
    df = tables["lineitem"].groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = explain_str(df)
    # map-side combine: partial_sum before the exchange, final after
    assert "partial_sum" in plan, plan


def test_bucketed_range_join_is_equi(spark):
    pts = spark.createDataFrame([(1, 5.0)], "id int, x double")
    iv = spark.createDataFrame([(0.0, 7.0, "a")], "lo double, hi double, tag string")
    df = R.bucketed_range_join(pts, iv, "x", "lo", "hi", 8.0)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tpch_q5_all_dims_broadcast(spark, sf_dir):
    """Star-join rule: customer/supplier/nation/region never shuffle the
    fact side — every dim join is broadcast-hash."""
    import __spark_entry__ as em

    df = em.queries()["tpch_q5"](spark, sf_dir)
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_event_range_join_no_nested_loop(spark, sf_dir):
    import __spark_entry__ as em

    df = em.queries()["event_range_join"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_z_value_matches_python_morton(spark):
    from clickhouse_flatfile_tool_spark.partitioning import z_value

    def morton(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(a, b) for a in [0, 1, 2, 3, 255, 65535] for b in [0, 1, 7, 1024]]
    df = spark.createDataFrame(rows, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", z_value("a", "b").alias("z")).collect()
    }
    for (a, b), z in got.items():
        assert z == morton(a, b), (a, b, z)


def test_z_order_write_roundtrip_and_locality(spark, tmp_path):
    from clickhouse_flatfile_tool_spark.partitioning import z_order_write, z_value

    df = spark.range(4096).selectExpr("id % 64 AS x", "CAST(id / 64 AS LONG) AS y")
    path = str(tmp_path / "zorder")
    z_order_write(df, path, "x", "y", num_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 4096
    assert sorted(r["x"] for r in back.collect()) == sorted(
        r["x"] for r in df.collect()
    )
    # locality: each output file's z-range must be disjoint (range partition)
    import pyspark.sql.functions as F

    withf = back.withColumn("f", F.input_file_name()).withColumn(
        "z", z_value("x", "y")
    )
    ranges = (
        withf.groupBy("f").agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()
    )
    spans = sorted((r["lo"], r["hi"]) for r in ranges)
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 <= l2, "file z-ranges overlap: range partitioning broken"


def test_decontaminate_broadcasts_benchmark_side(tables):
    from clickhouse_flatfile_tool_spark.operators import dedup as D

    docs = tables["documents"]
    pairs = D.decontaminate(
        docs.filter("doc_id % 20 != 0"), docs.filter("doc_id % 20 = 0")
    )
    plan = explain_str(pairs)
    # the 100 TB train side must be a map-only broadcast probe, never a
    # shuffle join against the benchmark shingle set
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q19_pushes_quantity_envelope(spark, sf_dir):
    import __spark_entry__ as entrymod

    df = entrymod.q_tpch_q19(spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_quantity" in pf, f"quantity envelope not pushed: {pf!r}"
    assert "BroadcastHashJoin" in explain_str(df)


def test_boilerplate_uses_partial_aggregation(tables):
    from clickhouse_flatfile_tool_spark.operators import dedup as D

    plan = explain_str(D.boilerplate_ngrams(tables["documents"], min_docs=5))
    # doc-frequency must partial-aggregate map-side (the skew-proof shape)
    assert "partial_count" in plan or "partial_sum" in plan


def test_dict_get_broadcasts_dimension(tables):
    from clickhouse_flatfile_tool_spark.operators import relational as R

    out = R.dict_get(
        tables["orders"],
        tables["customer"],
        "o_custkey",
        "c_custkey",
        {"cust_name": ("c_name", "UNKNOWN")},
    )
    plan = explain_str(out)
    # dictGet semantics = executor-local hash probe: the dimension must
    # broadcast; a shuffle on the fact side defeats the operator
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bloom_probe_broadcasts_bitset(tables):
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators import dedup as D

    docs = tables["documents"]
    sh = D.shingle_postings(docs, "doc_id", "text", 3).select("__s").distinct()
    bits = D.bloom_bitset(sh)
    probe = D.bloom_might_contain(sh, bits)
    plan = explain_str(probe)
    assert "BroadcastHashJoin" in plan


def test_dialect_asof_no_nested_loop(spark, sf_dir):
    """The SQL ASOF rewrite must plan as union + window (one shuffle on
    the key), never BroadcastNestedLoop/Cartesian — the LATERAL form
    measured 263 s at sf0.1."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["dialect_asof"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_tpch_q8_dims_broadcast_no_cartesian(spark, sf_dir):
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q8"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_paragraph_dedup_two_shuffles(spark, sf_dir):
    """Fingerprint window + per-doc regroup: exactly the two keyed
    exchanges, no broadcast of the corpus, no nested loop."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["paragraph_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # formatted mode lists nodes bare; two keyed exchanges = the window
    # repartition + the per-doc regroup
    assert plan.count("Exchange") >= 2 and "Window" in plan


def test_hard_negatives_broadcasts_queries(spark, sf_dir):
    """The query side broadcasts; the corpus scan is never shuffled."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["hard_negatives"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q7_all_dims_broadcast(spark, sf_dir):
    """Q7: customer/supplier/nation×2 all broadcast — the only exchanges
    left are the aggregation/sort ones, never a join shuffle over the
    dims, never a cartesian."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q7"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


def test_tpch_q4_semi_join_not_nested_loop(spark, sf_dir):
    """Q4's EXISTS must become a LEFT SEMI hash/merge join keyed on the
    equi predicate (the date inequality rides along as the join
    condition) — a BroadcastNestedLoopJoin would mean the equi key was
    lost and every order scans every lineitem."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q15_no_global_window(spark, sf_dir):
    """Q15's scalar max must arrive via a 1-row broadcast join, not a
    whole-frame Window (which would serialize the revenue view onto one
    partition)."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q15"](spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_tpch_q17_avg_broadcast(spark, sf_dir):
    """Q17's per-part AVG joins back by broadcast — the fact table is
    never shuffled for the correlation."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q17"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

def test_tpch_q2_min_cost_broadcast(spark, sf_dir):
    """Q2's correlated MIN decorrelates into a per-part grouped min that
    joins back by BROADCAST; part/supplier/nation/region dims broadcast
    too, so the only keyed exchange is the (part, supplier) cell agg."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q2"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q9_single_fact_shuffle(spark, sf_dir):
    """Q9: part/supplier/nation broadcast; lineitem⋈orders is the only
    join that may shuffle."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q9"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q16_anti_join_broadcast(spark, sf_dir):
    """Q16's NOT IN must become a broadcast LEFT ANTI hash join, never a
    nested loop over the pair set."""
    import __spark_entry__ as E

    plan = explain_str(E.queries()["tpch_q16"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_one_lineitem_scan(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS decorrelation must scan lineitem ONCE (the
    classic form scans it three times) and keep supplier/nation
    broadcast."""
    import __spark_entry__ as E

    df = E.queries()["tpch_q21"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("lineitem.parquet") <= 1 or plan.count("lineitem") <= 2, plan


def test_plan_dump_masks_session_counters(spark):
    """Two builds of one plan differ only in session counters: expression
    ids, and the lambda-variable suffix every higher-order function call
    draws afresh.  ``plan_dump.mask_ids`` masks both, so the two dumps
    compare equal."""
    from scripts.plan_dump import mask_ids

    df = spark.createDataFrame([(1, [1.0, 2.0])], "id long, v array<double>")

    def build():
        return df.select(F.aggregate("v", F.lit(0.0), lambda a, x: a + x).alias("s"))

    a, b = explain_str(build()), explain_str(build())
    assert "lambda x_" in a and a != b
    assert mask_ids(a) == mask_ids(b)
