"""Similarity search over embedding columns (EXT E3, SURVEY §2.10).

Fixture: ``embeddings(vec_id, embedding array<float> dim=64, label)``.

Two tiers, as a real 100 TB pipeline would ship them:
  * brute-force exact cosine top-k — the correctness baseline.  The query
    set is broadcast (it is small by construction); candidates never
    shuffle; per-candidate math is built-in array ops (``zip_with`` +
    ``aggregate``) inside codegen; top-k per query is a window over the
    (small) query key space.
  * LSH-bucketed ANN (random hyperplane signatures) — the scale path: each
    vector maps to a signature; query and candidate meet only when bucket
    signatures collide (equi-join), turning O(Q·N) into O(collisions).
    Recall is tunable via tables × bits.

Each shared decision is written once: ``_top_cosines`` is the exact
re-rank (cos DESC, id ASC, round 6) every cosine search and rerank ends
with; ``_adc_luts``/``_adc_topk`` are the PQ and IVF-PQ lookup tables and
shortlist merge; ``_pairs_within`` is the within-set GEMM pair kernel of
the block-pair and SemDeDup paths; ``_train_sample`` is the hash-ordered
sample every quantizer trains on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators.relational import top_k_per_group
from clickhouse_flatfile_tool_spark.partitioning import ensure_parallelism


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array columns — built-in zip_with+aggregate, computed
    in double precision (cast before multiply: float accumulate would drift
    vs the DuckDB oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def with_norm(df: DataFrame, vec_col: str = "embedding", alias: str = "norm") -> DataFrame:
    return df.withColumn(alias, _norm(F.col(vec_col)))


def normalize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """L2-normalize in place — pre-normalizing once turns every downstream
    cosine into a plain dot product (the standard trick when one corpus
    serves many queries)."""
    n = _norm(F.col(vec_col))
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda v: v.cast("double") / n)
    )


def _scored(pairs: DataFrame, *extra: str) -> DataFrame:
    """Candidate pairs ``(query_id, neighbor_id, *extra, __qv, __cv)`` →
    ``(query_id, neighbor_id, *extra, __cos)``, the exact cosine."""
    return pairs.select(
        "query_id", "neighbor_id", *extra, cosine(F.col("__qv"), F.col("__cv")).alias("__cos")
    )


def _top_cosines(scored: DataFrame, k: int, *extra: str) -> DataFrame:
    """The exact re-rank every cosine search ends with: top-``k`` per
    ``query_id`` by (``__cos`` DESC, ``neighbor_id`` ASC) — the oracles'
    tie rule — then ``cos_sim`` rounded to 6."""
    ranked = top_k_per_group(
        scored, ["query_id"], [F.desc("__cos"), F.asc("neighbor_id")], k
    )
    return ranked.select(
        "query_id", "neighbor_id", *extra, F.round("__cos", 6).alias("cos_sim")
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors.  Returns (query_id, neighbor_id, cos_sim, rank).

    Plan shape: broadcast(queries) ⋈ corpus (no shuffle of the corpus), then
    window top-k partitioned by query id.  At 1000 executors this scans the
    corpus exactly once regardless of |Q|.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv")
        )
    )
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    pairs = q.crossJoin(c)
    if not include_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    return _top_cosines(_scored(pairs), k)


def _directional_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    max_queries: int = 200_000,
) -> DataFrame:
    """Broadcast top-k over PRE-NORMALIZED inputs, Arrow-batch BLAS path:
    the query matrix ships once (bounded — raises beyond ``max_queries``;
    use the ANN passes for unbounded sides), each corpus partition is one
    numpy GEMM, and only Q×k rows per partition survive into the final
    exact window.  Tie-breaking matches the oracle bit-for-bit: each
    block sorts by neighbor id first, so the STABLE argsort keeps
    min-id-first among equal cosines, and the global window re-sorts by
    (cos DESC, id ASC).  ~10× the codegen fold on the fixture (GEMM vs
    per-pair lambda folds).  Returns raw ``__cos`` and ``__rk``; ids are
    LONG by contract (the _PAIR_SCHEMA convention)."""
    spark = queries.sparkSession
    q_rows = (
        queries.select(F.col(id_col).cast("long"), vec_col)
        .limit(max_queries + 1)
        .collect()
    )
    if len(q_rows) > max_queries:
        raise ValueError(
            f"_directional_topk: query side exceeds {max_queries} rows — "
            "use ann_cosine_topk/ivf_search for unbounded sides"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([r[1] for r in q_rows], dtype=np.float64)
    bq = spark.sparkContext.broadcast((qids, qm))

    def scan(batches):
        qids_, qm_ = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("__nid")
            cm = np.array(list(pdf["__v"]), dtype=np.float64)
            nids = pdf["__nid"].to_numpy(dtype=np.int64)
            sims = qm_ @ cm.T
            kk = min(k, sims.shape[1])
            order = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids_, kk),
                    "neighbor_id": nids[order].ravel(),
                    "__cos": np.take_along_axis(sims, order, axis=1).ravel(),
                }
            )

    # a single-file parquet corpus arrives as ONE scan split, which would
    # serialize the whole GEMM on one core (the r8 winnow lesson);
    # ensure_parallelism never repartitions DOWN, so an at-scale corpus
    # with thousands of splits is untouched and no shuffle is added
    reduced = ensure_parallelism(
        corpus.select(
            F.col(id_col).cast("long").alias("__nid"),
            F.col(vec_col).alias("__v"),
        )
    ).mapInPandas(scan, "query_id long, neighbor_id long, __cos double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("neighbor_id")
    )
    return reduced.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= k
    )


def mutual_nn_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual nearest-neighbor pair mining over two embedding sets — the
    bitext-mining shape (Artetxe & Schwenk 2019, "Margin-based Parallel
    Corpus Mining with Multilingual Sentence Embeddings" — public paper;
    this is the mutual-top-1 criterion without the margin ratio): a pair
    (a, b) survives iff b is a's nearest right-side vector AND a is b's
    nearest left-side vector.  Mutuality kills the hub problem (a vector
    that is everyone's neighbor forms at most one pair).

    Plan shape: both sides L2-normalized ONCE, then two broadcast
    dot-product top-1 passes (each side scanned exactly once) and an
    equi-join of the two top-1 sets on the (left, right) pair.  At
    corpus scale swap the exact passes for :func:`ann_cosine_topk` /
    :func:`ivf_search` — the mutual join is unchanged.

    Returns (left_id, right_id, cos_sim) with cos_sim from the
    left→right direction (identical to right→left up to rounding).
    """
    ln = normalize(left.select(id_col, vec_col), vec_col)
    rn = normalize(right.select(id_col, vec_col), vec_col)
    l2r = _directional_topk(ln, rn, 1, id_col, vec_col).select(
        F.col("query_id").alias("left_id"),
        F.col("neighbor_id").alias("right_id"),
        F.round("__cos", 6).alias("cos_sim"),
    )
    r2l = _directional_topk(rn, ln, 1, id_col, vec_col).select(
        F.col("neighbor_id").alias("left_id"),
        F.col("query_id").alias("right_id"),
    )
    return l2r.join(r2l, ["left_id", "right_id"])


def margin_mined_pairs(
    left: DataFrame,
    right: DataFrame,
    margin_k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ratio-margin parallel-pair mining — the full Artetxe & Schwenk
    2019 criterion on top of the mutual-top-1 rule: score each mutual
    pair by cos(a, b) divided by the mean of the two sides' average
    top-``margin_k`` cosines.  A pair in a dense hub region (high
    neighborhood averages) needs a much higher raw cosine to reach the
    same margin, which is what makes the ratio robust where raw cosine
    thresholds aren't.

    ONE top-``margin_k`` pass per direction serves double duty: its
    rank-1 rows are the mutual candidates and the per-id mean of its
    ROUNDED cosines is the neighborhood average — two corpus scans
    total, same as plain :func:`mutual_nn_pairs`.  Margin > 1 means the
    pair stands out from its neighborhoods; the caller thresholds (the
    paper uses ~1.06).
    """
    ln = normalize(left.select(id_col, vec_col), vec_col)
    rn = normalize(right.select(id_col, vec_col), vec_col)
    l4 = _directional_topk(ln, rn, margin_k, id_col, vec_col)
    r4 = _directional_topk(rn, ln, margin_k, id_col, vec_col)
    # rank-1 neighbor AND the neighborhood average from ONE aggregation
    # per direction: the old form referenced each top-k frame twice (the
    # rank-1 filter + the avg groupBy), which planned the GEMM subtree
    # twice per direction — 4 MapInPandas scans in the plan, with only
    # AQE exchange reuse standing between them and 4 executions
    # (plans/r12/margin_pairs_before.txt).  rk==1 is unique per query, so
    # max(when(rk==1, struct)) recovers exactly the old rank-1 row, and
    # the groupBy key equals the window's partition key — no new shuffle.
    l_agg = (
        l4.groupBy("query_id")
        .agg(
            F.max(
                F.when(F.col("__rk") == 1, F.struct("neighbor_id", "__cos"))
            ).alias("__top"),
            F.avg(F.round("__cos", 6)).alias("__l_avg"),
        )
        .select(
            F.col("query_id").alias("left_id"),
            F.col("__top.neighbor_id").alias("right_id"),
            F.round("__top.__cos", 6).alias("cos_sim"),
            "__l_avg",
        )
    )
    r_agg = (
        r4.groupBy("query_id")
        .agg(
            F.max(
                F.when(F.col("__rk") == 1, F.struct("neighbor_id"))
            ).alias("__top"),
            F.avg(F.round("__cos", 6)).alias("__r_avg"),
        )
        .select(
            F.col("__top.neighbor_id").alias("left_id"),
            F.col("query_id").alias("right_id"),
            "__r_avg",
        )
    )
    return l_agg.join(r_agg, ["left_id", "right_id"]).select(
        "left_id",
        "right_id",
        "cos_sim",
        F.round(
            F.col("cos_sim") / ((F.col("__l_avg") + F.col("__r_avg")) / 2),
            6,
        ).alias("margin"),
    )


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets
# ---------------------------------------------------------------------------

def _hyperplanes(dim: int, bits: int, table: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no numpy on executors —
    generated once on the driver, embedded as literals in the plan)."""
    import random

    rng = random.Random(seed * 1_000_003 + table)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def _signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of ``vec`` against each hyperplane, packed to a
    long — built from array literals + zip_with, stays in codegen."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(w) for w in plane])
        d = F.aggregate(
            F.zip_with(vec, p, lambda x, w: x.cast("double") * w),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return sig


def ann_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    Each of ``tables`` hash tables assigns every vector a ``bits``-bit
    signature; query meets candidate only on (table, signature) equality —
    an equi-join, shuffle keyed by bucket.  Exact cosine re-ranks within the
    candidate set.  Recall rises with ``tables``; cost with bucket size
    (·2^-bits).
    """
    def bucketed(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        rows = []
        for t in range(tables):
            planes = _hyperplanes(dim, bits, t, seed)
            rows.append(
                F.struct(F.lit(t).alias("tbl"), _signature(F.col(vec_col), planes).alias("sig"))
            )
        return df.select(
            F.col("__id").alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            F.explode(F.array(*rows)).alias("b"),
        ).select(id_alias, vec_alias, "b.tbl", "b.sig")

    q = bucketed(queries.withColumn("__id", F.col(query_id)), "query_id", "__qv")
    c = bucketed(corpus.withColumn("__id", F.col(corpus_id)), "neighbor_id", "__cv")
    cands = (
        q.join(c, on=["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__cv")
        .distinct()
    )
    return _top_cosines(_scored(cands), k)


_PAIR_SCHEMA = "id_a long, id_b long, cos_sim double"


def cosine_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.9,
    n_blocks: int | None = None,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b,
    cos ≥ threshold) — the correctness baseline for semantic dedup.

    Plan shape (distributed block-pair join — NO driver collect, NO
    full-corpus broadcast): rows hash into ``B`` blocks; every unordered
    block pair (i ≤ j) becomes one ``applyInPandas`` group whose A-side and
    B-side sub-matrices are BLAS-multiplied (numpy, Arrow batches) and only
    above-threshold pairs are emitted.  Each row is shuffled ~B+1 times, so
    shuffle volume is B+1 × input while compare work — inherently O(N²) for
    an EXACT all-pairs — is spread over B(B+1)/2 independent tasks that
    each fit in executor memory.  Beyond what exact can afford,
    :func:`embedding_dedup_candidates` is the LSH-bucketed scale path with
    identical output semantics minus recall.
    """
    if n_blocks is None:
        # one cheap count (parquet metadata / light scan) sizes the grid so a
        # block-pair task multiplies ~rows_per_block² doubles — bounded memory
        n = df.count()
        n_blocks = max(1, -(-n // rows_per_block))
    B = int(n_blocks)

    base = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("blk"),
    )
    # a row in block k participates in pair (i=k, j≥k) as the A side and in
    # pair (i≤k, j=k) as the B side
    a_side = base.select(
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(B - 1))).alias("bj"),
        F.lit("a").alias("role"),
        "id",
        "v",
    )
    b_side = base.select(
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit("b").alias("role"),
        "id",
        "v",
    )
    rep = a_side.unionByName(b_side)

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        a = pdf[pdf["role"] == "a"]
        if bi == bj:
            return _pairs_within(a["id"], a["v"], cos_threshold)
        b = pdf[pdf["role"] == "b"]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ia = a["id"].to_numpy(dtype=np.int64)
        ib = b["id"].to_numpy(dtype=np.int64)
        ma = np.array(list(a["v"]), dtype=np.float64)
        mb = np.array(list(b["v"]), dtype=np.float64)
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        ai, bix = np.nonzero(sims >= cos_threshold)
        # blocks are disjoint, so ordering within a pair is arbitrary —
        # canonicalize to id_a < id_b
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia[ai], ib[bix]),
                "id_b": np.maximum(ia[ai], ib[bix]),
                "cos_sim": np.round(sims[ai, bix], 6),
            }
        )

    return rep.groupBy("bi", "bj").applyInPandas(score, _PAIR_SCHEMA)


def _pairs_within(ids: pd.Series, vecs: pd.Series, threshold: float) -> pd.DataFrame:
    """Every pair of one set with ``id_a < id_b`` and cosine ≥
    ``threshold``: one normalized self-GEMM; ``cos_sim`` rounded to 6."""
    if len(ids) < 2:
        return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
    ids = ids.to_numpy(dtype=np.int64)
    m = np.array(list(vecs), dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    ai, bi = np.nonzero((sims >= threshold) & (ids[:, None] < ids[None, :]))
    return pd.DataFrame(
        {"id_a": ids[ai], "id_b": ids[bi], "cos_sim": np.round(sims[ai, bi], 6)}
    )


# ---------------------------------------------------------------------------
# ANN: IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------

def _kmeans_centroids(mat, n_lists: int, seed: int, iters: int = 10):
    """Spherical k-means on the (driver-side) sample: seeded init, fixed
    iterations, centroids L2-normalized each round.  numpy-only — no
    pyspark.ml dependency for a ~n_lists×dim model."""
    import numpy as np

    rng = np.random.default_rng(seed)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cent = mat[rng.choice(len(mat), size=min(n_lists, len(mat)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
        cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    return cent


def _train_sample(corpus: DataFrame, vec_col: str, n: int) -> np.ndarray:
    """Up to ``n`` vectors ordered by xxhash64 of the vector, collected as
    a float64 matrix — the training sample of every quantizer here.
    Deterministic like a prefix, but uniform over the whole corpus: a plain
    ``limit()`` on an ingestion-ordered table would train on the first
    partitions only and can yield degenerate centroids.
    TakeOrderedAndProject keeps it a distributed top-n, not a full sort."""
    rows = corpus.select(vec_col).orderBy(F.xxhash64(F.col(vec_col))).limit(n).collect()
    return np.array([r[0] for r in rows], dtype=np.float64)


def ivf_cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 10_000,
    seed: int = 42,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer (the FAISS-style
    alternative to random-hyperplane LSH).

    Train: spherical k-means over a bounded corpus sample (driver-side numpy;
    the model is n_lists×dim — tiny — and broadcast).  Index: every corpus
    vector goes to its nearest centroid's list (pandas UDF, one pass).
    Search: each query probes its ``n_probe`` nearest lists; candidates meet
    through an equi-join on list id (shuffle keyed by list — never a cross
    join) and exact cosine re-ranks them.  Recall rises with n_probe;
    per-query cost is ~n_probe/n_lists of the corpus.
    """
    from pyspark.sql import types as T

    cent = _kmeans_centroids(_train_sample(corpus, vec_col, sample_size), n_lists, seed)
    bc = corpus.sparkSession.sparkContext.broadcast(cent)

    @F.pandas_udf(T.IntegerType())
    def nearest_list(v: pd.Series) -> pd.Series:
        c = bc.value
        m = np.array(list(v), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ c.T, axis=1).astype("int32"))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_lists(v: pd.Series) -> pd.Series:
        c = bc.value
        m = np.array(list(v), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ c.T), axis=1)[:, :n_probe].astype("int32")
        return pd.Series(list(order))

    c_idx = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        nearest_list(F.col(vec_col)).alias("__list"),
    )
    q_idx = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probe_lists(F.col(vec_col))).alias("__list"),
    )
    cands = q_idx.join(c_idx, on="__list").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # dedup after scoring: ahead of the cosine it would carry both vectors
    return _top_cosines(_scored(cands).dropDuplicates(["query_id", "neighbor_id"]), k)


def ivf_build_centroids(
    corpus: DataFrame,
    n_lists: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the IVF coarse quantizer and return it AS A DATAFRAME
    (list_id, centroid array<double>) — persist with ``write.parquet`` and
    reuse across queries/days; at 100 TB you train once on a bounded sample,
    not per search.  Driver-side spherical k-means over ≤``sample_size``
    rows (bounded, documented); the model is n_lists×dim — tiny.  The
    sample is hash-ordered (xxhash64 of the vector) so it is deterministic
    yet uniform over the corpus — a raw prefix limit() would see only the
    first partitions of an ingestion-ordered table."""
    cent = _kmeans_centroids(_train_sample(corpus, vec_col, sample_size), n_lists, seed)
    rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]
    return corpus.sparkSession.createDataFrame(
        rows, "list_id int, centroid array<double>"
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid lists with
    PURE DataFrame ops: broadcast(centroids) cross join + cosine + top-k
    window — no Python UDF anywhere, so assignment stays in codegen and
    scales with the corpus scan.  n_probe=1 indexes a corpus; n_probe>1
    fans out queries to the lists they should search."""
    scored = corpus.crossJoin(
        F.broadcast(centroids.select("list_id", F.col("centroid").alias("__c")))
    ).withColumn("__sim", cosine(F.col(vec_col), F.col("__c")))
    ranked = top_k_per_group(
        scored, [id_col], [F.desc("__sim"), F.asc("list_id")], n_probe
    )
    return ranked.select(id_col, vec_col, "list_id")


def ivf_assign_hier(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_groups: int | None = None,
) -> DataFrame:
    """Two-level centroid assignment (the FAISS IMI / coarse-then-fine
    pattern): cluster the k centroids themselves into ~√k groups (driver
    numpy — the model is k×dim, tiny by construction), route each vector
    to its nearest GROUP (n·√k comparisons), then to the nearest fine
    centroid WITHIN that group (n·(k/√k) ≈ n·√k more).

    Why it exists: flat :func:`ivf_assign` does n·k comparisons, and
    SemDeDup-style jobs grow k with the corpus (constant target cluster
    size) — flat assignment is then quadratic in n.  Two-level cuts it to
    n·2√k, the standard sub-quadratic production shape; the price is
    approximation (a vector whose true nearest fine centroid lives in a
    non-nearest group is mis-assigned — boundary cases only, since near
    vectors share groups by construction).  Identical vectors always
    receive identical assignments, so exact-duplicate recall is unaffected.

    Same output contract as :func:`ivf_assign` with n_probe=1.
    """
    import numpy as np

    rows = centroids.select("list_id", "centroid").collect()
    k = len(rows)
    g = coarse_groups or max(1, int(round(k ** 0.5)))
    mat = np.array([r["centroid"] for r in rows], dtype=np.float64)
    ids = [int(r["list_id"]) for r in rows]
    gc = _kmeans_centroids(mat, g, seed=0)
    normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    grp = np.argmax(normed @ gc.T, axis=1)
    spark = corpus.sparkSession
    gcent = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(gc)],
        "group_id int, gcentroid array<double>",
    )
    fine = spark.createDataFrame(
        [
            (int(grp[j]), ids[j], [float(x) for x in mat[j]])
            for j in range(k)
        ],
        "group_id int, list_id int, centroid array<double>",
    )
    coarse_scored = corpus.crossJoin(F.broadcast(gcent)).withColumn(
        "__gsim", cosine(F.col(vec_col), F.col("gcentroid"))
    )
    coarse_top = top_k_per_group(
        coarse_scored, [id_col], [F.desc("__gsim"), F.asc("group_id")], 1
    ).select(id_col, vec_col, "group_id")
    fine_scored = coarse_top.join(F.broadcast(fine), "group_id").withColumn(
        "__sim", cosine(F.col(vec_col), F.col("centroid"))
    )
    ranked = top_k_per_group(
        fine_scored, [id_col], [F.desc("__sim"), F.asc("list_id")], 1
    )
    return ranked.select(id_col, vec_col, "list_id")


def ivf_search(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a prebuilt IVF index: queries probe their n_probe nearest
    lists (broadcast centroid scoring), candidates meet through an equi-join
    on list_id (shuffle keyed by list — per-query cost ~n_probe/n_lists of
    the corpus), exact cosine re-ranks."""
    q = ivf_assign(queries, centroids, query_id, vec_col, n_probe).select(
        F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"), "list_id"
    )
    c = indexed_corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"), "list_id"
    )
    cands = (
        q.join(c, "list_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_cosines(_scored(cands), k)


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "qvec"
) -> DataFrame:
    """Symmetric int8 quantization with a per-vector max-abs scale — the
    standard 4× storage cut for embedding corpora at scale (64 float32 →
    64 int8 + one float scale per vector).  Pure codegen array math; the
    scale rides alongside so dequantization is exact up to the 1/127
    rounding step.  Cosine on dequantized vectors tracks the original to
    ~1e-2, asserted by a recall test."""
    scale = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    q = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") / scale * 127.0).cast("tinyint"),
    )
    return df.withColumn("qscale", scale).withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame, qvec_col: str = "qvec", scale_col: str = "qscale",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x ≈ q/127·scale."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(qvec_col),
            lambda q: q.cast("double") / 127.0 * F.col(scale_col),
        ),
    )


def embedding_dedup_candidates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.95,
    dim: int = 64,
    bits: int = 10,
    tables: int = 6,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ threshold)
    via the same LSH bucketing — the semantic-dedup primitive."""
    with_id = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias(vec_col))
    b = None
    for t in range(tables):
        planes = _hyperplanes(dim, bits, t, seed)
        part = with_id.select(
            "__id", vec_col, F.lit(t).alias("tbl"), _signature(F.col(vec_col), planes).alias("sig")
        )
        b = part if b is None else b.unionByName(part)
    left = b.select(
        F.col("__id").alias("id_a"), F.col(vec_col).alias("__va"), "tbl", "sig"
    )
    right = b.select(
        F.col("__id").alias("id_b"), F.col(vec_col).alias("__vb"), "tbl", "sig"
    )
    cands = (
        left.join(right, on=["tbl", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__va", "__vb")
        .distinct()
    )
    return (
        cands.withColumn("cos_sim", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos_sim") >= cos_threshold)
        .select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.95,
    n_clusters: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    centroids: DataFrame | None = None,
    assign: str = "flat",
) -> DataFrame:
    """SemDeDup-style within-cluster near-duplicate pairs (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public paper): k-means the corpus into ``n_clusters``,
    then compare embeddings ONLY inside their own cluster, reducing the
    exact all-pairs O(N²) to Σ|cluster|² ≈ N²/k while catching near-dups,
    which land in the same cluster by construction.

    Plan shape: bounded-sample k-means on the driver (model is k×dim —
    tiny), broadcast centroid assignment (pure codegen, no UDF), then one
    ``applyInPandas`` BLAS pass per cluster.  A cluster is a single Arrow
    group, so size ``n_clusters`` such that N/k rows × dim doubles fit an
    executor (the paper's own operating assumption; for clusters beyond
    that, :func:`cosine_dedup_pairs` is the block-pair exact fallback).

    Misses only cross-cluster pairs near cluster boundaries — the recall
    trade the paper accepts; pytest plants an exact duplicate and asserts
    it is always caught (identical vectors always share a cluster).

    ``centroids`` (prebuilt, from :func:`ivf_build_centroids`) skips the
    in-query training — the production shape when the job reruns daily.
    ``assign="hier"`` swaps the flat n·k centroid assignment for the
    two-level :func:`ivf_assign_hier` — REQUIRED at corpus scale when
    n_clusters grows with the corpus (constant target cluster size),
    because flat assignment is then quadratic in n.
    """
    if centroids is None:
        centroids = ivf_build_centroids(
            df, n_lists=n_clusters, sample_size=sample_size, seed=seed,
            vec_col=vec_col,
        )
    if assign == "hier":
        assigned = ivf_assign_hier(df, centroids, id_col=id_col, vec_col=vec_col)
    elif assign == "flat":
        assigned = ivf_assign(
            df, centroids, id_col=id_col, vec_col=vec_col, n_probe=1
        )
    else:
        raise ValueError(f"semantic_dedup_pairs: assign={assign!r}")

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        return _pairs_within(pdf["__id"], pdf["__v"], cos_threshold)

    grouped = assigned.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
        "list_id",
    )
    return grouped.groupBy("list_id").applyInPandas(score, _PAIR_SCHEMA)


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cos_threshold: float = 0.95,
    n_clusters: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup end-to-end: drop every row that has a within-cluster
    neighbor with a SMALLER id at cos ≥ threshold (deterministic greedy —
    the paper keeps one representative per ε-ball; min-id is the
    engine-portable choice).  Guarantee: no two surviving rows in the same
    cluster are ≥ threshold apart (if (a<b) survived as a pair, b would
    have been dropped).  Output = input columns, survivors only; one
    anti-join after the pair pass."""
    pairs = semantic_dedup_pairs(
        df, id_col, vec_col, cos_threshold, n_clusters, sample_size, seed
    )
    drops = pairs.select(F.col("id_b").alias("__drop")).distinct()
    return df.join(
        drops, F.col(id_col).cast("long") == F.col("__drop"), "left_anti"
    )


def cluster_report(
    corpus: DataFrame,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 10_000,
    seed: int = 42,
) -> DataFrame:
    """Per-cluster curation report over the embedding corpus: size and
    mean cosine-to-centroid cohesion for each k-means cluster — the
    diagnostic behind cluster-balanced sampling (oversample small coherent
    clusters, downsample giant diffuse ones; the SemDeDup/DSIR-family
    curation move).  Reuses the IVF quantizer: train once on a bounded
    hash-ordered sample, broadcast-assign (no UDF), then one groupBy on
    the cluster id."""
    cent = ivf_build_centroids(
        corpus, n_lists=n_lists, sample_size=sample_size, seed=seed, vec_col=vec_col
    )
    assigned = ivf_assign(corpus, cent, id_col=id_col, vec_col=vec_col, n_probe=1)
    return (
        assigned.join(F.broadcast(cent), "list_id")
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg(cosine(F.col(vec_col), F.col("centroid"))), 6).alias(
                "cohesion"
            ),
        )
        .orderBy("list_id")
    )


# ---------------------------------------------------------------------------
# PCA over the embedding corpus (distributed Gram matrix, driver eigh)
# ---------------------------------------------------------------------------

def gram_matrix_long(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: int | None = None,
) -> DataFrame:
    """Upper-triangular Gram matrix XᵀX in long form ``(i, j, g)`` with
    1-based indices, computed distributed: each Arrow batch contributes a
    d×d numpy partial (``mapInPandas``), and ONE d²-row groupBy sums the
    partials — the shuffle carries O(partitions·d²) rows, never O(n).

    With ``scale`` set, components are quantized to integers
    ``floor(x·scale + 0.5)`` before the product, making the sums
    order-independent and exactly reproducible across engines (int64
    addition is associative; float accumulation is not) — the
    cross-engine-oracle form.  int64 headroom: |x·scale| ≤ s ⇒ overflow
    needs Σ > 2⁶³/s², ~1e12 rows at s≈3e3.  ``scale=None`` keeps float64
    products (the production form when exact replay is not required).
    """
    import pandas as pd  # noqa: F811 — local for the worker closure

    def partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if scale is not None:
                mat = np.floor(mat * scale + 0.5)
                g = (mat.astype(np.int64).T @ mat.astype(np.int64)).astype(np.int64)
            else:
                g = mat.T @ mat
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu + 1, "j": ju + 1, "g": g[iu, ju]}
            )

    out_t = "bigint" if scale is not None else "double"
    # NO ensure_parallelism here (examined r12 and rejected): the partial
    # is one numpy GEMM per batch — O(d) flops per row, far cheaper than
    # the per-char hashing paths — and the round-robin exchange cost
    # measurably exceeds the single-task compute on the fixture
    # (gram_matrix 0.43→0.90 s interleaved A/B); at scale the input
    # arrives multi-split anyway
    partials = df.select(vec_col).mapInPandas(
        partial, f"i int, j int, g {out_t}"
    )
    return partials.groupBy("i", "j").agg(F.sum("g").alias("g"))


def pca_fit(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fit PCA on the corpus: distributed first/second moments (one
    aggregation each — ``n``+``Σx`` via built-in array fold, XᵀX via
    :func:`gram_matrix_long`), then an O(d³) ``eigh`` of the d×d covariance
    on the driver (d² values collected — tiny, independent of n).

    Returns ``(mean[d], components[k,d], explained_var[k])`` with
    components as rows, eigenvalue-descending.
    """
    d = len(df.select(vec_col).first()[0])
    sums = df.select(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(f"s{i}")
            for i in range(d)
        ],
    ).first()
    n = sums["n"]
    mu = np.array([sums[f"s{i}"] for i in range(d)]) / n
    gl = gram_matrix_long(df, vec_col).collect()
    g = np.zeros((d, d))
    for r in gl:
        g[r["i"] - 1, r["j"] - 1] = r["g"]
        g[r["j"] - 1, r["i"] - 1] = r["g"]
    cov = (g - n * np.outer(mu, mu)) / max(n - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T
    # deterministic sign: make the largest-|.| coordinate of each component
    # positive (eigh's sign is arbitrary)
    for row in comps:
        j = int(np.argmax(np.abs(row)))
        if row[j] < 0:
            row *= -1.0
    return mu, comps, evals[order]


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project each vector onto the fitted components: (x−μ)·vₖ per k.
    Mean and components ship as literal arrays inside built-in
    zip_with/aggregate expressions — pure JVM codegen, no UDF, no shuffle."""
    mean_lit = F.array(*[F.lit(float(v)) for v in mean])
    centered = F.zip_with(
        F.col(vec_col), mean_lit, lambda x, m: x.cast("double") - m
    )
    projections = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(v)) for v in comp]),
                lambda x, c: x * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        for comp in components
    ]
    return df.withColumn(out_col, F.array(*projections))


def mrl_truncate(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    renormalize: bool = True,
) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022, "Matryoshka
    Representation Learning"): keep the first ``k`` dimensions and
    L2-renormalize — the d/k storage & compute cut used to serve ANN at a
    fraction of full-dimension cost, rerank on full vectors only for the
    shortlist.  Complements int8 quantization above (orthogonal axes:
    fewer dims vs fewer bits).  Pure built-in slice + fold arithmetic."""
    head = F.slice(F.col(vec_col), 1, k)
    if not renormalize:
        return df.withColumn(vec_col, head)
    # norm hoisted to its own column: embedding the O(k) norm fold inside
    # the per-element lambda is O(k²) per row — Catalyst does not CSE a
    # loop-invariant aggregate out of a transform lambda
    return (
        df.withColumn("__h", head)
        .withColumn("__n", _norm(F.col("__h")))
        .withColumn(
            vec_col,
            F.transform(F.col("__h"), lambda v: v.cast("double") / F.col("__n")),
        )
        .drop("__h", "__n")
    )


# ---------------------------------------------------------------------------
# Product Quantization (PQ) — Jégou, Douze & Schmid 2011, "Product
# Quantization for Nearest Neighbor Search".  The fourth member of the
# embedding-compression family here (IVF = coarse partitioning, int8 =
# fewer bits/dim, MRL = fewer dims, PQ = subspace codebooks): the vector
# splits into m subvectors, each quantized to one of k codewords learned
# per subspace, so a d-dim float vector stores as m small codes (64-dim
# float32 → 8 codes ≈ 32× compression at m=8, k≤256) and distances are
# computed against codes via a per-query lookup table (ADC), never by
# decoding the corpus.
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Learn per-subspace codebooks and return them AS A DATAFRAME
    ``(sub_idx, code, centroid array<double>)`` — persist with
    ``write.parquet`` and reuse, exactly like ``ivf_build_centroids``
    (train once on a bounded, hash-ordered-deterministic sample; the model
    is m·k×(d/m) — tiny).  Plain L2 k-means per subspace (PQ quantizes
    residual geometry; spherical normalization would distort subvectors).
    """
    mat = _train_sample(corpus, vec_col, sample_size)
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    rows = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        kk = min(k, len(sub))
        cent = sub[rng.choice(len(sub), size=kk, replace=False)].copy()
        for _ in range(10):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(kk):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        rows += [
            (s, int(c), [float(x) for x in cent[c]]) for c in range(kk)
        ]
    return corpus.sparkSession.createDataFrame(
        rows, "sub_idx int, code int, centroid array<double>"
    )


def _codebook_array(codebooks: DataFrame):
    """Collect the (tiny) codebook DataFrame into an (m, k, dsub) ndarray."""
    rows = codebooks.collect()
    m = 1 + max(r.sub_idx for r in rows)
    k = 1 + max(r.code for r in rows)
    dsub = len(rows[0].centroid)
    arr = np.zeros((m, k, dsub), dtype=np.float64)
    for r in rows:
        arr[r.sub_idx, r.code] = r.centroid
    return arr


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Encode every vector to its m nearest-codeword indices
    (``array<int>`` of length m) — ONE Arrow-batched pass with the
    broadcast codebook; per batch the argmin is a BLAS matmul per
    subspace (‖x−c‖² = ‖x‖²−2x·c+‖c‖², only the last two terms rank).
    Map-only: no shuffle, scales with the corpus scan.  All input columns
    survive (IVF-PQ needs the list assignment to ride along)."""
    from pyspark.sql import types as T

    cb = _codebook_array(codebooks)
    bc = df.sparkSession.sparkContext.broadcast(cb)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(v: pd.Series) -> pd.Series:
        c = bc.value
        m, _, dsub = c.shape
        mat = np.array(list(v), dtype=np.float64)
        out = np.empty((len(mat), m), dtype="int32")
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            # rank by -2x·c + ‖c‖² (the ‖x‖² term is constant per row)
            scores = -2.0 * (sub @ c[s].T) + (c[s] ** 2).sum(axis=1)[None, :]
            out[:, s] = np.argmin(scores, axis=1)
        return pd.Series(list(out))

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_decode(
    df: DataFrame,
    codebooks: DataFrame,
    codes_col: str = "codes",
    out_col: str = "approx",
) -> DataFrame:
    """Reconstruct the approximate vector from its codes (concatenated
    codewords) — the reconstruction-error side of the PQ trade, used by
    tests to assert error shrinks as k grows."""
    from pyspark.sql import types as T

    cb = _codebook_array(codebooks)
    bc = df.sparkSession.sparkContext.broadcast(cb)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def decode(codes: pd.Series) -> pd.Series:
        c = bc.value
        m, _, dsub = c.shape
        cm = np.array(list(codes), dtype="int64")
        out = np.empty((len(cm), m * dsub), dtype=np.float64)
        for s in range(m):
            out[:, s * dsub : (s + 1) * dsub] = c[s][cm[:, s]]
        return pd.Series(list(out))

    return df.withColumn(out_col, decode(F.col(codes_col)))


_ADC_SCHEMA = "query_id long, neighbor_id long, approx_dist double"


def _adc_luts(qvecs: list, cb: np.ndarray) -> np.ndarray:
    """ADC lookup tables ``LUT[q, s, c] = ‖q_s − c_{s,c}‖²`` of the query
    vectors ``qvecs`` against the (m, k, dsub) codebook array ``cb``."""
    mm, kk, dsub = cb.shape
    qmat = np.asarray(qvecs, dtype=np.float64).reshape(len(qvecs), mm * dsub)
    luts = np.empty((len(qmat), mm, kk), dtype=np.float64)
    for s in range(mm):
        diff = qmat[:, None, s * dsub : (s + 1) * dsub] - cb[s][None, :, :]
        luts[:, s, :] = (diff**2).sum(axis=2)
    return luts


def _adc_topk(
    per_part: DataFrame,
    queries: DataFrame,
    enc: DataFrame,
    k: int,
    rerank: int | None,
    query_id: str,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Merge the per-partition ADC shortlists (``_ADC_SCHEMA`` rows):
    drop each query's own row, then either keep the top ``k`` by
    (approx_dist, neighbor_id) with ``approx_dist`` rounded to 6
    (``rerank=None``), or keep a ``rerank``-row shortlist and re-rank it by
    exact cosine against the true vectors ``enc`` carries."""
    merged = per_part.filter(F.col("query_id") != F.col("neighbor_id"))
    by_dist = [F.asc("approx_dist"), F.asc("neighbor_id")]
    if rerank is None:
        return top_k_per_group(merged, ["query_id"], by_dist, k).select(
            "query_id", "neighbor_id", F.round("approx_dist", 6).alias("approx_dist")
        )
    ranked = top_k_per_group(merged, ["query_id"], by_dist, max(k, rerank))
    qv = queries.select(F.col(query_id).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = enc.select(F.col(corpus_id).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    exact = ranked.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    return _top_cosines(_scored(exact), k)


def pq_topk(
    queries: DataFrame,
    encoded_corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "codes",
    rerank: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes: each query
    precomputes an m×k table of squared distances from its subvectors to
    every codeword; a corpus row's approximate distance is then m table
    lookups summed — the corpus is NEVER decoded.

    ``rerank=N`` switches to the standard production two-stage shape:
    ADC produces an N-row shortlist per query, then ONLY the shortlist
    joins back to true vectors for an exact-cosine re-rank to k (requires
    ``encoded_corpus`` to still carry ``vec_col``).  Recall then tracks
    the shortlist hit rate instead of raw code distortion.

    Scale shape: queries (small by construction) broadcast with their
    LUTs inside an Arrow ``mapInPandas`` pass over the encoded corpus;
    each partition emits only its per-query top-k (≤ |Q|·k rows per
    partition), and one final per-query top-k merges partitions.  Map-only
    over the corpus + one k·|Q|·partitions-row reduction — no corpus
    shuffle, no decode, m-byte-codes I/O instead of full vectors; the
    rerank stage touches shortlist·|Q| rows only."""
    shortlist = max(k, rerank or 0)
    cb = _codebook_array(codebooks)
    mm = cb.shape[0]
    qrows = queries.select(query_id, vec_col).collect()
    qids = np.array([r[0] for r in qrows])
    luts = _adc_luts([r[1] for r in qrows], cb)
    bc = encoded_corpus.sparkSession.sparkContext.broadcast((qids, luts))

    def scan(batches):
        qids_, luts_ = bc.value
        nq = len(qids_)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(list(pdf[codes_col]), dtype="int64")  # n×m
            ids = pdf["__nid"].to_numpy()
            # dists[q, n] = Σ_s LUT[q, s, codes[n, s]]
            n = len(codes)
            dists = np.zeros((nq, n), dtype=np.float64)
            for s in range(mm):
                dists += luts_[:, s, :][:, codes[:, s]]
            # keep shortlist+1 per partition: the query's own row may sit
            # in this partition's top-k and is filtered out after the scan
            keep = min(shortlist + 1, n)
            part = np.argpartition(dists, keep - 1, axis=1)[:, :keep]
            out = {
                "query_id": np.repeat(qids_, keep),
                "neighbor_id": ids[part].ravel(),
                "approx_dist": np.take_along_axis(dists, part, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    per_part = encoded_corpus.select(
        F.col(corpus_id).alias("__nid"), F.col(codes_col)
    ).mapInPandas(scan, _ADC_SCHEMA)
    return _adc_topk(
        per_part, queries, encoded_corpus, k, rerank, query_id, corpus_id, vec_col
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    m: int = 8,
    k_codes: int = 64,
    n_probe: int = 4,
    rerank: int | None = None,
    sample_size: int = 10_000,
    seed: int = 42,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-style IVF-PQ search (Jégou et al. 2011 §IV) — the composed
    100 TB ANN layout: the IVF coarse quantizer PRUNES (each query touches
    ~n_probe/n_lists of the corpus) and PQ codes over the RESIDUAL
    x − centroid(x) COMPRESS what remains (residuals concentrate near 0,
    so the same code budget quantizes them far better than raw vectors).

    Search: each (query, probed list) pair gets its own ADC lookup table
    built from the query's residual against that list's centroid; corpus
    codes of the probed lists cost m table lookups each, inside one Arrow
    map pass that emits per-partition shortlists only.  ``rerank=N`` adds
    the exact-cosine rerank of the N-row shortlist (true vectors join back
    by id — only the shortlist is ever decoded).

    Scale shape: index = one broadcast-scored assignment pass + one
    map-only encode pass; search is map-only over the encoded corpus with
    a |Q|·n_probe-entry LUT broadcast, one k·|Q|·partitions-row reduction,
    and (with rerank) a shortlist-sized join.  No corpus shuffle anywhere.
    """
    cent = ivf_build_centroids(corpus, n_lists, sample_size, seed, vec_col)
    enc = _ivfpq_encode(corpus, cent, m, k_codes, sample_size, seed, corpus_id, vec_col)
    cb = enc[1]
    return ivfpq_search(
        queries, cent, cb, enc[0], k, n_probe, rerank, query_id, vec_col
    )


def _ivfpq_encode(
    corpus: DataFrame,
    cent: DataFrame,
    m: int,
    k_codes: int,
    sample_size: int,
    seed: int,
    corpus_id: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """IVF-assign + residual-PQ-encode the corpus against prebuilt coarse
    centroids.  Returns ``(enc, codebooks)`` where enc is
    ``(__nid, list_id, <vec_col>, codes)``."""
    centd = cent.select("list_id", F.col("centroid").alias("__cent"))
    assigned = ivf_assign(corpus, cent, corpus_id, vec_col, n_probe=1)
    resid = assigned.join(F.broadcast(centd), "list_id").withColumn(
        "__resid", F.zip_with(vec_col, "__cent", lambda a, b: a.cast("double") - b)
    )
    cb = pq_train(resid, m, k_codes, sample_size, seed, vec_col="__resid")
    enc = pq_encode(resid, cb, id_col=corpus_id, vec_col="__resid").select(
        F.col(corpus_id).alias("__nid"), "list_id", vec_col, "codes"
    )
    return enc, cb


def ivfpq_search(
    queries: DataFrame,
    cent: DataFrame,
    cb: DataFrame,
    enc: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    rerank: int | None = None,
    query_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a PREBUILT IVF-PQ index (``ivfpq_build_index`` /
    ``ivfpq_load_index``) — the production lifecycle: at 100 TB the coarse
    centroids, residual codebooks, and encoded corpus are trained and
    written ONCE, and every query batch pays only query-side LUT
    construction + the pruned ADC scan.  ``enc`` must carry
    ``(__nid, list_id, <vec_col>, codes)`` as written by the builder."""
    centd = cent.select("list_id", F.col("centroid").alias("__cent"))
    # per-(query, probed-list) residual LUTs — |Q|·n_probe·m·k doubles,
    # tiny for any sane query batch
    cbarr = _codebook_array(cb)
    mm = cbarr.shape[0]
    qa = ivf_assign(queries, cent, query_id, vec_col, n_probe=n_probe)
    q_rows = (
        qa.join(F.broadcast(centd), "list_id")
        .withColumn(
            "__qres", F.zip_with(vec_col, "__cent", lambda a, b: a.cast("double") - b)
        )
        .select(query_id, "list_id", "__qres")
        .collect()
    )
    luts_by_list: dict[int, list] = {}
    for r, lut in zip(q_rows, _adc_luts([r["__qres"] for r in q_rows], cbarr)):
        luts_by_list.setdefault(int(r["list_id"]), []).append((r[0], lut))
    bc = queries.sparkSession.sparkContext.broadcast(luts_by_list)
    shortlist = max(k, rerank or 0)

    def scan(batches):
        table = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            frames = []
            for list_id, grp in pdf.groupby("list_id"):
                probers = table.get(int(list_id))
                if not probers:
                    continue
                codes = np.array(list(grp["codes"]), dtype="int64")
                ids = grp["__nid"].to_numpy()
                n = len(codes)
                keep = min(shortlist + 1, n)
                for qid, lut in probers:
                    dists = np.zeros(n, dtype=np.float64)
                    for s in range(mm):
                        dists += lut[s][codes[:, s]]
                    part = np.argpartition(dists, keep - 1)[:keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "neighbor_id": ids[part],
                                "approx_dist": dists[part],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    per_part = enc.select("__nid", "list_id", "codes").mapInPandas(scan, _ADC_SCHEMA)
    return _adc_topk(per_part, queries, enc, k, rerank, query_id, "__nid", vec_col)


def pq_build_index(
    corpus: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    sample_size: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train PQ codebooks and encode the corpus ONCE, persisting both to
    ``path`` (``codebooks/`` + ``codes/`` parquet) — the production index
    lifecycle (mirrors the IVF roundtrip at ivf_build_centroids): at
    100 TB the train+encode passes run once per corpus version and every
    search session just reads m-byte codes.  The encoded table keeps the
    true vectors so the exact-cosine rerank stage can join back by id."""
    cb = pq_train(corpus, m, k, sample_size, seed, vec_col)
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    enc = pq_encode(corpus, cb, id_col=id_col, vec_col=vec_col)
    enc.select(id_col, vec_col, "codes").write.mode("overwrite").parquet(
        f"{path}/codes"
    )


def pq_load_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a ``pq_build_index`` output: ``(codebooks, encoded_corpus)``."""
    return (
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
    )


def ivfpq_build_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    m: int = 8,
    k_codes: int = 64,
    sample_size: int = 10_000,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train + persist the full IVF-PQ index (coarse centroids, residual
    codebooks, encoded corpus) to ``path`` — searches then run via
    ``ivfpq_load_index`` + ``ivfpq_search`` without touching raw vectors
    except for the shortlist rerank."""
    cent = ivf_build_centroids(corpus, n_lists, sample_size, seed, vec_col)
    cent.write.mode("overwrite").parquet(f"{path}/centroids")
    enc, cb = _ivfpq_encode(
        corpus, cent, m, k_codes, sample_size, seed, id_col, vec_col
    )
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    enc.write.mode("overwrite").parquet(f"{path}/codes")


def ivfpq_load_index(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load an ``ivfpq_build_index`` output:
    ``(centroids, codebooks, encoded_corpus)``."""
    return (
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/codebooks"),
        spark.read.parquet(f"{path}/codes"),
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query, the
    ``k`` most cosine-similar corpus vectors with a DIFFERENT label — the
    near-miss examples that make embedding/classifier training data hard
    (the in-batch-negatives upgrade every retrieval recipe ships).

    Same plan shape as :func:`cosine_topk` — broadcast(queries) ⋈ corpus
    scan, label inequality folded into the join filter so mismatched
    pairs never score, window top-k per query.  At scale swap the scan
    side for the ANN/IVF candidates exactly as with positives.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.col(label_col).alias("__ql"),
        )
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neg_label"),
    )
    pairs = q.crossJoin(c).filter(
        (F.col("query_id") != F.col("neighbor_id"))
        & ~F.col("__ql").eqNullSafe(F.col("neg_label"))
    )
    return _top_cosines(_scored(pairs, "neg_label"), k, "neg_label")


def embedding_drift(
    df: DataFrame,
    bucket_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-distribution drift monitor: per bucket (day / source /
    model version), the centroid of the embedding column and its cosine
    similarity to the PREVIOUS bucket's centroid — the cheap first-line
    signal that an upstream embedding model or corpus mix shifted (the
    numeric-feature analog is ``relational.population_stability``).

    Plan: posexplode to (bucket, dim, value) — the shuffle carries
    buckets × dims cells, not vectors — one avg per cell, centroids
    reassembled order-safely via sort_array(collect_list(struct(pos,
    avg))), then a lag window over the FEW bucket rows for the cosine.
    Everything codegen / built-in; no UDF.  Returns (bucket, n_vecs,
    drift_cosine) with NULL for the first bucket."""
    cells = (
        df.select(F.col(bucket_col).alias("__b"), F.posexplode(vec_col))
        .groupBy("__b", "pos")
        .agg(F.avg("col").alias("__m"), F.count(F.lit(1)).alias("__n"))
    )
    cent = cells.groupBy("__b").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "__m"))),
            lambda s: s["__m"],
        ).alias("__c"),
        F.first("__n").alias("n_vecs"),
    )
    w = Window.orderBy("__b")
    prev = F.lag("__c").over(w)
    dot = F.aggregate(
        F.zip_with(F.col("__c"), prev, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, v: acc + v * v)
    )
    return cent.select(
        F.col("__b").alias(bucket_col),
        "n_vecs",
        F.round(dot / (norm(F.col("__c")) * norm(prev)), 6).alias(
            "drift_cosine"
        ),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.95,
    corpus_id: str = "vec_id",
    bench_id: str = "vec_id",
    vec_col: str = "embedding",
    max_benchmark: int = 500_000,
) -> DataFrame:
    """Embedding-space decontamination (the semantic complement of the
    exact/Bloom/n-gram paths in :mod:`dedup`): flag every corpus document
    whose MAX cosine against any benchmark vector reaches ``threshold`` —
    near-verbatim eval leakage survives paraphrase, so token-level
    decontamination misses it (Yang et al. 2023, "Rethinking Benchmark
    and Contamination").  Returns (corpus_id, max_cos, contaminated).

    Plan shape: one Arrow ``mapInPandas`` over the corpus, no join — the
    :func:`_directional_topk` shape.  The benchmark (eval suites are small;
    RAISES past ``max_benchmark`` rows) is collected, L2-normalized and
    shipped once in the closure; each corpus batch is one float64 GEMM +
    row max, so the corpus NEVER shuffles and is scanned exactly once.
    ~10x the per-pair codegen fold at fixture scale, same doubles modulo
    summation order (round 6 absorbs it; the ``semantic_decon`` DuckDB
    oracle checks it).  An empty benchmark yields zero rows."""
    b_rows = benchmark.select(
        F.col(bench_id), F.col(vec_col)
    ).limit(max_benchmark + 1).collect()
    if len(b_rows) > max_benchmark:
        raise ValueError(
            f"semantic_decontaminate: benchmark exceeds {max_benchmark} "
            "rows — eval suites are small by design; split the set"
        )
    if not b_rows:
        # np.asarray([]) is 1-D, so norm(axis=1) and bm.T would raise
        # AxisError on the driver/executor
        return corpus.select(
            F.col(corpus_id),
            F.lit(None).cast("double").alias("max_cos"),
            F.lit(False).alias("contaminated"),
        ).limit(0)
    bm = np.asarray([r[1] for r in b_rows], dtype=np.float64)
    bm /= np.maximum(np.linalg.norm(bm, axis=1, keepdims=True), 1e-30)
    thr = float(threshold)
    cid, vcol = corpus_id, vec_col

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.asarray(list(pdf[vcol]), dtype=np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            mx = (m @ bm.T).max(axis=1)
            yield pd.DataFrame(
                {
                    cid: pdf[cid].values,
                    "max_cos": np.round(mx, 6),
                    "contaminated": mx >= thr,
                }
            )

    id_t = dict(corpus.dtypes)[corpus_id]
    # single-split corpora would serialize the GEMM on one core (see
    # _directional_topk); never repartitions down, no shuffle at scale
    return ensure_parallelism(corpus.select(corpus_id, vec_col)).mapInPandas(
        score, f"{corpus_id} {id_t}, max_cos double, contaminated boolean"
    )


def cosine_topk_fast(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    include_self: bool = False,
) -> DataFrame:
    """:func:`cosine_topk` on the Arrow GEMM path — identical rows
    (same cos-DESC/id-ASC tie rule, round 6; the codegen fold is the
    oracle twin), ~10× at fixture scale: both sides L2-normalize once,
    the query matrix ships via broadcast (bounded by
    ``_directional_topk``'s cap), and each corpus partition is one
    float64 GEMM.  Self-exclusion fetches k+1 then re-ranks, so a
    duplicate vector still counts as a neighbor (leave-one-out
    semantics)."""
    qn = normalize(
        queries.select(F.col(query_id).alias("vec_id"), vec_col), vec_col
    )
    cn = normalize(
        corpus.select(F.col(corpus_id).alias("vec_id"), vec_col), vec_col
    )
    kk = k if include_self else k + 1
    nn = _directional_topk(qn, cn, kk, "vec_id", vec_col)
    if not include_self:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__cos"), F.asc("neighbor_id")
        )
        nn = (
            nn.filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("__rk2", F.row_number().over(w))
            .filter(F.col("__rk2") <= k)
        )
    return nn.select(
        "query_id", "neighbor_id", F.round("__cos", 6).alias("cos_sim")
    )


def knn_label_accuracy(
    embeddings: DataFrame,
    label_col: str = "label",
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe: DataFrame | None = None,
    max_probe: int = 200_000,
) -> DataFrame:
    """Leave-one-out k-NN label accuracy — the standard embedding-quality
    PROBE (does nearest-neighbor structure respect labels?): each probe
    vector's k nearest corpus neighbors (exact cosine, self excluded,
    cos-DESC/id-ASC tie rule) majority-vote a label; per-label accuracy =
    fraction of agreeing votes.  Returns (q_label, n, acc).

    This is a bounded-SAMPLE tool by design, mirroring
    :func:`_directional_topk`'s guard: the probe side (default: the whole
    ``embeddings`` frame) broadcasts as one GEMM operand and RAISES past
    ``max_probe`` rows.  At corpus scale pass a sampled ``probe``
    (``embeddings.sample(...)`` — the quality estimate converges fast) or
    swap the exact pass for :func:`ann_cosine_topk`/:func:`ivf_search`;
    the label joins and the grouped average are unchanged either way.
    The corpus side streams partition-by-partition and is never
    collected, so only the probe is bounded."""
    p = probe if probe is not None else embeddings
    if p.limit(max_probe + 1).count() > max_probe:
        raise ValueError(
            f"knn_label_accuracy: probe side exceeds {max_probe} rows — "
            "this is a sample probe; pass probe=embeddings.sample(...) "
            "or use ann_cosine_topk for full-corpus sweeps"
        )
    nn = cosine_topk_fast(
        p, embeddings, k=k, query_id=id_col, corpus_id=id_col, vec_col=vec_col
    )
    labels = embeddings.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl")
    )
    j = (
        nn.join(
            labels.select(
                F.col("__id").alias("query_id"), F.col("__lbl").alias("q_label")
            ),
            "query_id",
        ).join(
            labels.select(
                F.col("__id").alias("neighbor_id"),
                F.col("__lbl").alias("n_label"),
            ),
            "neighbor_id",
        )
    )
    if k > 1:
        # majority vote with deterministic ties: highest count, then
        # lexicographically smallest label
        votes = j.groupBy("query_id", "q_label", "n_label").count()
        w = Window.partitionBy("query_id").orderBy(
            F.desc("count"), F.asc("n_label")
        )
        j = votes.withColumn("__r", F.row_number().over(w)).filter(
            F.col("__r") == 1
        )
    return (
        j.groupBy("q_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg((F.col("q_label") == F.col("n_label")).cast("double")), 6
            ).alias("acc"),
        )
        .orderBy("q_label")
    )
