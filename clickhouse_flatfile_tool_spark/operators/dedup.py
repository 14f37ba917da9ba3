"""Deduplication operators (EXT E1/E2, SURVEY §2.10): exact, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup detection.

Scale design:
  * exact dedup = hash-groupBy on a fingerprint — one shuffle keyed by a
    16-byte hash, no full-text comparison.  Distinct hashes spread
    uniformly, but a hot fingerprint (many byte-identical docs, e.g. empty
    or boilerplate text) is a single key: the groupBy forms keep map-side
    partial aggregation so it stays cheap; the window-filter form in
    ``incremental_exact_dedup`` does not (see its docstring for when that
    matters).
  * MinHash-LSH = shingle → minhash signature → band → bucket-join: candidate
    pairs only ever meet inside a band bucket, so the join is equi-join
    shaped (shuffle on band-hash), never a cross join.
  * SimHash = 64-bit signature, near-dups share signature under small
    Hamming distance; grouping by signature bands gives candidates.
  * all candidate verification (exact Jaccard) happens per-pair after LSH
    pruning — the O(n²) step never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators.text import fingerprint
from clickhouse_flatfile_tool_spark.partitioning import ensure_parallelism

# ---------------------------------------------------------------------------
# E1: exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal via ``dropDuplicates`` — hash-partition on the
    key columns, keep one row per key (E1)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_canonical(
    df: DataFrame, key: Column | str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic exact dedup: keep the *minimum id* per key (so the
    survivor is well-defined, unlike dropDuplicates' arbitrary winner —
    required for oracle comparison).  Key defaults to the normalized-text
    fingerprint."""
    k = fingerprint(key) if isinstance(key, str) else key
    return (
        df.withColumn("__fp", k)
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------

def _shingles_from_words(words: Column, n: int) -> Column:
    """Shingle array via n shifted slices zipped together.  The obvious form
    — ``transform(sequence(...), i -> slice(words, i+1, n))`` — re-evaluates
    ``words`` (and any expression feeding it, e.g. the regex split) once per
    ELEMENT because Catalyst neither hoists loop-invariant lambda captures
    nor stops CollapseProject from inlining the words projection: O(tokens²)
    per document.  Zipping shifted slices references ``words`` a constant
    n+1 times per ROW (measured 5× faster on the fixture)."""
    n_sh = F.greatest(F.size(words) - F.lit(n - 1), F.lit(1))
    slices = [F.slice(words, k + 1, n_sh) for k in range(n)]
    return F.array_distinct(
        F.transform(
            F.arrays_zip(*slices),
            lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles array<string>) with the words array materialized in a
    separate projection so the split runs once per document, not once per
    shingle (the projection boundary defeats Catalyst's per-element
    re-evaluation inside Generate/transform)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    return (
        ensure_parallelism(df)
        .select(F.col(id_col), words.alias("__w"))
        .select(F.col(id_col), _shingles_from_words(F.col("__w"), n).alias("__sh"))
    )


def shingle_postings(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """Exploded shingle inverted-index postings: one row per (id, shingle).
    ``hashed=True`` emits ``xxhash64`` longs instead of strings — 8-byte
    fixed-width join/shuffle keys instead of variable-length text (collision
    odds 2⁻⁶⁴; the standard trade in every shingle pipeline)."""
    sets_df = shingle_sets(df, id_col, text_col, n)
    sh = F.explode(F.col("__sh")).alias("__s")
    out = sets_df.select(F.col(id_col), sh)
    if hashed:
        return out.select(F.col(id_col), F.xxhash64("__s").alias("__s"))
    return out


# ---------------------------------------------------------------------------
# E2: MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
    prefix: str = "mh_",
) -> DataFrame:
    """Per-ROW (stateless) MinHash signature columns — the streaming-safe
    twin of :func:`minhash_signatures`.  No explode, no groupBy: each
    ``mh_i`` is ``array_min`` over the doc's hashed-shingle array, so the
    expression composes with streaming watermark dedup (a groupBy
    aggregation would be a second stateful operator).

    Same two-stage Catalyst hygiene as everywhere else: words and hashed
    shingles are materialized behind projection boundaries, so the text is
    split once and each shingle hashed once; the per-function re-hash
    works on 8-byte longs.  Produces values IDENTICAL to
    ``minhash_signatures`` for any doc with ≥1 shingle
    (pytest-asserted); docs with no shingles get NULL signatures (the
    groupBy path drops them instead)."""
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = (
        df.withColumn("__w", words)
        .withColumn("__sh", _shingles_from_words(F.col("__w"), shingle_n))
        .withColumn("__hs", F.transform("__sh", lambda s: F.xxhash64(s)))
    )
    def _rehash(i: int):
        # single-arg lambda on purpose: pyspark passes (element, index) to
        # a TWO-arg transform lambda, which would silently shadow a
        # default-captured i
        return lambda h: F.xxhash64(h, F.lit(seed + i))

    sigs = [
        F.array_min(F.transform("__hs", _rehash(i))).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]
    return staged.select(*df.columns, *sigs)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures as ``num_hashes`` long columns ``mh_0..mh_{H-1}``:
    for hash i, the minimum of ``xxhash64(shingle, seed+i)`` over the doc's
    shingle set.

    Shape: explode hashed shingles → per-row xxhash64(long, i) for each hash
    function → groupBy(id) min-agg.  The shingle string is hashed ONCE; the
    per-function re-hash works on an 8-byte long, not the text.  The min-agg
    combines map-side, so the shuffle carries one signature row per
    document — the layout that scales (a single nested
    array_min(transform(...))×H expression recomputes the shingle array H
    times and blows up codegen; measured 30× slower).
    """
    exploded = shingle_postings(df, id_col, text_col, shingle_n)
    mins = [
        F.min(F.xxhash64("__s", F.lit(seed + i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*mins)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    signature (num_hashes) → ``bands`` bands of rows = num_hashes/bands →
    band-hash → self-equi-join on (band_idx, band_hash).  Two docs become a
    candidate iff they collide in ≥1 band — the classic S-curve.  Returns
    distinct (id_a, id_b) with id_a < id_b.

    Scale: the only shuffles are the signature groupBy, ONE groupBy on
    (band, bucket) — singleton buckets (the overwhelming majority) are
    dropped before any pair exists — and the final pair-distinct.  Pairs are
    enumerated inside each bucket from the sorted id array with built-in
    transform/slice (no self-join: the old a⋈b form shuffled the banded rows
    twice and couldn't skip singletons).  A hot bucket (boilerplate text)
    still blows up as |bucket|²; 'dedupe near-exact first' is the
    operational fix, and AQE handles moderate skew in the groupBy.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, shingle_n, num_hashes, seed)
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return _bucket_pairs(banded, id_col, max_bucket_size)


def _bucket_pairs(
    banded: DataFrame, id_col: str, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from (id, band, bucket) rows:
    ONE groupBy on (band, bucket) — singleton buckets (the overwhelming
    majority) are dropped before any pair exists — then in-bucket pair
    enumeration from the sorted id array with built-in transform/slice.
    Replaces the self-equi-join shape, which shuffles the banded rows twice
    and cannot skip singletons.  Shared by MinHash-LSH (both hash
    primitives) and SimHash banding.

    ``max_bucket_size`` caps the |bucket|² blowup from hot buckets
    (boilerplate text hashing thousands of docs into one band value):
    oversized buckets are SKIPPED, the standard production trade — a bucket
    that large signals near-exact duplication better handled by exact dedup
    first, and every pair inside it would still need O(|bucket|²) verify
    work.  None (default) keeps exhaustive behavior for fixture/oracle use.
    """
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket_size)
    ids = F.col("ids")
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    ids,
                    lambda x, i: F.transform(
                        F.slice(ids, i + 2, F.size(ids)),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    **lsh_kwargs,
) -> DataFrame:
    """Full near-dup dedup: LSH candidates → exact Jaccard verify → drop the
    higher id of every verified pair.  Returns the surviving rows.

    Transitivity note: we drop any doc that is the greater id in some
    verified pair (greedy, not connected-components — identical policy to
    common corpus-dedup pipelines; CC is a multi-round join loop we can add
    when needed).
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, **lsh_kwargs)
    verified = jaccard_verify(df, cands, id_col, text_col, lsh_kwargs.get("shingle_n", 3))
    losers = (
        verified.filter(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, on=id_col, how="left_anti")


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: two broadcast-friendly
    equi-joins to attach shingle sets, then array_intersect/union sizes —
    all JVM-side.

    The sets frame is referenced TWICE (id_a and id_b attach); when the
    underlying doc frame is expensive (a join/union subtree, not a bare
    scan), pass a persisted :func:`shingle_sets` frame as ``sets`` so the
    computation runs once — ``df`` is ignored then."""
    sh = sets if sets is not None else shingle_sets(
        df, id_col, text_col, shingle_n
    )
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
    )
    return out.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for modest candidate sets / oracle checking)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    prune_singletons: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via shingle inverted index: explode
    shingles → self-equi-join on shingle → count shared per pair → Jaccard
    from |A∩B| / (|A|+|B|−|A∩B|).

    This is the *exact* version of what LSH approximates; the join is on
    shingle value (equi-join), so only pairs sharing ≥1 shingle ever meet —
    still quadratic in the worst case, which is exactly why minhash_lsh_*
    is the scale path (documented tradeoff).

    ``prune_singletons`` drops shingles held by a single document before the
    self-join (they cannot produce a pair; |A∩B| is unaffected).  Enable it
    for natural-text corpora, where most shingles are singletons and the
    pruning pays for its extra groupBy many times over; leave it off for
    small-vocabulary corpora (like the synthetic fixture) where nearly every
    shingle repeats and the pruning is pure overhead — measured both ways.
    """
    sh = shingle_postings(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("id"), F.col("__s").alias("sh")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if prune_singletons:
        repeated = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") >= 2)
            .select("sh")
        )
        sh = sh.join(repeated, on="sh", how="left_semi")
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col("a.id") < F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    seed: int = 42,
) -> DataFrame:
    """64-bit SimHash per document as a ``simhash`` long column.

    Majority rule per bit: bit b of the signature is set iff more than half
    of the doc's shingle hashes have bit b set (≡ the classic ±1 sum > 0).

    Shape: SWAR lane sums — each hash contributes 16 packed addends
    (``(h >>> k) & 0x0001000100010001``: four 16-bit bit-counters per
    long), aggregated per doc as 16 plain ``sum`` columns.  Sums get TRUE
    map-side partial aggregation, so the shuffle carries 17 longs per doc
    per mapper — O(docs), independent of shingle count — and the
    signature packs from the lane sums in one final projection.

    Shape history, all bit-identical outputs, measured at sf0.1: a
    64-wide column agg compiles ~50 s of codegen; long-format explode
    (row per doc×bit) is 2.7× slower; collect_list + a 64-bit-count
    array fold ties this form locally (1.55 s vs 1.63 s — map-side
    shingle hashing dominates at fixture scale) but shuffles every
    shingle hash per doc, which loses at corpus scale.  Lane counters
    are 16-bit: exact for documents up to 65 535 shingles (chunk longer
    docs first — standard in any pipeline).  Bit masks come from SQL
    ``shiftleft(1L, i)`` literals — never a Python ``1 << 63``, which
    overflows a JVM long.
    """
    from functools import reduce

    if bits != 64:
        raise ValueError("simhash_signatures: the SWAR layout is 64-bit only")
    mask = F.lit(0x0001000100010001)
    exploded = shingle_postings(df, id_col, text_col, 2).select(
        F.col(id_col), F.xxhash64("__s", F.lit(seed)).alias("__h")
    )
    lanes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftrightunsigned("__h", k).bitwiseAND(mask)).alias(f"__l{k}")
            for k in range(16)
        ],
    )
    n = F.col("__n")
    terms = []
    for i in range(bits):
        cnt = F.shiftrightunsigned(F.col(f"__l{i % 16}"), 16 * (i // 16)).bitwiseAND(
            F.lit(0xFFFF)
        )
        terms.append(
            F.when(cnt * 2 > n, F.expr(f"shiftleft(1L, {i})")).otherwise(
                F.lit(0).cast("long")
            )
        )
    sig = reduce(lambda a, b: a.bitwiseOR(b), terms)
    return lanes.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates by SimHash banding: split the 64-bit signature
    into ``bands`` 16-bit bands; docs sharing any band value are candidates
    (catches Hamming distance < bands).  Same bucket-grouping shape as
    MinHash-LSH (:func:`_bucket_pairs`)."""
    bits_per = 64 // bands
    sigs = simhash_signatures(df, id_col, text_col, 64, seed)
    banded = sigs.withColumnRenamed("simhash", "__sig").select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("__sig"), b * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    return _bucket_pairs(banded, id_col, max_bucket_size)


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric near-duplicate detection: containment(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the measure that catches
    quotes, partial copies, and doc-inside-doc inclusion that symmetric
    Jaccard misses (a 100-word quote inside a 10k-word page has tiny Jaccard
    but containment ≈ 1).  Returns both directions above ``threshold`` as
    (id_small, id_big, containment) where the contained side is id_small's
    shingle set.

    Same inverted-index equi-join shape as :func:`ngram_jaccard_pairs`
    (exact, quadratic worst case — the verification-scale tool; LSH is the
    discovery-scale path)."""
    sh = shingle_postings(df, id_col, text_col, shingle_n).select(
        F.col(id_col).alias("id"), F.col("__s").alias("sh")
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, on=[F.col("a.sh") == F.col("b.sh"), F.col("a.id") != F.col("b.id")])
        .groupBy(F.col("a.id").alias("id_small"), F.col("b.id").alias("id_big"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_small").withColumnRenamed("sz", "sz_s"), "id_small")
        .withColumn("containment", F.col("n_shared") / F.col("sz_s"))
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", F.round("containment", 6).alias("containment"))
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_docs: int = 10,
) -> DataFrame:
    """Cross-document boilerplate detection — the n-gram-granularity analog
    of C4's repeated-line removal (Raffel et al. 2020 drop any 3-sentence
    span seen more than once; RefinedWeb dedups repeated lines).  The
    fixture corpus has no line structure, so the unit of repetition is the
    word n-gram.

    Returns per-document ``(id, n_shingles, n_boilerplate,
    boilerplate_ratio)`` where a shingle is boilerplate when it occurs in
    ≥ ``min_docs`` distinct documents.  A pipeline filters or rewrites docs
    whose ratio is high (template/spam pages).

    Scale shape: inverted-index postings → groupBy shingle for doc
    frequency (map-side partial agg collapses hot grams per mapper — the
    skew-proof shape; a COUNT window over the shingle key would funnel a
    100M-doc boilerplate gram into one task) → join postings back on the
    shingle hash (AQE skew-join splits residual hot keys) → groupBy doc.
    Postings appear twice in the plan but are cheap column-pruned mapper
    work; nothing materializes on the driver.
    """
    posts = shingle_postings(df, id_col, text_col, n)
    # postings are distinct per doc, so count-per-shingle == doc frequency
    docfreq = posts.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    flagged = posts.join(docfreq, "__s").select(
        id_col, (F.col("__df") >= min_docs).alias("__bp")
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.col("__bp").cast("long")).alias("n_boilerplate"),
        F.round(
            F.sum(F.col("__bp").cast("long")) / F.count(F.lit(1)), 6
        ).alias("boilerplate_ratio"),
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with an evaluation/benchmark set (the published GPT-3/PaLM
    procedure uses 8–13-gram collision; n is a parameter and the fixture's
    short docs use the repo-standard trigram).

    Returns one row per training document: ``(id, n_shingles, n_overlap,
    overlap_ratio, contaminated)`` with ``n_overlap`` = distinct shingles
    also present in the benchmark.

    Scale shape: the benchmark side (eval suites are ~10⁴–10⁶ grams even at
    100 TB train scale) is reduced to DISTINCT hashed shingles and
    broadcast, so the train side is a map-only semi-join probe — zero
    shuffle on the 100 TB side except the final per-doc groupBy.
    """
    bench_sh = F.broadcast(
        shingle_postings(benchmark, id_col, text_col, n).select("__s").distinct()
    )
    posts = shingle_postings(train, id_col, text_col, n)
    hits = posts.join(bench_sh.withColumn("__hit", F.lit(1)), "__s", "left")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long")).alias("n_overlap"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("overlap_ratio"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
            >= F.lit(min_overlap)
        ).alias("contaminated"),
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_fps: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: drop NEW rows whose normalized-text
    fingerprint already exists in the historical corpus, then drop exact
    dups within the batch itself (min-id survivor).  Two anti-join-shaped
    shuffles on a 16-byte key; the corpus side reduces to its distinct
    fingerprint set.

    ``corpus_fps`` — the PREBUILT fingerprint artifact from
    :func:`write_corpus_artifacts` (a frame with column ``__fp``).  When
    given, ``corpus_df`` is never touched: this is the 100 TB daily-build
    shape — the fingerprint set was computed once per corpus generation
    and lives as a table bucketed on ``__fp``, so the batch anti-joins
    history without rescanning or re-hashing it.  Duplicate ``__fp``
    rows are harmless (anti-join semantics), so no defensive distinct."""
    fp = fingerprint(text_col)
    if corpus_fps is None:
        if corpus_df is None:
            raise ValueError(
                "incremental_exact_dedup: need corpus_df or corpus_fps"
            )
        corpus_fps = corpus_df.select(fp.alias("__fp")).distinct()
    else:
        corpus_fps = corpus_fps.select("__fp")
    fresh = (
        new_df.withColumn("__fp", fp)
        .join(corpus_fps, "__fp", "left_anti")
    )
    # min-id survivor as a window filter, not a groupBy+self-join: one
    # reference of ``fresh`` instead of two.  Same rows (ids are unique, so
    # id == min(id) over fp picks exactly the groupBy+join survivor), same
    # single shuffle on __fp; the self-join form doubles the upstream plan,
    # which compounds exponentially in composed funnels (the
    # pipeline_incremental 19k-line-plan finding, OPTIMIZATION_r11.md §plan
    # size).  Skew tradeoff vs the groupBy form: the window has no map-side
    # partial aggregation, so a pathologically hot fingerprint (empty or
    # boilerplate docs all hashing identically) lands in one window task;
    # acceptable here because the input is a DAILY BATCH (O(delta), not the
    # corpus), but if batch duplicate density is extreme, pre-aggregate
    # min(id) per __fp and broadcast-join instead.
    w = Window.partitionBy("__fp")
    return (
        fresh.withColumn("__minid", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__minid"))
        .drop("__fp", "__minid")
    )


def incremental_lsh_dedup_candidates(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **lsh_kwargs,
) -> DataFrame:
    """Near-dup candidates of NEW docs against the historical corpus:
    band signatures for both sides, equi-join new×old on (band, bucket) —
    never a corpus self-join, so daily cost is O(batch) not O(corpus).
    Returns distinct (new_id, corpus_id).  At scale the corpus's banded
    signatures are precomputed once and stored bucketed on (band, bucket)."""
    num_hashes = lsh_kwargs.get("num_hashes", 16)
    bands = lsh_kwargs.get("bands", 8)
    shingle_n = lsh_kwargs.get("shingle_n", 3)
    seed = lsh_kwargs.get("seed", 42)
    rows_per_band = num_hashes // bands

    def banded(df: DataFrame, alias: str) -> DataFrame:
        sigs = minhash_signatures(df, id_col, text_col, shingle_n, num_hashes, seed)
        return sigs.select(
            F.col(id_col).alias(alias),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(alias, "bb.band", "bb.bucket")

    n = banded(new_df, "new_id")
    c = banded(corpus_df, "corpus_id")
    return n.join(c, on=["band", "bucket"]).select("new_id", "corpus_id").distinct()


# ---------------------------------------------------------------------------
# Connected-component grouping over candidate pairs
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components of the candidate-pair graph via iterative
    min-label propagation: every node repeatedly adopts the smallest label
    in its closed neighborhood until a fixpoint.  Returns ``(node, comp)``
    where ``comp`` is the smallest id in the node's component.

    Scale shape: each round is one equi-join + one groupBy (two shuffles on
    node id); ``localCheckpoint`` truncates lineage so the plan stays
    constant-size across rounds, and the input pair plan (often an LSH or
    inverted-index join) executes exactly once.  Rounds needed =
    O(component diameter) — near-dup clusters are shallow in practice.  For
    adversarial long-chain graphs the large-star/small-star algorithm
    (O(log n) rounds) is the drop-in upgrade.

    Convergence is detected with a 1-row count per round — a deliberate,
    documented driver action (iterative fixpoint needs *some* driver
    decision; this is how GraphX/GraphFrames do it too).
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("comp")
    )
    for _ in range(max_iterations):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                F.col("node"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def cc_dedup(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Connected-component dedup: cluster the verified near-dup pairs into
    components and keep only the minimum-id document of each component —
    the transitively-correct policy (A~B, B~C drops both B and C even when
    the A~C pair was never emitted), unlike greedy pair-drop
    (:func:`minhash_dedup`)."""
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Engine-portable (oracle-checkable) MinHash variant
# ---------------------------------------------------------------------------

def minhash_signatures_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash with md5-hex minimums: hash function i is
    ``md5(shingle || '#' || i)`` and the signature component is the
    lexicographic MIN of the hex strings — identical in any engine with
    md5 + string min, which makes the *whole* LSH pipeline differentially
    testable against DuckDB (the xxhash64 fast path is Spark-specific and
    can only be rows-only checked).  Keep :func:`minhash_signatures` for
    production throughput; keep this for verification parity.
    """
    exploded = shingle_postings(df, id_col, text_col, shingle_n, hashed=False)
    mins = [
        F.min(F.md5(F.concat_ws("#", F.col("__s"), F.lit(str(i))))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy(id_col).agg(*mins)


def _portable_banded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band, bucket) rows over the portable md5 signatures: band
    bucket = md5('|'-concat of the band's signature components).  Shared
    by the within-set and incremental (new-vs-corpus) candidate paths."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures_portable(df, id_col, text_col, shingle_n, num_hashes)
    return sigs.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"mh_{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_lsh_candidates_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Banded LSH over the portable md5 signatures: band bucket =
    md5(concat of the band's signature components); candidates = distinct
    (id_a < id_b) sharing any (band, bucket).  Same bucket-grouping shape as
    the fast path — only the hash primitive differs.  Pass ``banded`` (a
    prebuilt :func:`_portable_banded` frame for ``df``) to share the
    signature/banding work with another consumer — the incremental
    curation funnel bands the delta ONCE for both its within-delta and
    delta-vs-corpus passes."""
    if banded is None:
        banded = _portable_banded(
            df, id_col, text_col, shingle_n, num_hashes, bands
        )
    return _bucket_pairs(banded, id_col, max_bucket_size)


def incremental_lsh_candidates_portable(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    new_banded: DataFrame | None = None,
    corpus_banded: DataFrame | None = None,
) -> DataFrame:
    """Portable-md5 twin of :func:`incremental_lsh_dedup_candidates`:
    near-dup candidates of NEW docs against the historical corpus as
    distinct ``(corpus_id, new_id)`` — band both sides with the SAME md5
    signature scheme and equi-join new×corpus on (band, bucket).  Never a
    corpus self-join, so a daily batch costs O(batch), and the md5
    primitive keeps the whole incremental funnel DuckDB-replayable.

    Scale shape: at 100 TB the corpus's banded signatures are computed
    once per corpus generation by :func:`write_corpus_artifacts` and
    stored as a table bucketed on (band, bucket) — pass them as
    ``corpus_banded`` and the daily delta's signatures shuffle-join
    against history without rescanning or re-hashing it (the corpus
    side of the join reads exchange-free when the artifact is a real
    bucketed table).  ``corpus_banded`` MUST have been built with the
    same ``(shingle_n, num_hashes, bands)`` — a mismatch silently
    yields wrong candidates, so the frame's shape is checked but the
    parameters are the caller's contract.  ``new_banded`` (a prebuilt
    :func:`_portable_banded` frame for ``new_df``) shares the delta's
    banding with the within-delta pass (the minhash_lsh twin's note)."""
    if new_banded is None:
        new_banded = _portable_banded(
            new_df, id_col, text_col, shingle_n, num_hashes, bands
        )
    n = new_banded.withColumnRenamed(id_col, "new_id")
    if corpus_banded is None:
        if corpus_df is None:
            raise ValueError(
                "incremental_lsh_candidates_portable: need corpus_df or "
                "corpus_banded"
            )
        corpus_banded = _portable_banded(
            corpus_df, id_col, text_col, shingle_n, num_hashes, bands
        )
    elif set(corpus_banded.columns) != {id_col, "band", "bucket"}:
        raise ValueError(
            "incremental_lsh_candidates_portable: corpus_banded must "
            f"have columns ({id_col}, band, bucket), got "
            f"{corpus_banded.columns}"
        )
    c = corpus_banded.withColumnRenamed(id_col, "corpus_id")
    return (
        n.join(c, on=["band", "bucket"])
        .select("corpus_id", "new_id")
        .distinct()
    )


def write_corpus_artifacts(
    corpus: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    num_buckets: int = 8,
    table_prefix: str | None = None,
) -> dict[str, DataFrame]:
    """Materialize the corpus-side dedup artifacts ONCE per corpus
    generation (VERDICT r7 #1 — makes the O(delta) daily-build story
    executable instead of prose):

      ``<out_dir>/fingerprints`` — the corpus's DISTINCT 16-byte text
        fingerprints (``__fp``), keyed/bucketed on ``__fp``: the probe
        side of :func:`incremental_exact_dedup`.
      ``<out_dir>/banded`` — the corpus's portable-md5 banded MinHash
        signatures ``(id, band, bucket)`` from :func:`_portable_banded`,
        keyed/bucketed on ``(band, bucket)``: the probe side of
        :func:`incremental_lsh_candidates_portable`.

    With ``table_prefix`` set, each artifact is a REAL bucketed catalog
    table (``bucketBy(num_buckets).sortBy`` + ``saveAsTable`` with the
    files at ``out_dir``) — every subsequent delta join reads the corpus
    side with ZERO exchange (the shuffle was paid once, at write time;
    pytest asserts the exchange-free scan).  Without it, plain Parquet
    hash-repartitioned on the key — engine-portable files, but Spark
    re-shuffles them on read; production daily builds want the table
    form.  Returns the read-back frames keyed ``fingerprints`` /
    ``banded``, ready to pass as ``corpus_fps=`` / ``corpus_banded=``.

    The banded table is only valid for the exact ``(shingle_n,
    num_hashes, bands)`` it was built with — pass the same values to the
    consumers."""
    spark = corpus.sparkSession
    fps = corpus.select(fingerprint(text_col).alias("__fp")).distinct()
    banded = _portable_banded(
        corpus, id_col, text_col, shingle_n, num_hashes, bands
    )
    specs = {
        "fingerprints": (fps, ["__fp"]),
        "banded": (banded, ["band", "bucket"]),
    }
    out: dict[str, DataFrame] = {}
    for name, (frame, keys) in specs.items():
        path = f"{out_dir}/{name}"
        if table_prefix is not None:
            tbl = f"{table_prefix}_{name}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                frame.write.format("parquet")
                .mode("overwrite")
                .bucketBy(num_buckets, *keys)
                .sortBy(*keys)
                .option("path", path)
                .saveAsTable(tbl)
            )
            out[name] = spark.table(tbl)
        else:
            frame.repartition(num_buckets, *keys).write.mode(
                "overwrite"
            ).parquet(path)
            out[name] = spark.read.parquet(path)
    return out


def append_corpus_artifacts(
    accepted_delta: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    num_buckets: int = 8,
    table_prefix: str | None = None,
) -> dict[str, DataFrame]:
    """Close the daily-build loop: after a delta batch survives the
    incremental funnel, APPEND its fingerprints and banded signatures to
    the corpus artifacts so tomorrow's build probes today's accepted
    docs — the corpus artifact tables are maintained incrementally, not
    rebuilt (an O(corpus) rebuild per day is exactly what
    :func:`write_corpus_artifacts`'s once-per-generation contract
    forbids).

    Appends are O(delta): the delta's artifacts are computed with the
    same construction as the writer and appended into the same bucketed
    layout (``insertInto`` keeps bucket spills correct for catalog
    tables; plain-Parquet mode appends hash-repartitioned files).
    Fingerprint duplicates across appends are harmless — the consumer
    is an anti-join (:func:`incremental_exact_dedup`'s note) — but the
    delta's fingerprints are still deduped locally to keep the table
    from accreting copies.  Pytest proves append(write(corpus), delta)
    is funnel-equivalent to write(corpus ∪ delta).

    Pass the same ``(shingle_n, num_hashes, bands, num_buckets,
    table_prefix)`` the artifacts were written with."""
    spark = accepted_delta.sparkSession
    fps = accepted_delta.select(fingerprint(text_col).alias("__fp")).distinct()
    banded = _portable_banded(
        accepted_delta, id_col, text_col, shingle_n, num_hashes, bands
    )
    specs = {
        "fingerprints": (fps, ["__fp"]),
        "banded": (banded, ["band", "bucket"]),
    }
    out: dict[str, DataFrame] = {}
    for name, (frame, keys) in specs.items():
        if table_prefix is not None:
            tbl = f"{table_prefix}_{name}"
            frame.write.mode("append").insertInto(tbl)
            out[name] = spark.table(tbl)
        else:
            path = f"{out_dir}/{name}"
            frame.repartition(num_buckets, *keys).write.mode(
                "append"
            ).parquet(path)
            out[name] = spark.read.parquet(path)
    return out


def read_corpus_artifacts(
    spark,
    out_dir: str | None = None,
    table_prefix: str | None = None,
) -> dict[str, DataFrame]:
    """Load artifacts written by :func:`write_corpus_artifacts` — catalog
    tables when ``table_prefix`` is given (bucket metadata intact, the
    zero-exchange probe side), else the Parquet directories under
    ``out_dir``."""
    if table_prefix is not None:
        return {
            "fingerprints": spark.table(f"{table_prefix}_fingerprints"),
            "banded": spark.table(f"{table_prefix}_banded"),
        }
    if out_dir is None:
        raise ValueError(
            "read_corpus_artifacts: need out_dir or table_prefix"
        )
    return {
        "fingerprints": spark.read.parquet(f"{out_dir}/fingerprints"),
        "banded": spark.read.parquet(f"{out_dir}/banded"),
    }


def simhash_verify(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Exact Hamming verification for SimHash candidate pairs:
    ``bit_count(sig_a XOR sig_b)`` — the verify step that turns banding
    candidates into confirmed near-dups (mirror of :func:`jaccard_verify`
    for the MinHash path).  Two equi-joins to attach signatures, one
    codegen bit op per pair; no text comparison."""
    sigs = simhash_signatures(df, id_col, text_col, 64, seed)
    out = (
        pairs.join(
            sigs.withColumnRenamed(id_col, "id_a").withColumnRenamed("simhash", "sig_a"),
            "id_a",
        )
        .join(
            sigs.withColumnRenamed(id_col, "id_b").withColumnRenamed("simhash", "sig_b"),
            "id_b",
        )
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
    )
    return out.where(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


def pagerank(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """PageRank over an undirected candidate-pair graph (Page et al. 1998)
    — ranks the CANONICAL document inside each near-dup neighborhood: the
    most-connected member gets the highest rank, a principled upgrade over
    the min-id survivor policy when the pipeline wants to keep the "best
    connected" exemplar, and the standard centrality signal for curation.

    Fixed ``iterations`` of power iteration (no convergence collect —
    deterministic work per run); each round is one equi-join of ranks to
    edges + one groupBy on the destination (two shuffles), with
    ``localCheckpoint`` truncating lineage so round N's plan doesn't
    embed rounds 1..N-1.  Isolated rank mass from dangling nodes doesn't
    arise: every node in a pair graph has degree ≥ 1 by construction.
    Ranks are scaled so they sum to the node count (the classic
    formulation); rank 1.0 ≈ average importance.
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("src"), F.col(id_b).cast("long").alias("dst")
    )
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    # ranks carry their node's degree, so each round is exactly two joins
    # (edges⋈ranks for contributions, ranks⋈contribs for the update) and
    # the degree aggregation runs once, not once per round
    ranks = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumn("rank", F.lit(1.0))
        .localCheckpoint()
    )
    for _ in range(iterations):
        contribs = (
            edges.join(ranks, "src")
            .select(F.col("dst").alias("src"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("src")
            .agg(F.sum("c").alias("recv"))
        )
        ranks = (
            ranks.drop("rank")
            .join(contribs, "src", "left")
            .select(
                "src",
                "deg",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("recv", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(F.col("src").alias("node"), F.round("rank", 6).alias("rank"))


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (the beyond-broadcast scale path)
# ---------------------------------------------------------------------------

def _bloom_position_cols(col, m_bits: int, k: int, seed: int):
    """The k Bloom position expressions for ``col`` — the shared build/probe
    hash contract (the two sides MUST agree bit-for-bit or the filter
    false-negatives, breaking its one guarantee): position i =
    pmod(xxhash64(value, seed+i), m)."""
    return [
        F.pmod(F.xxhash64(F.col(col), F.lit(seed + i)), F.lit(m_bits)).cast("long")
        for i in range(k)
    ]


def _bloom_word():
    return (F.col("p") / 64).cast("long")


def _bloom_bit():
    # shiftleft via expr: the F.shiftleft wrapper only takes a literal
    # shift amount, not a per-row column
    return F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))")


def bloom_bitset(
    df: DataFrame,
    col: str = "__s",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Bloom filter over a column of hashed shingles, as a DataFrame bitset:
    ``(word, bits)`` where word = position ÷ 64 and bits is the OR of
    ``1 << (position mod 64)`` for every set position.  Positions are
    ``xxhash64(value, seed+i) mod m`` for i < k.

    Pure built-in aggregation (explode k positions → groupBy(word) →
    bit_or) — no driver-side state, no UDF; the result is ≤ m/64 rows
    (m=2²⁰ → 16,384 longs = 128 KiB) regardless of input size.  That is the
    point: an eval-suite shingle set too large to broadcast exactly
    (10⁸ grams ≈ 800 MB hashed) still fits any executor as a bitset."""
    words = df.select(
        F.explode(F.array(*_bloom_position_cols(col, m_bits, k, seed))).alias("p")
    ).select(
        _bloom_word().alias("word"),
        _bloom_bit().alias("bit"),
    )
    return words.groupBy("word").agg(F.bit_or("bit").alias("bits"))


def bloom_might_contain(
    probe: DataFrame,
    bitset: DataFrame,
    col: str = "__s",
    m_bits: int = 1 << 20,
    k: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Filter ``probe`` to rows whose ``col`` value passes the Bloom filter
    (all k bits set).  The bitset is broadcast and each probe row expands to
    its k (word, bit) lookups — a map-only broadcast join + groupBy
    ALL(bit present); no shuffle on the probe side beyond the per-value
    regroup, which AQE coalesces."""
    lookups = probe.select(
        col,
        F.explode(F.array(*_bloom_position_cols(col, m_bits, k, seed))).alias("p"),
    ).select(
        col,
        _bloom_word().alias("word"),
        _bloom_bit().alias("bit"),
    )
    hit = lookups.join(F.broadcast(bitset), "word", "left").select(
        col,
        (
            F.col("bits").isNotNull() & (F.col("bits").bitwiseAND(F.col("bit")) != 0)
        ).alias(
            "__set"
        ),
    )
    passed = hit.groupBy(col).agg(
        F.min(F.col("__set").cast("int")).alias("__all_set")
    )
    return passed.filter("__all_set = 1").select(col)


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_overlap: int = 1,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """:func:`decontaminate` for benchmark sets too large to broadcast as
    exact values: the benchmark's hashed shingles compress to a Bloom
    bitset (128 KiB at m=2²⁰ — broadcastable at ANY benchmark size), train
    shingles probe it map-side, and only the surviving ~ε·N candidates pay
    the exact verification join against the true benchmark set (a
    shuffle join on the now-tiny candidate side — the exact set never
    broadcasts).  False positives are eliminated by the verify step, so the
    OUTPUT is exactly :func:`decontaminate`'s — only the plan differs; the
    driver oracle for `bloom_decontaminate` is the same SQL as the exact
    path's.
    """
    bench_sh = shingle_postings(benchmark, id_col, text_col, n).select("__s").distinct()
    bitset = bloom_bitset(bench_sh, "__s", m_bits, k)
    posts = shingle_postings(train, id_col, text_col, n)
    # candidate shingle VALUES (distinct) that pass the bloom
    cand = bloom_might_contain(
        posts.select("__s").distinct(), bitset, "__s", m_bits, k
    )
    # exact verify: candidates ∩ benchmark — both sides small now
    true_hits = cand.join(bench_sh, "__s").withColumn("__hit", F.lit(1))
    hits = posts.join(true_hits, "__s", "left")
    return hits.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long")).alias("n_overlap"),
        F.round(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("overlap_ratio"),
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)).cast("long"))
            >= F.lit(min_overlap)
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Cross-document shared-span detection (exact substring dedup, Lee et al.
# 2021 "Deduplicating Training Data Makes Language Models Better" — the
# span-level view LSH pair candidates can't give)
# ---------------------------------------------------------------------------

def positional_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    hashed: bool = True,
) -> DataFrame:
    """One row per (id, pos, shingle) with 1-based positions — the
    POSITIONAL inverted index (shingle_postings above deduplicates and
    drops positions; span detection needs both).  ``hashed`` swaps the
    shingle string for its xxhash64 — position arithmetic never looks at
    the value, so results are identical modulo 2⁻⁶⁴ collisions.

    Same two Catalyst mitigations as :func:`_shingles_from_words`: the
    split is materialized behind a projection boundary (once per doc, not
    once per shingle) and the grams come from n zipped shifted slices, not
    a per-index ``slice`` lambda — the naive form re-evaluated the regex
    split per ELEMENT (measured 8× slower at sf0.1)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # split + n zipped slices + posexplode is heavy map work: spread the
    # scan before it (§2.5; no-op on many-split inputs at scale)
    tok = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(F.col(id_col), words.alias("__w"))
        .where(F.size("__w") >= n)
    )
    n_sh = F.size("__w") - F.lit(n - 1)
    slices = [F.slice("__w", k + 1, n_sh) for k in range(n)]
    grams = F.transform(
        F.arrays_zip(*slices),
        lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
    )
    posts = (
        tok.select(F.col(id_col), F.posexplode(grams).alias("pos0", "__s"))
        .select(
            F.col(id_col), (F.col("pos0") + 1).alias("pos"), F.col("__s")
        )
    )
    if hashed:
        return posts.select(id_col, "pos", F.xxhash64("__s").alias("__s"))
    return posts


def shared_spans(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_run: int = 1,
) -> DataFrame:
    """For each candidate pair, the maximal shared verbatim token spans:
    ``(id_a, id_b, longest_run_tokens, n_spans)`` where a span is a maximal
    run of consecutive positions in BOTH documents with identical n-grams
    (gaps-and-islands on the position offset), and ``longest_run_tokens``
    counts tokens (= shingle-run length + n − 1).

    This is the verification/attribution stage of suffix-array substring
    dedup, bounded to candidate pairs (from LSH, fingerprints, or prefix
    grouping) — the all-pairs suffix array itself is the part that does not
    distribute; candidates-then-verify is how the published pipelines run
    at scale.  Shuffles: postings⋈pairs keyed by id (candidate docs only —
    the corpus is semi-join-pruned first), the n-gram equi-join, and the
    two island groupBys, all on (pair, offset)-grade keys.
    """
    pa = pairs.select(F.col("id_a"), F.col("id_b"))
    ids_a = pa.select(F.col("id_a").alias(id_col)).distinct()
    ids_b = pa.select(F.col("id_b").alias(id_col)).distinct()
    # prune the corpus to candidate docs BEFORE shingling: the semi-join
    # sits below the posexplode, so only candidate documents pay the
    # positional-index build cost (at 100 TB the candidate set from LSH is
    # orders of magnitude smaller than the corpus)
    cand = df.join(
        ids_a.union(ids_b).distinct(), id_col, "left_semi"
    )
    posts = positional_shingles(cand, id_col, text_col, n)
    posts_a = posts.join(ids_a, id_col, "left_semi").select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "__s"
    )
    posts_b = posts.join(ids_b, id_col, "left_semi").select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "__s"
    )
    m = (
        pa.join(posts_a, "id_a")
        .join(posts_b, ["id_b", "__s"])
        .select(
            "id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("off")
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_a", "id_b", "off").orderBy("pos_a")
    isl = m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    runs = isl.groupBy("id_a", "id_b", "off", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.filter(F.col("run_len") >= min_run)
        .groupBy("id_a", "id_b")
        .agg(
            (F.max("run_len") + (n - 1)).alias("longest_run_tokens"),
            F.count(F.lit(1)).alias("n_spans"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_tokens: int | None = None,
    min_occurrences: int = 2,
    hashed: bool = True,
) -> DataFrame:
    """ExactSubstr-style repeated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — public
    paper) at n-gram resolution: corpus-wide duplicated token n-grams are
    masked at every occurrence EXCEPT the canonical first (global
    lexicographic min of (doc, position)), mask positions merge into
    maximal covered runs per document, and runs of ≥ ``min_tokens``
    tokens are excised from the original token stream.  The canonical
    occurrence of every duplicated n-gram is preserved, so one copy of
    each duplicated span survives (the paper's keep-one policy); when
    DISTINCT duplicated spans overlap, the surviving copy can lose
    overlap tokens whose canonicals live elsewhere — the boundary
    behavior position-level policies share.

    The paper builds a corpus suffix array (single-machine); the
    distributed equivalent here matches at n-gram resolution — a span is
    removed iff every length-n window inside it is duplicated, so
    detected spans are duplicated-substring spans of length ≥ n with
    boundary resolution n (documented approximation).

    Shuffle profile: one shingle groupBy (stats — map-side combinable
    count/min), one join back, then per-document windows/aggregations —
    everything keyed by shingle or document, no all-pairs stage anywhere.
    Skew note for 100 TB: stop-word n-grams are classic hot keys, but the
    stats side carries exactly ONE row per shingle, so AQE's skew-join
    split handles the posts⋈stats join by replicating that single row
    across the split partitions — no salting needed.  ``hashed`` uses
    xxhash64 shingles (production — 8-byte longs through the shuffle);
    ``hashed=False`` keeps the strings (the oracle-comparable twin, same
    convention as winnow/minhash).

    Whitespace note: output tokens re-join with single spaces (matching
    is whitespace-split; original spacing inside kept runs is not
    reconstructed).  Returns (id, clean_text, n_tokens_removed,
    n_spans_removed).
    """
    from pyspark.sql.window import Window

    min_tokens = min_tokens or n
    posts = positional_shingles(df, id_col, text_col, n, hashed=hashed)
    stats = posts.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "__first"
        ),
    )
    dup_starts = (
        posts.join(stats.filter(F.col("__c") >= min_occurrences), "__s")
        .filter(
            ~(
                (F.col(id_col) == F.col("__first.d"))
                & (F.col("pos") == F.col("__first.p"))
            )
        )
        .select(id_col, "pos")
    )
    covered = dup_starts.select(
        id_col,
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("cpos"),
    ).distinct()
    w = Window.partitionBy(id_col).orderBy("cpos")
    runs = (
        covered.withColumn("grp", F.col("cpos") - F.row_number().over(w))
        .groupBy(id_col, "grp")
        .agg(F.min("cpos").alias("start"), F.max("cpos").alias("end"))
        .withColumn("span_tokens", F.col("end") - F.col("start") + 1)
        .filter(F.col("span_tokens") >= min_tokens)
    )
    drop = runs.select(
        id_col, F.explode(F.sequence("start", "end")).alias("pos")
    )
    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
            "pos0", "tok"
        ),
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "tok")
    kept = toks.join(drop, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text")
    )
    span_stats = runs.groupBy(id_col).agg(
        F.sum("span_tokens").cast("long").alias("n_tokens_removed"),
        F.count(F.lit(1)).cast("long").alias("n_spans_removed"),
    )
    return (
        df.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(span_stats, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_tokens_removed", F.lit(0)).alias("n_tokens_removed"),
            F.coalesce("n_spans_removed", F.lit(0)).alias("n_spans_removed"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    str_col: str = "s",
    max_dist: int = 1,
) -> DataFrame:
    """Approximate-string self-join: every unordered pair of rows whose
    ``str_col`` values are within Levenshtein distance ``max_dist``,
    returned as ``(id_a, id_b, dist)`` with ``id_a < id_b``.

    Candidate scheme = the PassJoin partition signature (Li, Deng, Wang &
    Feng, "PassJoin: A Partition-based Method for Similarity Joins", VLDB
    2012): split every string into ``d+1`` contiguous segments; by
    pigeonhole, any string within edit distance ``d`` must contain at
    least one of those segments VERBATIM, starting within ``±d`` of the
    segment's home position.  So the join is segments (one side) against
    position-windowed substrings (other side) — an equi-join on
    ``(source_length, segment_index, gram)``, never an all-pairs cross —
    followed by exact ``levenshtein`` verification on the deduplicated
    candidate pairs only.

    Scale shape: segments are ``d+1`` rows/string, probes ≤
    ``(2d+1)²·(d+1)`` rows/string — both linear in corpus size; the
    shuffle key includes the segment VALUE, so only strings sharing a
    verbatim segment ever meet.  Verification joins the (small) candidate
    set back to the strings.  Strings shorter than ``d+1`` cannot carry
    non-empty segments and go through a bounded short-string fallback
    (they can only match strings of length < ``2d+1``).
    """
    d = max_dist
    base = (
        ensure_parallelism(df)
        .select(F.col(id_col).alias("__id"), F.col(str_col).alias("__s"))
        .where(F.col("__s").isNotNull())
        .select("__id", "__s", F.length("__s").alias("__l"))
    )
    # segment layout for a string of length l: q = l div (d+1) and
    # r = l % (d+1); the first (d+1-r) segments have length q, the rest
    # q+1.  pos_i = 1 + i*q + max(0, i - (d+1 - r))  (1-based).
    def _seg_len(length: str) -> str:
        return (
            f"(({length} DIV {d + 1}) + (CASE WHEN i >= "
            f"({d + 1} - ({length} % {d + 1})) THEN 1 ELSE 0 END))"
        )

    def _seg_pos(length: str) -> str:
        return (
            f"(1 + i * ({length} DIV {d + 1}) + greatest(0, i - "
            f"({d + 1} - ({length} % {d + 1}))))"
        )

    segs = base.where(F.col("__l") >= d + 1).select(
        F.col("__id").alias("id_a"),
        F.col("__l").alias("src"),
        F.expr(
            f"explode(transform(sequence(0, {d}), i -> "
            f"struct(i AS i, substring(__s, {_seg_pos('__l')}, "
            f"{_seg_len('__l')}) AS g)))"
        ).alias("p"),
    ).select("id_a", "src", F.col("p.i").alias("i"), F.col("p.g").alias("g"))
    seg_len, seg_pos = _seg_len("src"), _seg_pos("src")

    # probe side: for every plausible partner length src ∈ [l-d, l+d]
    # (src ≥ d+1), every segment index, every start within ±d of the
    # segment's home position (clamped to the valid substring range)
    probe_expr = (
        f"flatten(transform(sequence(greatest({d + 1}, __l - {d}), __l + {d}), src -> "
        f"flatten(transform(sequence(0, {d}), i -> "
        f"  CASE WHEN greatest(1, {seg_pos} - {d}) <= least(__l - {seg_len} + 1, {seg_pos} + {d}) "
        f"  THEN transform(sequence(greatest(1, {seg_pos} - {d}), "
        f"                          least(__l - {seg_len} + 1, {seg_pos} + {d})), st -> "
        f"       struct(src AS src, i AS i, substring(__s, st, {seg_len}) AS g)) "
        f"  ELSE array() END))))"
    )
    probes = base.select(
        F.col("__id").alias("id_b"),
        F.explode(F.expr(probe_expr)).alias("p"),
    ).select(
        "id_b", F.col("p.src").alias("src"), F.col("p.i").alias("i"),
        F.col("p.g").alias("g"),
    )

    cand = (
        segs.join(probes, ["src", "i", "g"])
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )

    # short-string fallback: a string with l < d+1 can only be within
    # distance d of strings with l < 2d+1 — a tiny, length-bounded set
    shorts = base.where(F.col("__l") < d + 1).withColumn("__k", F.lit(1))
    near_short = base.where(F.col("__l") < 2 * d + 1).withColumn("__k", F.lit(1))
    cand_short = (
        shorts.select("__k", F.col("__id").alias("id_a"))
        .join(near_short.select("__k", F.col("__id").alias("id_b")), "__k")
        .where(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )

    sa = base.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    sb = base.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    return (
        cand.union(cand_short)
        .distinct()
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("dist", F.levenshtein("__sa", "__sb"))
        .where(F.col("dist") <= d)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


def exact_dedup_by_policy(
    df: DataFrame,
    key: Column | str = "text",
    policy: str = "min_id",
    id_col: str = "doc_id",
    score_col: str | None = None,
) -> DataFrame:
    """Exact dedup with an explicit SURVIVORSHIP POLICY — production corpus
    pipelines rarely keep an arbitrary row per duplicate group:

    * ``min_id``      — deterministic canonical (exact_dedup_canonical)
    * ``max_score``   — keep the highest-``score_col`` duplicate (quality
                        scorer output; id-ascending tiebreak)
    * ``longest``     — keep the longest text (the usual pick when dups are
                        truncations of each other; id-ascending tiebreak)

    Same scale shape for every policy: ONE hash aggregation on the
    fingerprint carrying an (ordering-key, id) struct per group — max_by
    over a struct, no window function, no second scan.  Returns
    ``(id, dup_count)`` of the survivors.
    """
    k = fingerprint(key) if isinstance(key, str) else key
    with_fp = df.withColumn("__fp", k)
    neg_id = -F.col(id_col)  # id-ASCENDING tiebreak inside a max_by
    if policy == "min_id":
        order = F.struct(neg_id.alias("o1"), neg_id.alias("o2"))
    elif policy == "max_score":
        if not score_col:
            raise ValueError("max_score policy needs score_col")
        order = F.struct(F.col(score_col).alias("o1"), neg_id.alias("o2"))
    elif policy == "longest":
        key_col = key if isinstance(key, str) else "text"
        order = F.struct(F.length(F.col(key_col)).alias("o1"), neg_id.alias("o2"))
    else:
        raise ValueError(f"unknown survivorship policy: {policy}")
    return (
        with_fp.groupBy("__fp")
        .agg(
            F.max_by(F.col(id_col), order).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("__fp")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """Paragraph-granular exact dedup with document reassembly — the
    CCNet/Gopher pipeline pass that removes boilerplate paragraphs
    REPEATED ACROSS the corpus (nav bars, license blocks, cookie notices)
    while keeping each document's unique content intact (Wenzek et al.
    2020 §3.1 dedups CommonCrawl at paragraph level before anything else).

    Rule: a paragraph survives only in its FIRST corpus-wide occurrence
    (ordered by (doc_id, position)); later exact repeats (normalized:
    trimmed, lowercased, whitespace-collapsed) are dropped, and every
    document is reassembled from its surviving paragraphs in original
    order.

    Plan shape: posexplode (map-side), one row_number window keyed by the
    paragraph fingerprint (shuffle ∝ paragraphs, state O(1) per
    fingerprint), one per-doc groupBy to reassemble — two shuffles total,
    both on high-cardinality keys.  No driver materialization.

    Returns ``(id, n_paragraphs, n_kept, text)``.

    ``sep`` is a REGEX for Spark's ``split`` (fine for the default
    newline); regex metacharacters in a literal separator must be escaped
    by the caller, and reassembly joins with the raw ``sep`` string — use
    plain separators.
    """
    from pyspark.sql.window import Window

    # NO ensure_parallelism here (examined r12 and rejected): one split +
    # one md5 per paragraph is light map work and the extra round-robin
    # exchange measurably loses (0.73→1.00 s interleaved A/B at sf0.1)
    segs = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "seg")
    )
    fp = F.md5(F.regexp_replace(F.trim(F.lower(F.col("seg"))), r"\s+", " "))
    w = Window.partitionBy(fp).orderBy(F.col(id_col).asc(), F.col("pos").asc())
    ranked = segs.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_paragraphs"),
            F.sum((F.col("__rn") == 1).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("pos"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s.getField("seg"),
                ),
                sep,
            ).alias("text"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    plagiarism-detection algorithm; public paper): hash every character
    k-gram of the normalized text, then keep the minimum of each sliding
    window of ``w`` consecutive hashes.  GUARANTEE (the paper's point):
    any substring match of length ≥ w + k − 1 between two documents
    contributes at least one SHARED fingerprint — unlike MinHash, which
    bounds whole-document resemblance, winnowing detects local overlap.

    Hash primitive is md5 hex with lexicographic window-min — the
    portable-oracle convention (see minhash_signatures_portable), so the
    whole pipeline is differentially testable in DuckDB.  Density: ~2/(w+1)
    of positions are selected, the paper's bound.

    Plan: the k-gram hashes AND the window minima are both built from
    ZIPPED SHIFTED SLICES (the _shingles_from_words shape): the source
    array is referenced a constant k (resp. w) times per ROW, never
    inside a per-element lambda capture — Catalyst's CollapseProject
    would otherwise inline the text normalization into the lambda and
    re-evaluate it once per character, O(n²) per document (measured:
    minutes instead of seconds on the 500-doc fixture).  No shuffle at
    all until the caller aggregates.  Returns (id, fps array<string>).
    """
    if hash_fn == "md5":
        _gram_hash = F.md5  # the portable-oracle convention
    elif hash_fn == "xx":
        # production primitive: xxhash64 longs — ~4× the md5 throughput
        # and 8-byte shuffle keys; selects DIFFERENT window minima than
        # md5 (hash order differs), same density and the same local-
        # match guarantee (the guarantee is hash-agnostic)
        def _gram_hash(c):
            return F.xxhash64(c)
    else:
        raise ValueError(f"winnow_fingerprints: hash_fn={hash_fn!r}")
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    # the gram hashing below is the costliest per-row map work in the
    # module (one md5/xxhash64 per character position); a single-row-group
    # parquet input would serialize it all on one scan task (§2.5 input
    # parallelism — the GEMM/shingle_sets precedent).  Project to the two
    # needed columns BEFORE the round-robin exchange so only (id, text)
    # bytes move; no-op at scale (never repartitions down).
    d = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.split(norm, "").alias("__c")
    )
    n_gr = F.greatest(F.size("__c") - F.lit(k - 1), F.lit(0))
    g_slices = [
        F.slice(F.col("__c"), i + 1, F.greatest(n_gr, F.lit(1)))
        for i in range(k)
    ]
    grams = F.filter(
        F.transform(
            F.arrays_zip(*g_slices),
            lambda s: _gram_hash(
                F.concat(*[s[str(i)] for i in range(k)])
            ),
        ),
        lambda x: x.isNotNull(),  # zip-padding rows (doc shorter than k)
    )
    h = d.select(F.col(id_col), grams.alias("__h"))
    n_win = F.greatest(F.size("__h") - F.lit(w - 1), F.lit(0))
    w_slices = [
        F.slice(F.col("__h"), j + 1, F.greatest(n_win, F.lit(1)))
        for j in range(w)
    ]
    mins = F.transform(
        F.arrays_zip(*w_slices),
        lambda s: F.least(*[s[str(j)] for j in range(w)]),
    )
    # least() ignores NULL zip padding, so a doc with 1..w-1 grams still
    # yields one fingerprint (the min of what exists)
    # empty-doc fallback is an empty slice OF THE SAME TYPE (md5 path is
    # array<string>, xx path array<bigint>)
    fps = F.array_distinct(
        F.when(F.size("__h") > 0, mins).otherwise(F.slice(mins, 1, 0))
    )
    return h.select(F.col(id_col), fps.alias("fps"))


def winnow_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    max_bucket_size: int | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate pairs sharing any winnowing fingerprint — the inverted-
    index shape shared with MinHash/SimHash banding (:func:`_bucket_pairs`:
    one groupBy on the fingerprint, singleton posts dropped pre-pair,
    hot-fingerprint cap for boilerplate)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w, hash_fn)
    posted = fps.select(
        F.col(id_col),
        F.lit(0).alias("band"),
        F.explode("fps").alias("bucket"),
    )
    return _bucket_pairs(posted, id_col, max_bucket_size)
