"""Text-analysis and dedup tests (EXT E1/E2/E4) — property-style invariants
per SURVEY §5.2(4): dedup output ⊆ input, planted dups always caught."""

import pytest
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators import dedup as D
from clickhouse_flatfile_tool_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"]


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", X.fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup_subset_and_planted(spark, docs):
    # plant an exact duplicate of doc 0 with a new id
    dup = docs.filter("doc_id = 0").withColumn("doc_id", F.lit(999_999))
    with_dup = docs.unionByName(dup)
    out = D.exact_dedup_canonical(with_dup)
    assert out.count() == docs.select(X.fingerprint("text")).distinct().count()
    # the planted dup collapsed into doc 0's group
    assert out.filter("doc_id = 0").first().dup_count >= 2
    assert out.filter("doc_id = 999999").count() == 0  # min-id survivor policy


def test_token_count_matches_python(docs):
    sample = docs.select("doc_id", "text", X.token_count("text").alias("n")).limit(50).collect()
    for r in sample:
        assert r.n == len(r.text.split())


def test_quality_score_bounded(docs):
    scores = X.with_quality_score(docs).select("quality_score").collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in scores)


def test_lang_id_marker_sentences(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze das haus"),
            (3, "le chat et la maison les arbres des"),
            (4, "好"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.lang_pred for r in X.with_lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "zh"


def test_minhash_catches_planted_near_dup(spark, docs):
    # near-dup: copy doc 0's text with one word changed
    base = docs.filter("doc_id = 0").first().text
    words = base.split()
    words[len(words) // 2] = "XXREPLACEDXX"
    near = spark.createDataFrame(
        [(999_999, " ".join(words), "en", "synthetic", len(base))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with_near = docs.unionByName(near)
    cands = D.minhash_lsh_candidates(with_near)
    assert cands.filter("id_a = 0 AND id_b = 999999").count() == 1
    # dedup drops the higher id, keeps the original
    # one changed word in a ~20-word doc alters 3 shingles → jaccard ≈ 0.7
    survivors = D.minhash_dedup(with_near, jaccard_threshold=0.6)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    assert 0 in ids and 999_999 not in ids


def test_dedup_output_subset(docs):
    survivors = D.minhash_dedup(docs)
    assert survivors.count() <= docs.count()
    # survivors ⊆ input ids
    assert survivors.join(docs, "doc_id", "left_anti").count() == 0


def test_jaccard_verify_self_pair(spark, docs):
    pairs = spark.createDataFrame([(0, 0)], ["id_a", "id_b"])
    out = D.jaccard_verify(docs, pairs).first()
    assert out.jaccard == 1.0


def test_simhash_near_dup_close(spark, docs):
    sigs = D.simhash_signatures(docs.limit(20))
    assert sigs.count() == 20
    # identical text → identical signature
    two = spark.createDataFrame([(1, "a b c d e f g"), (2, "a b c d e f g")], ["doc_id", "text"])
    s = [r.simhash for r in D.simhash_signatures(two).collect()]
    assert s[0] == s[1]


def test_rolling_fingerprint_normalization(spark):
    from clickhouse_flatfile_tool_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [
            (1, "Hello  World foo"),
            (2, "hello world FOO"),    # case/whitespace-insensitive dup of 1
            (3, "foo hello world"),    # same words, different order — NOT a dup
            (4, "hello world bar"),
        ],
        "id long, text string",
    )
    fp = {r.id: r.f for r in df.select("id", rolling_fingerprint("text").alias("f")).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]  # order-sensitive
    assert fp[1] != fp[4]


def test_redact_pii_scrubs_and_counts(spark):
    from clickhouse_flatfile_tool_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b@x.co or call +1 (555) 123-4567 now"),
            (2, "no pii here"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_pii"] == 2
    assert "<EMAIL>" in out[1]["redacted"] and "<PHONE>" in out[1]["redacted"]
    assert "a.b@x.co" not in out[1]["redacted"]
    assert out[2]["n_pii"] == 0 and out[2]["redacted"] == "no pii here"


def test_chunk_text_overlap_reconstructs(spark):
    from clickhouse_flatfile_tool_spark.operators.text import chunk_text

    txt = "abcdefghij" * 10  # 100 chars
    df = spark.createDataFrame([(1, txt), (2, ""), (3, "short")], "id long, text string")
    rows = chunk_text(df, chunk_size=40, overlap=10).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], {})[r["chunk_id"]] = r["chunk"]
    # empty text yields no chunks; short text yields exactly one
    assert 2 not in by_id and list(by_id[3]) == [0] and by_id[3][0] == "short"
    # stride 30: chunks at 0,30,60,90 → 4 chunks; consecutive chunks share
    # the 10-char overlap; concatenating stride prefixes + last chunk
    # reconstructs the document
    chunks = [by_id[1][i] for i in sorted(by_id[1])]
    assert len(chunks) == 4
    for a, b in zip(chunks, chunks[1:]):
        assert a[30:40] == b[:10]
    assert "".join(c[:30] for c in chunks[:-1]) + chunks[-1] == txt


def test_hash_split_deterministic_and_disjoint(spark):
    from clickhouse_flatfile_tool_spark.operators.sampling import hash_split

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = hash_split(df, "doc_id").groupBy("split").count().collect()
    b = hash_split(df, "doc_id").groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = dict(map(tuple, a))
    frac = counts["train"] / 2000
    assert 0.75 < frac < 0.85, frac  # 'cc'/256 ≈ 0.797


def test_stratified_sample_rates(spark, tables):
    from clickhouse_flatfile_tool_spark.operators.sampling import stratified_sample

    docs = tables["documents"]
    fr = {"en": 0.5, "de": 0.1}
    got = stratified_sample(docs, "lang", fr)
    n_en = docs.filter("lang = 'en'").count()
    got_en = got.filter("lang = 'en'").count()
    assert got.filter("lang NOT IN ('en','de')").count() == 0
    assert abs(got_en / max(n_en, 1) - 0.5) < 0.2
    # seeded → reproducible
    again = stratified_sample(docs, "lang", fr)
    assert got.count() == again.count()


def test_minhash_portable_catches_planted_near_dup(spark, docs):
    base = docs.filter("doc_id = 0").first().text
    words = base.split()
    words[len(words) // 2] = "XXREPLACEDXX"
    near = spark.createDataFrame(
        [(999_999, " ".join(words), "en", "synthetic", len(base))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with_near = docs.unionByName(near)
    cands = D.minhash_lsh_candidates_portable(with_near)
    assert cands.filter("id_a = 0 AND id_b = 999999").count() == 1


def test_simhash_verify_hamming(spark, docs):
    base = docs.filter("doc_id = 0").first().text
    words = base.split()
    words[len(words) // 2] = "XXREPLACEDXX"
    near = spark.createDataFrame(
        [(999_999, " ".join(words), "en", "synthetic", len(base))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    with_near = docs.unionByName(near)
    pairs = spark.createDataFrame([(0, 999_999)], "id_a long, id_b long")
    got = D.simhash_verify(with_near, pairs, max_hamming=8)
    row = got.filter("id_a = 0 AND id_b = 999999").first()
    assert row is not None and row["hamming"] <= 8
    # an unrelated pair has a large distance and is filtered out
    far = spark.createDataFrame([(0, 400)], "id_a long, id_b long")
    assert D.simhash_verify(with_near, far, max_hamming=8).count() == 0


def test_pack_sequences_properties(tables):
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators.text import pack_sequences, token_count

    docs = tables["documents"]
    packed = pack_sequences(docs, budget_tokens=512)
    rows = packed.collect()
    assert len(rows) == docs.count()          # every doc assigned exactly once
    assert all(r.pack_seq >= 0 for r in rows)
    # within a (bucket, pack) the token mass is ≤ budget + the boundary doc
    # (concat-and-chunk semantics: only the straddling doc overflows)
    stats = (
        packed.groupBy("bucket", "pack_seq")
        .agg(F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx"))
        .collect()
    )
    assert all(r.tot <= 512 + r.mx for r in stats)
    # deterministic: a second evaluation is identical
    again = {(r.doc_id): (r.bucket, r.pack_seq) for r in pack_sequences(docs, budget_tokens=512).collect()}
    assert all(again[r.doc_id] == (r.bucket, r.pack_seq) for r in rows)


def test_hash_stratified_sample_rates_and_determinism(tables):
    from clickhouse_flatfile_tool_spark.operators.sampling import hash_stratified_sample

    docs = tables["documents"]
    out = hash_stratified_sample(
        docs, "lang", "doc_id", {"en": 1.0, "de": 0.25}, default_fraction=0.10
    )
    base = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    got = {r.lang: r.n for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert got["en"] == base["en"]                      # fraction 1.0 keeps all
    if "de" in base:
        assert 0.10 <= got.get("de", 0) / base["de"] <= 0.45   # ~25% of a small stratum
    other = [l for l in base if l not in ("en", "de")]
    kept_other = sum(got.get(l, 0) for l in other)
    tot_other = sum(base[l] for l in other)
    if tot_other:
        assert kept_other / tot_other <= 0.25                  # ~10%
    # deterministic subset: same ids every evaluation
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {r.doc_id for r in hash_stratified_sample(
        docs, "lang", "doc_id", {"en": 1.0, "de": 0.25}, default_fraction=0.10
    ).select("doc_id").collect()}
    assert ids1 == ids2


def test_deterministic_reservoir_exact_k(tables):
    from clickhouse_flatfile_tool_spark.operators.sampling import deterministic_reservoir

    docs = tables["documents"]
    out = deterministic_reservoir(docs, ["lang"], "doc_id", 7)
    sizes = {r.lang: r.n for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    base = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    for lang, n in sizes.items():
        assert n == min(7, base[lang])
    # deterministic across evaluations
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in deterministic_reservoir(docs, ["lang"], "doc_id", 7).collect()}
    assert a == b


def test_hot_bucket_cap_skips_oversized(spark):
    """max_bucket_size drops buckets above the cap (the hot-bucket guard);
    a corpus of one identical doc family collapses into one bucket that the
    cap suppresses, while distinct pairs below the cap survive."""
    from clickhouse_flatfile_tool_spark.operators.dedup import minhash_lsh_candidates

    rows = [(i, "the same boilerplate text repeated verbatim many times") for i in range(10)]
    rows += [(100, "a unique document about gardens"), (101, "a unique document about gardens!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = minhash_lsh_candidates(df)
    assert uncapped.count() >= 45  # 10-doc clique alone is 45 pairs
    capped = minhash_lsh_candidates(df, max_bucket_size=5)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert (100, 101) in got          # small bucket survives
    assert all(a >= 100 for a, _ in got)  # the 10-doc clique is suppressed


def test_incremental_lsh_finds_cross_corpus_near_dup(tables, spark):
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators.dedup import (
        incremental_lsh_candidates_portable,
    )

    docs = tables["documents"]
    corpus = docs.where("doc_id % 2 = 0")
    # batch: odd ids plus an exact copy of corpus doc 0 under a new id
    clone = docs.where("doc_id = 0").withColumn("doc_id", F.lit(999_999).cast("long"))
    batch = docs.where("doc_id % 2 = 1").unionByName(clone)
    cands = incremental_lsh_candidates_portable(batch, corpus)
    got = {(r.new_id, r.corpus_id) for r in cands.collect()}
    assert (999_999, 0) in got
    # never pairs corpus with corpus or batch with batch
    assert all(n % 2 == 1 or n == 999_999 for n, _ in got)
    assert all(c % 2 == 0 for _, c in got)


def test_gopher_rules_flags_and_conjunction(spark):
    rows = [
        (1, "the quick brown fox and a dog ran of to them today " * 3),  # passes all
        (2, "hi"),                                                        # too few words
        (3, "a " + "!!! ??? ;;; " * 20),                                  # symbol soup
        (4, "the of a to and " + " ".join(["12345"] * 40)),               # low alpha ratio
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in X.gopher_quality_rules(df).collect()}
    assert out[1].gopher_pass
    assert not out[2].r_word_count and not out[2].gopher_pass
    assert not out[3].r_symbol_ratio and not out[3].gopher_pass
    assert not out[4].r_alpha_ratio and not out[4].gopher_pass
    # conjunction == AND of all rule columns, every row
    for r in out.values():
        assert r.gopher_pass == (
            r.r_word_count and r.r_mean_word_len and r.r_symbol_ratio
            and r.r_alpha_ratio and r.r_stopwords
        )


def test_boilerplate_ngrams_planted_template(spark, docs):
    # plant the same 6-word template into 10 docs -> its 4 trigrams must be
    # flagged as boilerplate in every planted doc at min_docs=10
    template = "zqx wvu tsr qpo nml kji"
    planted = docs.filter("doc_id < 10").withColumn(
        "text", F.concat(F.lit(template + " "), F.col("text"))
    )
    rest = docs.filter("doc_id >= 10")
    out = D.boilerplate_ngrams(planted.unionByName(rest), min_docs=10)
    flagged = {r.doc_id: r for r in out.filter("doc_id < 10").collect()}
    assert len(flagged) == 10
    for r in flagged.values():
        assert r.n_boilerplate >= 4, r
        assert 0.0 < r.boilerplate_ratio <= 1.0
    # every doc accounted for, shingle counts positive
    assert out.count() == docs.count()
    assert out.filter("n_shingles <= 0").count() == 0


def test_decontaminate_planted_overlap(spark, docs):
    # benchmark = doc 0; train = a doc repeating doc 0's text (contaminated)
    # plus a doc of unseen words (clean)
    bench = docs.filter("doc_id = 0").select("doc_id", "text")
    contaminated = docs.filter("doc_id = 0").select(
        F.lit(101).cast("long").alias("doc_id"), "text"
    )
    clean = spark.createDataFrame(
        [(102, "zzz yyy xxx www vvv uuu ttt sss")], ["doc_id", "text"]
    )
    train = contaminated.unionByName(clean)
    out = {r.doc_id: r for r in D.decontaminate(train, bench).collect()}
    assert out[101].contaminated and out[101].n_overlap == out[101].n_shingles
    assert not out[102].contaminated and out[102].n_overlap == 0
    assert abs(out[101].overlap_ratio - 1.0) < 1e-9


def test_bigram_surprisal_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "x")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in X.bigram_surprisal(df).collect()}
    # corpus bigram counts: "a b":2, "b a":1, "a c":1; heads: a:3, b:1
    # doc 1: (-ln(2/3) + -ln(1/1) + -ln(2/3)) / 3
    assert math.isclose(
        out[1].mean_surprisal, round((2 * -math.log(2 / 3)) / 3, 6), abs_tol=1e-6
    )
    assert out[1].n_bigrams == 3
    # doc 2: -ln(1/3)
    assert math.isclose(out[2].mean_surprisal, round(-math.log(1 / 3), 6), abs_tol=1e-6)
    # doc 3 has <2 tokens -> excluded
    assert 3 not in out


def test_temperature_mixture_weights_properties(tables):
    from clickhouse_flatfile_tool_spark.operators.sampling import (
        temperature_mixture_weights,
    )

    docs = tables["documents"]
    # alpha=1 -> proportional to token counts; alpha=0 -> uniform
    prop = {r.lang: r for r in temperature_mixture_weights(docs, alpha=1.0).collect()}
    unif = {r.lang: r for r in temperature_mixture_weights(docs, alpha=0.0).collect()}
    tot_tokens = sum(r.n_tokens for r in prop.values())
    for lang, r in prop.items():
        assert abs(r.sample_prob - r.n_tokens / tot_tokens) < 1e-5
    for r in unif.values():
        assert abs(r.sample_prob - 1.0 / len(unif)) < 1e-5
    assert abs(sum(r.sample_prob for r in prop.values()) - 1.0) < 1e-4
    # alpha=0.5 boosts the smallest group relative to proportional
    half = {r.lang: r for r in temperature_mixture_weights(docs, alpha=0.5).collect()}
    smallest = min(prop.values(), key=lambda r: r.n_tokens).lang
    assert half[smallest].sample_prob > prop[smallest].sample_prob


def test_token_budget_trim_respects_budget(tables, spark):
    from clickhouse_flatfile_tool_spark.operators.sampling import token_budget_trim

    docs = tables["documents"]
    out = token_budget_trim(docs, token_budget=5000)
    kept = out.select(
        "lang", F.size(F.split(F.trim("text"), r"\s+")).alias("nt")
    ).groupBy("lang").agg(F.sum("nt").alias("tot"))
    for r in kept.collect():
        assert r.tot <= 5000, r
    # deterministic: same input -> same kept set
    ids1 = {r.doc_id for r in out.select("doc_id").collect()}
    ids2 = {
        r.doc_id
        for r in token_budget_trim(docs, token_budget=5000).select("doc_id").collect()
    }
    assert ids1 == ids2 and len(ids1) > 0


def test_char_entropy_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in X.char_entropy(df).collect()}
    assert out[1].char_entropy == 0.0                       # single symbol
    assert math.isclose(out[2].char_entropy, round(math.log(2), 6), abs_tol=1e-6)
    assert math.isclose(out[3].char_entropy, round(math.log(4), 6), abs_tol=1e-6)
    assert out[3].n_chars_counted == 4


def test_pipeline_curation_stage_composition(tables, spark, sf_dir):
    """Each stage of the curation pipeline only removes documents, the
    final set respects every gate, and the budget holds per language."""
    import __spark_entry__ as e  # conftest puts the repo root on sys.path

    docs = tables["documents"]
    out = e.q_pipeline_curation(spark, sf_dir)
    rows = out.collect()
    kept = {r.doc_id for r in rows}
    assert len(kept) > 0
    train_ids = {r.doc_id for r in docs.filter("doc_id % 20 != 0").select("doc_id").collect()}
    assert kept <= train_ids
    # budget per language holds on the kept set
    kept_docs = docs.filter(docs.doc_id.isin(list(kept)))
    from pyspark.sql import functions as FF
    tot = kept_docs.groupBy("lang").agg(
        FF.sum(FF.size(FF.split(FF.trim("text"), r"\s+"))).alias("t")
    )
    assert all(r.t <= 6000 for r in tot.collect())


def test_bpe_train_hand_computed(spark):
    # corpus: 'aaab' x2, 'ab' x1
    # iter 1: (a,a) weight 4 beats (a,b) 3 -> merge 'aa'; aaab -> [aa,a,b]
    # iter 2: (a,b) 3 beats (aa,a) 2 -> merge 'ab';      aaab -> [aa,ab]
    # iter 3: (aa,ab) 2 -> merge 'aaab'; then no pair reaches count 2 -> stop
    df = spark.createDataFrame([(1, "aaab aaab ab")], ["doc_id", "text"])
    got = [(r.rank, r.left, r.right, r.pair_count) for r in X.bpe_train(df, num_merges=10).collect()]
    assert got == [(0, "a", "a", 4), (1, "a", "b", 3), (2, "aa", "ab", 2)]


def test_bpe_train_greedy_no_overlap(spark):
    # 'aaa': greedy left-to-right merges ONE (a,a) pair per word pass
    # (positions 0-1), never the overlapping 1-2 pair
    df = spark.createDataFrame([(1, "aaa aaa")], ["doc_id", "text"])
    got = [(r.left, r.right, r.pair_count) for r in X.bpe_train(df, num_merges=2).collect()]
    # pair (a,a) appears twice per 'aaa' (overlapping) -> weighted count 4
    assert got[0] == ("a", "a", 4)
    # after merging, each word is [aa, a] -> next merge is (aa, a) count 2
    assert got[1] == ("aa", "a", 2)


def test_bpe_tokenize_applies_learned_merges(spark):
    df = spark.createDataFrame([(1, "aaab aaab ab")], ["doc_id", "text"])
    merges = X.bpe_train(df, num_merges=10)
    out = X.bpe_tokenize(
        spark.createDataFrame(
            [(1, "aaab"), (2, "aab"), (3, "ba xyz")], ["doc_id", "text"]
        ),
        merges,
    )
    got = {r.doc_id: r.bpe_tokens for r in out.collect()}
    # 'aaab' fully merges via (a,a)->(a,b)->(aa,ab); 'aab' stops at [aa, b]
    assert got[1] == ["aaab"]
    assert got[2] == ["aa", "b"]
    # unseen symbols stay as characters; word boundary respected
    assert got[3] == ["b", "a", "x", "y", "z"]


def test_cms_estimate_never_undercounts(tables, spark):
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators import relational as R

    docs = tables["documents"]
    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    exact = {r.w: r.cnt for r in words.groupBy("w").agg(F.count("*").alias("cnt")).collect()}
    sketch = R.cms_table(words, "w", depth=4, hex_chars=2)
    qs = words.select("w").distinct().limit(50)
    est = {r.item: r.est for r in R.cms_estimate(sketch, qs, "w").collect()}
    n = sum(exact.values())
    for item, e in est.items():
        assert e >= exact[item], f"CMS undercounted {item}"
        # soft sanity: overcount bounded by ~4·e/width·n (far looser than the
        # w.h.p. bound; catches broken bucketing, not tail luck)
        assert e - exact[item] <= 4 * 2.718 * n / 256


def test_cms_is_mergeable(tables, spark):
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators import relational as R

    docs = tables["documents"]
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
    )
    a, b = words.filter("doc_id % 2 = 0"), words.filter("doc_id % 2 = 1")
    whole = {
        (r.d, r.bucket): r.cnt for r in R.cms_table(words, "w").collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in R.cms_table(part, "w").collect():
            merged[(r.d, r.bucket)] = merged.get((r.d, r.bucket), 0) + r.cnt
    assert merged == whole


def test_bloom_no_false_negatives_and_fp_rate(spark):
    from pyspark.sql import functions as F

    members = spark.range(0, 2000).select(F.xxhash64("id").alias("__s"))
    others = spark.range(10_000, 30_000).select(F.xxhash64("id").alias("__s"))
    bits = D.bloom_bitset(members, m_bits=1 << 16, k=4)
    passed_members = D.bloom_might_contain(members, bits, m_bits=1 << 16, k=4).count()
    assert passed_members == 2000  # Bloom filters never false-negative
    fp = D.bloom_might_contain(others, bits, m_bits=1 << 16, k=4).count()
    # m/n = 32.8 bits/elem, k=4 → theoretical fp ≈ 0.24%; assert a loose 2%
    assert fp / 20_000 < 0.02, f"false-positive rate too high: {fp / 20_000}"


def test_bloom_decontaminate_equals_exact(tables, spark):
    docs = tables["documents"]
    train = docs.filter("doc_id >= 20")
    bench = docs.filter("doc_id < 20").selectExpr("doc_id + 100000 AS doc_id", "text")
    exact = {
        r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated)
        for r in D.decontaminate(train, bench).collect()
    }
    bloom = {
        r.doc_id: (r.n_shingles, r.n_overlap, r.contaminated)
        for r in D.bloom_decontaminate(train, bench).collect()
    }
    assert bloom == exact  # verify step removes every false positive


def test_shared_spans_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # pair (1,2): one shared 5-token span + one shared 3-token span
            (1, "aa bb s1 s2 s3 s4 s5 cc dd q1 q2 q3 ee"),
            (2, "zz s1 s2 s3 s4 s5 yy q1 q2 q3 xx ww vv"),
            # pair (3,4): no shared trigram at all
            (3, "one two three four five six"),
            (4, "seven eight nine ten eleven twelve"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    out = {
        (r.id_a, r.id_b): (r.longest_run_tokens, r.n_spans)
        for r in D.shared_spans(docs, pairs).collect()
    }
    # 5-token span = 3 consecutive trigrams → 3 + (3-1) = 5; the 3-token
    # span is a single trigram → island of 1.  Pair (3,4) has no match row.
    assert out == {(1, 2): (5, 2)}


def test_shared_spans_hashed_equals_string(spark, docs):
    sub = docs.filter("doc_id < 40")
    pairs = (
        sub.alias("a")
        .join(sub.alias("b"), F.expr("substring(a.text,1,60) = substring(b.text,1,60) AND a.doc_id < b.doc_id"))
        .selectExpr("a.doc_id AS id_a", "b.doc_id AS id_b")
    )
    hashed = {
        (r.id_a, r.id_b): (r.longest_run_tokens, r.n_spans)
        for r in D.shared_spans(docs, pairs).collect()
    }
    # string-keyed variant must agree (hash collisions are 2^-64)
    from clickhouse_flatfile_tool_spark.operators import dedup as DD

    posts = DD.positional_shingles(docs, hashed=False)
    assert posts.schema["__s"].dataType.typeName() == "string"
    # monkey-free check: recompute via a one-off copy using strings
    import types

    def shared_spans_str(df, pairs):
        import clickhouse_flatfile_tool_spark.operators.dedup as M

        orig = M.positional_shingles
        try:
            M.positional_shingles = lambda *a, **k: orig(*a, **{**k, "hashed": False})
            return M.shared_spans(df, pairs)
        finally:
            M.positional_shingles = orig

    stringy = {
        (r.id_a, r.id_b): (r.longest_run_tokens, r.n_spans)
        for r in shared_spans_str(docs, pairs).collect()
    }
    assert hashed == stringy and len(hashed) > 0


def test_normalize_text_composes_and_strips(spark):
    from clickhouse_flatfile_tool_spark.operators.text import normalize_text

    decomposed = "Café Ångström"
    composed = "Café Ångström"
    df = spark.createDataFrame([(1, decomposed), (2, composed), (3, None)], "id long, text string")
    out = {r.id: (r.nfc, r.plain) for r in
           normalize_text(
               normalize_text(df, out_col="nfc"),
               out_col="plain", strip_accents=True, lowercase=True,
           ).collect()}
    # NFC makes composed and decomposed identical
    assert out[1][0] == out[2][0] == composed
    # accent-strip + lowercase gives the dedup-ready key
    assert out[1][1] == out[2][1] == "cafe angstrom"
    assert out[3] == (None, None)


def test_dedup_policy_survivors(spark):
    df = spark.createDataFrame(
        [
            (1, "hello  world", 0.2),   # same fingerprint as 2,3 (ws/case)
            (2, "Hello World", 0.9),
            (3, "hello world extra", 0.5),  # different group
            (4, "HELLO   WORLD", 0.4),
        ],
        "doc_id long, text string, score double",
    )
    longest = {r.doc_id: r.dup_count for r in
               D.exact_dedup_by_policy(df, policy="longest").collect()}
    # group {1,2,4}: '"HELLO   WORLD"' is longest (13 chars vs 12/11)
    assert longest == {4: 3, 3: 1}
    best = {r.doc_id: r.dup_count for r in
            D.exact_dedup_by_policy(df, policy="max_score", score_col="score").collect()}
    assert best == {2: 3, 3: 1}
    min_id = {r.doc_id: r.dup_count for r in
              D.exact_dedup_by_policy(df, policy="min_id").collect()}
    assert min_id == {1: 3, 3: 1}


def test_canonical_url_normalizes(spark):
    from clickhouse_flatfile_tool_spark.operators.text import canonical_url

    cases = [
        # tracking params dropped, params sorted, www/fragment/trailing-/ gone
        ("HTTPS://WWW.Example.com/a/b/?b=2&utm_source=x&a=1#frag",
         "https://example.com/a/b?a=1&b=2"),
        ("https://example.com/a/b?a=1&b=2",
         "https://example.com/a/b?a=1&b=2"),
        ("http://example.com/", "http://example.com"),
        ("http://example.com/p?gclid=zzz", "http://example.com/p"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "id long, url string")
    got = {r.id: r.cu for r in df.select("id", canonical_url("url").alias("cu")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)
    # the first two rows now dedup together
    from clickhouse_flatfile_tool_spark.operators import dedup as DD

    survivors = DD.exact_dedup_canonical(
        df.withColumn("cu", canonical_url("url")), key=__import__("pyspark").sql.functions.col("cu"), id_col="id"
    )
    assert survivors.count() == 3


def test_cdc_chunks_cover_and_are_insertion_robust(spark):
    import random

    from clickhouse_flatfile_tool_spark.operators.text import cdc_chunks

    rng = random.Random(7)
    words = [f"w{rng.randrange(50)}" for _ in range(400)]
    doc = " ".join(words)
    # same doc with one word inserted near the head
    doc2 = " ".join(words[:10] + ["INSERTED"] + words[10:])
    df = spark.createDataFrame([(1, doc), (2, doc2)], "doc_id long, text string")
    out = cdc_chunks(df)
    a = [r.chunk_text for r in out.filter("doc_id = 1").orderBy("chunk_idx").collect()]
    b = [r.chunk_text for r in out.filter("doc_id = 2").orderBy("chunk_idx").collect()]
    # chunks reassemble the full document
    assert " ".join(a) == doc.lower() and " ".join(b) == doc2.lower()
    assert len(a) > 3  # boundary rate 1/16 over ~400 words → many chunks
    # insertion robustness: the chunk SETS agree on every chunk after the
    # edit region — only an O(1) prefix of chunks differs
    tail_a, tail_b = set(a[2:]), set(b[2:])
    assert len(tail_a & tail_b) >= len(a[2:]) - 2
    # short doc (< window words): one chunk, intact
    short = spark.createDataFrame([(3, "only two")], "doc_id long, text string")
    srow = cdc_chunks(short).collect()
    assert len(srow) == 1 and srow[0].chunk_text == "only two"


def test_canonical_url_malformed_falls_back_to_raw(spark):
    from clickhouse_flatfile_tool_spark.operators.text import canonical_url

    df = spark.createDataFrame(
        [(1, "not a url"), (2, "example.com/relative"), (3, "https://ok.com/x"), (4, None)],
        "id long, url string",
    )
    got = {r.id: r.cu for r in df.select("id", canonical_url("url").alias("cu")).collect()}
    # malformed inputs keep their raw identity instead of collapsing to NULL
    assert got[1] == "not a url"
    assert got[2] == "example.com/relative"
    assert got[3] == "https://ok.com/x"
    assert got[4] is None


def _brute_lev(a: str, b: str) -> int:
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def test_edit_distance_pairs_matches_bruteforce(spark):
    """PassJoin candidates + levenshtein verify == exhaustive all-pairs,
    including empty and shorter-than-(d+1) strings (fallback path)."""
    import itertools
    import random

    from clickhouse_flatfile_tool_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(7)
    strs = [
        "".join(rng.choice("abcde") for _ in range(rng.randint(0, 12)))
        for _ in range(80)
    ]
    strs += [s + "x" for s in strs[:8]] + [s[1:] for s in strs[8:16]]
    rows = [(i, s) for i, s in enumerate(strs)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    for d in (1, 2):
        got = {
            (r.id_a, r.id_b, r.dist)
            for r in edit_distance_pairs(df, "doc_id", "s", d).collect()
        }
        want = {
            (i, j, _brute_lev(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if _brute_lev(a, b) <= d
        }
        assert got == want


def test_edit_distance_pairs_planted_variants(spark):
    from clickhouse_flatfile_tool_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over"
    rows = [
        (0, base),
        (1, base),                         # exact dup -> dist 0
        (2, base.replace("quick", "quwck")),  # 1 substitution
        (3, "x" + base),                   # 1 insertion at front
        (4, "completely different string"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    got = {(r.id_a, r.id_b): r.dist for r in edit_distance_pairs(df, "doc_id", "s", 1).collect()}
    assert got[(0, 1)] == 0 and got[(0, 2)] == 1 and got[(0, 3)] == 1
    assert not any(4 in pair for pair in got)


def test_ccnet_buckets_thirds_and_ordering(spark, tables):
    from clickhouse_flatfile_tool_spark.operators.text import ccnet_buckets

    out = ccnet_buckets(tables["documents"]).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rows in by_lang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rows:
            counts[r.bucket] += 1
        # ntile thirds: sizes differ by at most 1
        assert max(counts.values()) - min(counts.values()) <= 1, (lang, counts)
        # every head doc scores <= every tail doc within the language
        heads = [r.surprisal for r in rows if r.bucket == "head"]
        tails = [r.surprisal for r in rows if r.bucket == "tail"]
        if heads and tails:
            assert max(heads) <= min(tails), lang


def test_nb_classifier_separates_positive_class(spark, tables):
    """The closed-form NB scorer must rank its own positive class higher —
    the sanity a deployed quality classifier needs (trained and applied on
    the same corpus here, so separation is expected, not incidental)."""
    from clickhouse_flatfile_tool_spark.operators.text import nb_classifier_scores

    docs = tables["documents"]
    out = nb_classifier_scores(docs, "lang = 'en'")
    scored = out.join(docs.select("doc_id", "lang"), "doc_id").collect()
    pos = [r.nb_score for r in scored if r.lang == "en"]
    neg = [r.nb_score for r in scored if r.lang != "en"]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg)
    # the fixture languages share one word palette, so only the class MEANS
    # separate there; on a corpus with disjoint vocabularies the classifier
    # must be near-perfect at threshold 0
    rows = [(i, "en", "alpha beta gamma delta " * 3) for i in range(30)] + [
        (i + 30, "xx", "omega sigma tau rho " * 3) for i in range(30)
    ]
    sep = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    sep_scored = (
        nb_classifier_scores(sep, "lang = 'en'")
        .join(sep.select("doc_id", "lang"), "doc_id")
        .collect()
    )
    acc = sum(
        1 for r in sep_scored if (r.nb_score > 0) == (r.lang == "en")
    ) / len(sep_scored)
    assert acc == 1.0, acc


def test_curation_pipeline_funnel(spark):
    """Composed curation funnel (pipeline.py::curation_pipeline): planted
    fixtures drive every stage — a too-short doc fails Gopher, a
    brace-bearing doc fails C4, an exact clone and a near-clone each lose
    their higher id, a shared footer is span-cleaned (modified, not
    dropped), and a benchmark-overlapping doc is decontaminated.  The
    funnel is monotone and its dropped column telescopes."""
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n"
            "all that glitters is not gold said the wise old miner.\n")
    footer = "shared footer run alpha beta gamma delta epsilon zeta eta theta."
    rows = [
        (1, base + "unique tail one about rivers and the mountain air.\n" + footer),
        (2, base + "unique tail two about oceans and the desert wind.\n" + footer),
        # exact clone of 1 -> exact stage drops id 3
        (3, base + "unique tail one about rivers and the mountain air.\n" + footer),
        # near clone of 2 (one word differs) -> neardup drops id 4
        (4, base + "unique tail two about oceans and the desert sand.\n" + footer),
        # too short -> gopher drops it
        (5, "tiny doc."),
        # brace -> c4 drops it
        (6, base + "this { one carries a brace so c4 rejects it fully."),
        # overlaps the benchmark trigrams -> decontaminated
        (7, base + "benchmark secret passphrase trigram overlap window here.\n"
            + footer),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "totally separate benchmark secret passphrase trigram overlap "
               "window here for eval")],
        "doc_id long, text string",
    )
    final, prov = curation_pipeline(docs, bench)
    p = {r.stage: r for r in prov.collect()}
    assert [p[s].stage_idx for s in
            ("input", "gopher", "c4", "exact", "neardup", "exactsubstr",
             "decontaminate")] == list(range(7))
    assert p["input"].docs == 7
    assert p["gopher"].docs == 6 and p["gopher"].dropped == 1      # id 5
    assert p["c4"].docs == 5 and p["c4"].dropped == 1              # id 6
    assert p["exact"].docs == 4 and p["exact"].dropped == 1        # id 3
    assert p["neardup"].docs == 3 and p["neardup"].dropped == 1    # id 4
    assert p["exactsubstr"].docs == 3 and p["exactsubstr"].dropped == 0
    assert p["exactsubstr"].modified >= 1                          # footer cleaned
    assert p["decontaminate"].docs == 2 and p["decontaminate"].dropped == 1
    surv = {r.doc_id for r in final.select("doc_id").collect()}
    assert surv == {1, 2}
    # final text is span-cleaned: the shared footer survives only via the
    # canonical copy; at least one survivor lost it
    texts = {r.doc_id: r.text for r in final.collect()}
    assert sum("shared footer run" in t for t in texts.values()) <= 1


def test_curation_pipeline_checkpoint_dir_equivalence(spark, tmp_path):
    """checkpoint_dir= (VERDICT r6 #3): per-stage Parquet checkpoints
    produce the IDENTICAL provenance funnel and survivor set as the
    persist() default, the stage files land on disk (one dir per stage,
    the final included — the resume/audit artifact), and the survivor
    set equals the stage6 checkpoint files read back directly."""
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n")
    rows = [
        (1, base + "unique tail one about rivers and the mountain air."),
        (2, base + "unique tail two about oceans and the desert wind."),
        (3, base + "unique tail one about rivers and the mountain air."),
        (4, "tiny doc."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "nothing in common with the corpus at all, entirely disjoint")],
        "doc_id long, text string",
    )
    f_mem, p_mem = curation_pipeline(docs, bench)
    ckpt = str(tmp_path / "funnel_ckpt")
    f_dsk, p_dsk = curation_pipeline(docs, bench, checkpoint_dir=ckpt)

    mem = sorted(tuple(r) for r in p_mem.collect())
    dsk = sorted(tuple(r) for r in p_dsk.collect())
    assert mem == dsk
    ids_mem = {r.doc_id for r in f_mem.collect()}
    ids_dsk = {r.doc_id for r in f_dsk.collect()}
    assert ids_mem == ids_dsk == {1, 2}

    import os

    stages = sorted(os.listdir(ckpt))
    assert stages == [
        "stage1_gopher", "stage2_c4", "stage3_exact", "stage4_neardup",
        "stage5_exactsubstr", "stage6_decontaminate",
    ]
    reread = {
        r.doc_id
        for r in spark.read.parquet(f"{ckpt}/stage6_decontaminate").collect()
    }
    assert reread == ids_dsk


def test_curation_pipeline_stage_timings(spark):
    """stage_timings= (VERDICT r6 #4, bench attribution): passing a dict
    forces each stage boundary eagerly and records its wall seconds per
    stage tag — and the instrumented run returns the identical funnel as
    the lazy default."""
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n")
    rows = [
        (1, base + "unique tail one about rivers and the mountain air."),
        (2, base + "unique tail two about oceans and the desert wind."),
        (3, base + "unique tail one about rivers and the mountain air."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "nothing in common with the corpus at all, entirely disjoint")],
        "doc_id long, text string",
    )
    _f0, p0 = curation_pipeline(docs, bench)
    times: dict = {}
    _f1, p1 = curation_pipeline(docs, bench, stage_timings=times)
    assert sorted(times) == [
        "stage1_gopher", "stage2_c4", "stage3_exact", "stage4_neardup",
        "stage5_exactsubstr", "stage6_decontaminate",
    ]
    assert all(isinstance(v, float) and v >= 0 for v in times.values())
    assert sorted(tuple(r) for r in p0.collect()) == sorted(
        tuple(r) for r in p1.collect()
    )


def test_curation_pipeline_incremental(spark):
    """Incremental funnel (pipeline.py::curation_pipeline_incremental):
    the corpus is immutable; planted delta fixtures drive every stage —
    a short doc fails Gopher, a braced doc fails C4, an exact clone of a
    CORPUS doc and an exact clone WITHIN the delta drop at the exact
    stage, a near-clone of a corpus doc and a within-delta near-clone
    drop at neardup (corpus docs never drop), and a benchmark-overlapping
    doc is decontaminated.  modified is identically 0."""
    from pyspark.sql import functions as F

    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n"
            "all that glitters is not gold said the wise old miner.\n")
    corpus = spark.createDataFrame(
        [
            (1, base + "corpus tail about rivers and the mountain air today."),
            (2, base + "corpus tail about oceans and the desert wind today."),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            # survives everything
            (10, base + "fresh tail about forests and the northern lights."),
            # exact clone of corpus doc 1 -> exact stage
            (11, base + "corpus tail about rivers and the mountain air today."),
            # near clone of corpus doc 2 (one word differs) -> neardup
            (12, base + "corpus tail about oceans and the desert sand today."),
            # within-delta exact clone of 10 -> exact stage (min-id keeps 10)
            (13, base + "fresh tail about forests and the northern lights."),
            # within-delta near clone of 10 -> neardup (greater id drops)
            (14, base + "fresh tail about forests and the southern lights."),
            # too short -> gopher
            (15, "tiny doc."),
            # brace -> c4
            (16, base + "this { one carries a brace so c4 rejects it fully."),
            # overlaps benchmark trigrams -> decontaminated
            (17, base + "benchmark secret passphrase trigram overlap window."),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "entirely separate benchmark secret passphrase trigram "
               "overlap window for eval")],
        "doc_id long, text string",
    )
    final, prov = curation_pipeline_incremental(delta, corpus, bench)
    p = {r.stage: r for r in prov.collect()}
    assert [p[s].stage_idx for s in
            ("input", "gopher", "c4", "exact", "neardup",
             "decontaminate")] == list(range(6))
    assert p["input"].docs == 8
    assert p["gopher"].docs == 7 and p["gopher"].dropped == 1        # 15
    assert p["c4"].docs == 6 and p["c4"].dropped == 1                # 16
    assert p["exact"].docs == 4 and p["exact"].dropped == 2          # 11, 13
    assert p["neardup"].docs == 2 and p["neardup"].dropped == 2      # 12, 14
    assert p["decontaminate"].docs == 1 and p["decontaminate"].dropped == 1
    assert all(r.modified == 0 for r in prov.collect())
    surv = {r.doc_id for r in final.select("doc_id").collect()}
    assert surv == {10}


def test_incremental_lsh_candidates_portable_shape(spark):
    """Delta×corpus portable candidates: a near-clone pair lands as
    (corpus_id, new_id); no corpus×corpus or delta×delta pair appears."""
    from clickhouse_flatfile_tool_spark.operators import dedup

    long = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    corpus = spark.createDataFrame(
        [(1, long + " one"), (2, long + " one")],  # corpus self-dup: ignored
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10, long + " two"), (11, long + " two"), (12, "unrelated words")],
        "doc_id long, text string",
    )
    cands = dedup.incremental_lsh_candidates_portable(delta, corpus)
    rows = {(r.corpus_id, r.new_id) for r in cands.collect()}
    assert all(c in (1, 2) and n in (10, 11, 12) for c, n in rows)
    assert (1, 10) in rows or (2, 10) in rows  # near-identical texts collide


def test_curation_pipeline_incremental_checkpoint_and_timings(
    spark, tmp_path
):
    """checkpoint_dir= and stage_timings= on the INCREMENTAL funnel:
    per-stage Parquet checkpoints produce the identical provenance and
    survivor set as the persist() default (final stage file included),
    and the instrumented run records one wall time per stage."""
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline_incremental,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n")
    corpus = spark.createDataFrame(
        [(1, base + "corpus tail about rivers and the mountain air.")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, base + "fresh tail about forests and the northern lights."),
            (11, base + "corpus tail about rivers and the mountain air."),
            (12, "tiny doc."),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "nothing in common with the corpus at all entirely disjoint")],
        "doc_id long, text string",
    )
    f_mem, p_mem = curation_pipeline_incremental(delta, corpus, bench)
    ckpt = str(tmp_path / "incr_ckpt")
    times: dict = {}
    f_dsk, p_dsk = curation_pipeline_incremental(
        delta, corpus, bench, checkpoint_dir=ckpt, stage_timings=times
    )
    assert sorted(tuple(r) for r in p_mem.collect()) == sorted(
        tuple(r) for r in p_dsk.collect()
    )
    ids = {r.doc_id for r in f_mem.collect()}
    assert ids == {r.doc_id for r in f_dsk.collect()} == {10}

    import os

    assert sorted(os.listdir(ckpt)) == [
        "stage1_gopher", "stage2_c4", "stage3_exact", "stage4_neardup",
        "stage5_decontaminate",
    ]
    assert sorted(times) == sorted(os.listdir(ckpt))
    reread = {
        r.doc_id
        for r in spark.read.parquet(f"{ckpt}/stage5_decontaminate").collect()
    }
    assert reread == ids


def _incr_funnel_fixture(spark):
    """Shared delta/corpus/bench fixture for the incremental-funnel
    artifact tests (same planted stages as
    test_curation_pipeline_incremental)."""
    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n"
            "all that glitters is not gold said the wise old miner.\n")
    corpus = spark.createDataFrame(
        [
            (1, base + "corpus tail about rivers and the mountain air today."),
            (2, base + "corpus tail about oceans and the desert wind today."),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            (10, base + "fresh tail about forests and the northern lights."),
            (11, base + "corpus tail about rivers and the mountain air today."),
            (12, base + "corpus tail about oceans and the desert sand today."),
            (13, base + "fresh tail about forests and the northern lights."),
            (14, base + "fresh tail about forests and the southern lights."),
            (15, "tiny doc."),
            (16, base + "this { one carries a brace so c4 rejects it fully."),
            (17, base + "benchmark secret passphrase trigram overlap window."),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "entirely separate benchmark secret passphrase trigram "
               "overlap window for eval")],
        "doc_id long, text string",
    )
    return delta, corpus, bench


def test_corpus_artifacts_prebuilt_funnel_equality(spark, tmp_path):
    """write_corpus_artifacts + corpus_fps=/corpus_banded= (VERDICT r7
    #1): the prebuilt-artifact incremental funnel returns the IDENTICAL
    provenance and survivor set as the recompute path, in both artifact
    layouts (plain hash-repartitioned Parquet and bucketed catalog
    tables)."""
    from clickhouse_flatfile_tool_spark.operators import dedup
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline_incremental,
    )

    delta, corpus, bench = _incr_funnel_fixture(spark)
    _f0, p0 = curation_pipeline_incremental(delta, corpus, bench)
    want_prov = sorted(tuple(r) for r in p0.collect())
    want_ids = {r.doc_id for r in _f0.collect()}
    assert want_ids == {10}

    arts = dedup.write_corpus_artifacts(corpus, str(tmp_path / "arts"))
    f1, p1 = curation_pipeline_incremental(
        delta, corpus, bench,
        corpus_fps=arts["fingerprints"], corpus_banded=arts["banded"],
    )
    assert sorted(tuple(r) for r in p1.collect()) == want_prov
    assert {r.doc_id for r in f1.collect()} == want_ids

    arts_t = dedup.write_corpus_artifacts(
        corpus, str(tmp_path / "arts_tbl"), table_prefix="corpus_art_eq"
    )
    f2, p2 = curation_pipeline_incremental(
        delta, corpus, bench,
        corpus_fps=arts_t["fingerprints"], corpus_banded=arts_t["banded"],
    )
    assert sorted(tuple(r) for r in p2.collect()) == want_prov
    assert {r.doc_id for r in f2.collect()} == want_ids

    # prune_corpus_text=True (the O(delta+candidates) verify shape)
    # must also be funnel-identical
    f3, p3 = curation_pipeline_incremental(
        delta, corpus, bench,
        corpus_fps=arts_t["fingerprints"], corpus_banded=arts_t["banded"],
        prune_corpus_text=True,
    )
    assert sorted(tuple(r) for r in p3.collect()) == want_prov
    assert {r.doc_id for r in f3.collect()} == want_ids

    reread = dedup.read_corpus_artifacts(spark, str(tmp_path / "arts"))
    assert set(reread["fingerprints"].columns) == {"__fp"}
    assert set(reread["banded"].columns) == {"doc_id", "band", "bucket"}


def test_corpus_artifacts_bucketed_scan_no_exchange(spark, tmp_path):
    """The bucketed-TABLE artifact is the zero-exchange probe side: with
    broadcast off, the delta×corpus banded join reads the corpus
    signatures straight from the bucketed files (plan shows the bucketed
    scan, and strictly fewer Exchanges than the recompute plan — the
    corpus side loses both its minhash groupBy shuffle and its join-side
    exchange) — the executable form of 'history is probed, never
    reshuffled'."""
    import contextlib
    import io

    from clickhouse_flatfile_tool_spark.operators import dedup

    delta, corpus, _bench = _incr_funnel_fixture(spark)
    arts = dedup.write_corpus_artifacts(
        corpus, str(tmp_path / "arts_x"), table_prefix="corpus_art_xchg"
    )

    def _plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        prebuilt = _plan(
            dedup.incremental_lsh_candidates_portable(
                delta, corpus_banded=arts["banded"]
            )
        )
        recompute = _plan(
            dedup.incremental_lsh_candidates_portable(delta, corpus)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "Bucketed: true" in prebuilt
    assert prebuilt.count("Exchange") < recompute.count("Exchange")
    # structural proof: in the plan tree, the corpus-table scan's branch
    # (the join's right child — its lines carry no ':' left-branch rail)
    # has NO Exchange between SortMergeJoin and the bucketed scan
    tree = prebuilt.split("\n\n")[0].splitlines()
    smj = next(i for i, l in enumerate(tree) if "SortMergeJoin" in l)
    scan = next(
        i for i, l in enumerate(tree)
        if "Scan parquet" in l and "corpus_art_xchg_banded" in l
    )
    assert scan > smj
    right_branch = [l for l in tree[smj + 1: scan] if ":" not in l]
    assert not any("Exchange" in l for l in right_branch), right_branch


def test_append_corpus_artifacts_daily_loop(spark, tmp_path):
    """The daily-build loop closes: append_corpus_artifacts(delta) on
    yesterday's artifacts yields the same funnel decisions as artifacts
    rebuilt from scratch over corpus ∪ delta — in both layouts — and the
    appended catalog table still scans bucketed."""
    import contextlib
    import io

    from clickhouse_flatfile_tool_spark.operators import dedup
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline_incremental,
    )

    delta, corpus, bench = _incr_funnel_fixture(spark)
    # day 1's accepted delta becomes part of history; day 2 replays the
    # SAME delta (now fully duplicate) -> everything non-gated drops at
    # the exact/neardup stages against the appended artifacts
    day1_accepted, _p = curation_pipeline_incremental(delta, corpus, bench)
    day1_rows = day1_accepted.collect()
    assert {r.doc_id for r in day1_rows} == {10}
    accepted = spark.createDataFrame(day1_rows, day1_accepted.schema)

    new_corpus = corpus.union(accepted)
    day2 = delta.selectExpr("doc_id + 100 AS doc_id", "text")

    for mode, prefix in (("dir", None), ("tbl", "corpus_art_append")):
        base_dir = str(tmp_path / f"arts_{mode}")
        arts = dedup.write_corpus_artifacts(
            corpus, base_dir, table_prefix=prefix
        )
        appended = dedup.append_corpus_artifacts(
            accepted, base_dir, table_prefix=prefix
        )
        rebuilt = dedup.write_corpus_artifacts(
            new_corpus, str(tmp_path / f"arts_{mode}_rb"),
            table_prefix=None if prefix is None else prefix + "_rb",
        )
        f_app, p_app = curation_pipeline_incremental(
            day2, new_corpus, bench,
            corpus_fps=appended["fingerprints"],
            corpus_banded=appended["banded"],
        )
        f_rb, p_rb = curation_pipeline_incremental(
            day2, new_corpus, bench,
            corpus_fps=rebuilt["fingerprints"],
            corpus_banded=rebuilt["banded"],
        )
        assert sorted(tuple(r) for r in p_app.collect()) == sorted(
            tuple(r) for r in p_rb.collect()
        )
        # day-2 replay of doc 10's text is now an exact dup of history
        assert {r.doc_id for r in f_app.collect()} == {
            r.doc_id for r in f_rb.collect()
        } == set()

    # appended catalog table still scans bucketed
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.table("corpus_art_append_banded").groupBy(
            "band", "bucket"
        ).count().explain("formatted")
    assert "Bucketed: true" in buf.getvalue()


def test_curation_pipeline_fast_mode_agrees(spark):
    """portable=False (xxhash64 banding + hashed ExactSubstr shingles —
    the production funnel) produces the identical provenance funnel and
    survivor set as the portable md5 oracle twin on the planted
    fixture."""
    from clickhouse_flatfile_tool_spark.operators.pipeline import (
        curation_pipeline,
    )

    base = ("the quick brown fox jumps over the lazy dog again.\n"
            "a stitch in time saves nine of the best things here.\n")
    rows = [
        (1, base + "unique tail one about rivers and the mountain air."),
        (2, base + "unique tail two about oceans and the desert wind."),
        (3, base + "unique tail one about rivers and the mountain air."),
        (4, base + "unique tail one about rivers and the mountain airs."),
        (5, "tiny doc."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "nothing in common with the corpus at all, entirely disjoint")],
        "doc_id long, text string",
    )
    f_md5, p_md5 = curation_pipeline(docs, bench)
    f_fast, p_fast = curation_pipeline(docs, bench, portable=False)
    assert sorted(tuple(r) for r in p_md5.collect()) == sorted(
        tuple(r) for r in p_fast.collect()
    )
    assert {r.doc_id for r in f_md5.collect()} == {
        r.doc_id for r in f_fast.collect()
    }


def test_assign_training_shards_matches_reference(spark, docs):
    """Two-level prefix-sum shard assignment equals the brute-force
    python replay (md5-ordered global cumsum, start-offset DIV rule),
    and shard token totals are near-equal."""
    import hashlib

    from clickhouse_flatfile_tool_spark.operators.sampling import (
        assign_training_shards,
    )

    tps = 400
    sample = docs.limit(200)
    got = {
        r.doc_id: (r.n_tokens, r.shard)
        for r in assign_training_shards(sample, tps).collect()
    }
    rows = [(r.doc_id, r.text) for r in sample.collect()]
    order = sorted(
        rows, key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0])
    )
    cum = 0
    want = {}
    for doc_id, text in order:
        nt = len(text.strip().split())
        want[doc_id] = (nt, cum // tps)
        cum += nt
    assert got == want
    # near-equal shards: every shard except the last spans >= tps tokens
    # from its first doc's start to the next shard's start by construction
    shards = sorted({s for _, s in got.values()})
    assert shards == list(range(len(shards)))


def test_driver_artifact_entries_leave_no_residue(spark):
    """VERDICT r8 #7's done condition: the prebuilt/append driver entries
    clean up after themselves — repeated runs leave no drv_* catalog
    tables and no drv_*arts_* dirs in /tmp — and the returned provenance
    is still collectable AFTER cleanup (localCheckpoint decouples it
    from the dropped tables)."""
    import glob as _glob
    import os as _os
    import tempfile as _tf

    import __spark_entry__ as e  # conftest puts the repo root on sys.path

    # the entries use tempfile.mkdtemp, which honors TMPDIR — build the
    # residue glob from the same root so the assertion follows wherever
    # mkdtemp actually writes (ADVICE r9: a hardcoded /tmp glob is
    # vacuously true under a non-/tmp TMPDIR)
    _td = _tf.gettempdir()

    def _residue() -> set[str]:
        return set(_glob.glob(_os.path.join(_td, "drv_corpus_arts_*"))) | set(
            _glob.glob(_os.path.join(_td, "drv_append_arts_*"))
        )

    d = "/root/testdata/sf0.001"
    before = _residue()
    for _ in range(2):
        prov = e.q_pipeline_incremental_prebuilt(spark, d)
        assert len(prov.collect()) == 6
    prov2 = e.q_pipeline_incremental_append(spark, d)
    assert len(prov2.collect()) == 6
    after = _residue()
    assert after == before, after - before
    leftover = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("drv_corpus_art", "drv_append_art"))
    ]
    assert leftover == [], leftover


def test_incremental_exact_dedup_window_form(spark, docs):
    """r11 optimization regression pin: the min-id survivor is now a window
    filter (one reference of the batch) instead of a groupBy+self-join —
    rows must equal the join form's on a fixture with corpus hits,
    within-batch dups, and fresh rows."""
    base = docs.select("doc_id", "text")
    corpus = base.filter("doc_id % 3 = 0")
    batch = (
        base.filter("doc_id % 3 = 1")                       # fresh
        .unionByName(corpus.limit(5).select(                # corpus replays
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
        .unionByName(base.filter("doc_id % 3 = 1").limit(7).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"))
    )
    out = D.incremental_exact_dedup(batch, corpus)
    # reference semantics: drop corpus-fingerprint hits, then min-id per fp
    fp = X.fingerprint("text")
    fresh = batch.withColumn("__fp", fp).join(
        corpus.select(fp.alias("__fp")).distinct(), "__fp", "left_anti"
    )
    w_min = fresh.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    ref = fresh.join(w_min, ["__fp", "doc_id"]).drop("__fp")
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0
    assert out.columns == ["doc_id", "text"]


def test_c4_rules_keep_text_matches_semi_join(spark, docs):
    """r11 optimization regression pin: funnels gate in place via
    keep_text=True; the surviving (id, text) set must equal the old
    flags-semi-join-back-to-input shape."""
    inline = (
        X.c4_rules(docs, keep_text=True)
        .filter(F.col("c4_pass"))
        .select("doc_id", "text")
    )
    flags = X.c4_rules(docs)
    joined = docs.select("doc_id", "text").join(
        flags.filter(F.col("c4_pass")).select("doc_id"), "doc_id", "left_semi"
    )
    assert inline.exceptAll(joined).count() == 0
    assert joined.exceptAll(inline).count() == 0
