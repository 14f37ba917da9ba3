"""Composed training-data curation pipeline with per-stage provenance.

The RedPajama/Dolma shape (public pipeline descriptions: Together AI's
RedPajama-Data, AI2's Dolma toolkit): quality gates → exact dedup →
near dedup → repeated-span removal → benchmark decontamination, run as
ONE operator whose output is the per-stage funnel — every production
corpus build reports exactly this table.  No reference-file analog
(the reference delegates per-query work to ClickHouse; composition is
an EXT capability), but each stage is an already-proven operator:

  1. gopher  — :func:`text.gopher_quality_rules` hard gates
  2. c4      — :func:`text.c4_rules` page-level gates
  3. exact   — :func:`dedup.exact_dedup_canonical` (min-id survivor)
  4. neardup — :func:`dedup.minhash_lsh_candidates_portable` →
               :func:`dedup._verify_and_drop` (exact Jaccard ≥ threshold
               → drop the greater id; the step ``minhash_dedup`` runs)
  5. spans   — :func:`dedup.remove_repeated_spans` (Lee et al. 2022
               keep-one policy; docs are MODIFIED, not dropped)
  6. decon   — :func:`dedup.decontaminate` vs the benchmark set → drop
               contaminated

Scale shape: every stage is the proven operator's own plan (banded LSH,
shingle groupBy, broadcast benchmark — no all-pairs anywhere); the
incremental funnel below runs the same near-dup step on delta×corpus and
within-delta candidates from one banding of the delta.  The funnel
needs each stage's cardinality, so intermediate survivor sets
must not be recomputed: counting stage k through lazy lineage re-runs
stages 1..k-1, turning a 6-stage pipeline into a quadratic re-scan.  Two
materialization modes, chosen by ``checkpoint_dir``:

* ``checkpoint_dir=None`` (default) — ``localCheckpoint`` each stage
  survivor set (plan-truncating block storage; see ``_make_stage``).
  Right for runs that fit cluster memory/disk.
* ``checkpoint_dir=<path>`` — each stage WRITES Parquet to
  ``<dir>/stage<N>_<name>`` and the next stage reads the files back.
  This is the 100 TB shape: lineage is truncated at every stage (no
  recompute on executor loss), each checkpoint is the per-stage audit
  artifact, and a failed run resumes from the last completed stage's
  files.  The final survivor set is checkpointed too (``stage6_...``).

The counts themselves are map-side ``count(1)`` aggregates, and the
final 7-row funnel window is result-shaped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhouse_flatfile_tool_spark.operators import dedup, text


def _make_stage(checkpoint_dir, stage_timings, boundary="localCheckpoint"):
    """Stage-boundary closure shared by both funnels (with
    ``checkpoint_dir``, always write/read Parquet — the resumable 100 TB
    shape) and record wall seconds per stage tag when asked.

    ``boundary`` picks the in-memory materialization primitive, and the
    right one is FUNNEL-SPECIFIC (both A/B-measured at sf0.1, best-of-3):

    * ``"localCheckpoint"`` — truncates the LOGICAL plan at every
      boundary, so stage k+1's analysis doesn't re-walk stages 1..k's
      trees and provenance counts scan stored blocks instead of
      re-analyzing six nested plans.  Wins for the BATCH funnel, whose
      cost is analysis of six deeply nested stage trees (12.7s → 8.1s).
    * ``"persist"`` — lazy cache marks, single fused action.  Wins for
      the INCREMENTAL funnel, whose cost is per-stage compute (banding)
      that the checkpoint barriers serialize (4.1s vs 8.5s).

    Tradeoff note: localCheckpoint blocks are not lineage-recoverable on
    executor loss (persist recomputes) — irrelevant in local mode, and
    the durable 100 TB shape is ``checkpoint_dir`` anyway."""
    import time as _time

    def _stage(df: DataFrame, tag: str) -> DataFrame:
        t0 = _time.time()
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/{tag}"
            df.write.mode("overwrite").parquet(path)
            df = df.sparkSession.read.parquet(path)
        elif boundary == "localCheckpoint":
            # eager only when timing — materialize NOW so elapsed = this
            # stage only; the lazy default computes on first action
            df = df.localCheckpoint(eager=stage_timings is not None)
        else:
            df = df.persist()
            if stage_timings is not None:
                df.count()  # materialize NOW so elapsed = this stage only
        if stage_timings is not None:
            stage_timings[tag] = round(_time.time() - t0, 3)
        return df

    return _stage


def curation_pipeline(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    span_n: int = 3,
    span_min_tokens: int = 6,
    checkpoint_dir: str | None = None,
    stage_timings: dict | None = None,
    portable: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Run the 6-stage curation pipeline; returns ``(final_docs,
    provenance)`` where provenance is the funnel table
    ``(stage_idx, stage, docs, dropped, modified)`` — one row per stage
    plus the stage-0 input row.  ``dropped`` is the doc-count delta vs
    the previous stage; ``modified`` counts span-cleaned documents at the
    exactsubstr stage (which never drops).

    Near-dup stage uses the PORTABLE md5 MinHash
    (:func:`dedup.minhash_lsh_candidates_portable`) so the whole funnel
    is engine-reproducible / oracle-comparable; ``portable=False`` swaps
    in the xxhash64 production path (8-byte longs through the shuffle
    instead of hex strings, same banded shape) and hashed ExactSubstr
    shingles — the winnow/winnow_fast convention, benched as
    ``pipeline_e2e_fast``; pytest asserts the two modes agree on the
    planted fixture's funnel.

    With ``checkpoint_dir`` set, every stage materializes to
    ``<dir>/stage<N>_<name>`` Parquet and downstream stages read the
    files back (lineage truncation + resume point); default ``None``
    keeps ``localCheckpoint`` stage boundaries.  Results are identical — the
    equivalence is pytest-checked both ways.

    ``stage_timings`` (bench attribution, VERDICT r6 #4): pass a dict to
    force each stage boundary eagerly (an eager ``localCheckpoint``;
    checkpoint writes force anyway) and record its wall seconds
    under the stage tag — so a future single-stage regression in the
    bench is attributable without re-deriving the funnel.  Default
    ``None`` keeps every boundary lazy; the registered driver query never
    passes it."""
    _stage = _make_stage(checkpoint_dir, stage_timings)

    s0 = docs.select(id_col, text_col)

    g = text.gopher_quality_rules(s0, text_col)
    s1 = _stage(
        g.filter(F.col("gopher_pass")).select(id_col, text_col),
        "stage1_gopher",
    )

    # gate in place (keep_text): the semi-join form references s1 twice —
    # one reference keeps the stage subtree (and its localCheckpoint
    # planning cost) minimal; identical rows (same predicate, same input)
    c = text.c4_rules(s1, id_col, text_col, keep_text=True)
    s2 = _stage(
        c.filter(F.col("c4_pass")).select(id_col, text_col),
        "stage2_c4",
    )

    # min-id exact-dedup survivor as a window filter over the fingerprint
    # (one reference of s2) — identical rows to the
    # exact_dedup_canonical+semi-join form (ids unique, min-id survivor),
    # one less join per stage subtree
    s3 = _stage(
        s2.withColumn("__fp", dedup.fingerprint(text_col))
        .withColumn("__minid", F.min(id_col).over(Window.partitionBy("__fp")))
        .filter(F.col(id_col) == F.col("__minid"))
        .select(id_col, text_col),
        "stage3_exact",
    )

    if portable:
        cands = dedup.minhash_lsh_candidates_portable(
            s3, id_col, text_col, shingle_n, num_hashes, bands
        )
    else:
        cands = dedup.minhash_lsh_candidates(
            s3, id_col, text_col, shingle_n, num_hashes, bands
        )
    s4 = _stage(
        dedup._verify_and_drop(
            s3, cands, id_col, text_col, shingle_n, jaccard_threshold
        ),
        "stage4_neardup",
    )

    spans = _stage(
        dedup.remove_repeated_spans(
            s4, id_col, text_col, n=span_n, min_tokens=span_min_tokens,
            hashed=not portable,
        ),
        "stage5_exactsubstr",
    )
    s5 = spans.select(id_col, F.col("clean_text").alias(text_col))

    dec = dedup.decontaminate(s5, benchmark, id_col, text_col, n=shingle_n)
    s6 = _stage(
        s5.join(
            dec.filter(F.col("contaminated")).select(id_col),
            id_col,
            "left_anti",
        ),
        "stage6_decontaminate",
    )

    stages = [
        (0, "input", s0), (1, "gopher", s1), (2, "c4", s2),
        (3, "exact", s3), (4, "neardup", s4), (5, "exactsubstr", s5),
        (6, "decontaminate", s6),
    ]
    modified = spans.filter(F.col("n_spans_removed") > 0).select(
        F.lit(5).alias("stage_idx"),
        F.col(id_col),
    ).groupBy("stage_idx").agg(
        F.count(F.lit(1)).cast("long").alias("modified")
    )
    return s6, _provenance_funnel(stages, id_col, modified)


def _provenance_funnel(
    stages: list, id_col: str, modified: DataFrame | None = None
) -> DataFrame:
    """Funnel table ``(stage_idx, stage, docs, dropped, modified)`` from
    ``(idx, name, survivor_df)`` triples: per-stage map-side count(1)
    aggregates, ``dropped`` = lag delta over the handful of funnel rows
    (result-shaped window), ``modified`` joined in when a stage modifies
    documents in place (the batch funnel's exactsubstr stage), else 0."""
    marks = None
    for idx, name, df in stages:
        m = df.select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"),
            F.col(id_col),
        )
        marks = m if marks is None else marks.union(m)
    counts = marks.groupBy("stage_idx", "stage").agg(
        F.count(F.lit(1)).cast("long").alias("docs")
    )
    if modified is not None:
        counts = counts.join(F.broadcast(modified), "stage_idx", "left")
        mod_col = F.coalesce("modified", F.lit(0)).cast("long")
    else:
        mod_col = F.lit(0).cast("long")
    w = Window.orderBy("stage_idx")  # one row per stage — result-shaped
    return (
        counts.select(
            "stage_idx", "stage", "docs",
            F.coalesce(F.lag("docs").over(w) - F.col("docs"), F.lit(0))
            .cast("long")
            .alias("dropped"),
            mod_col.alias("modified"),
        )
        .orderBy("stage_idx")
    )


def curation_pipeline_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.8,
    checkpoint_dir: str | None = None,
    stage_timings: dict | None = None,
    corpus_fps: DataFrame | None = None,
    corpus_banded: DataFrame | None = None,
    prune_corpus_text: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental (new-batch-vs-existing-corpus) curation funnel — the
    shape a daily corpus build actually runs: the historical corpus is
    already curated and IMMUTABLE; only the delta is gated, deduped
    against both itself and history, and decontaminated.  Returns
    ``(final_delta, provenance)`` with the same funnel schema as
    :func:`curation_pipeline` (``modified`` is always 0 — no in-place
    stage here):

      1. gopher — :func:`text.gopher_quality_rules` hard gates (delta)
      2. c4     — :func:`text.c4_rules` page gates (delta)
      3. exact  — :func:`dedup.incremental_exact_dedup`: drop delta docs
                  whose fingerprint already exists in the corpus, then
                  min-id survivor within the delta
      4. neardup— :func:`dedup.incremental_lsh_candidates_portable`
                  (delta×corpus, never a corpus self-join) UNION the
                  within-delta :func:`dedup.minhash_lsh_candidates_portable`
                  pairs → :func:`dedup._verify_and_drop` over corpus ∪
                  delta text: drop the delta doc (each pair's ``id_b``;
                  corpus docs are never dropped)
      5. decon  — :func:`dedup.decontaminate` vs the benchmark set

    Scale shape: the corpus-side artifacts are computed once per corpus
    generation by :func:`dedup.write_corpus_artifacts` and passed in as
    ``corpus_fps`` (distinct fingerprints, bucketed on ``__fp``) and
    ``corpus_banded`` (banded md5 signatures, bucketed on
    ``(band, bucket)``) — with both given, history is probed through the
    artifact tables, never re-hashed per batch, so the hash/band work is
    O(delta).  Omitting them recomputes both artifacts from ``corpus``
    in-flight (identical results — pytest-proven across all modes).

    ``prune_corpus_text=True`` additionally restricts the verify stage's
    corpus TEXT scan to candidate docs (a left-semi join on the
    candidate corpus ids over an eagerly checkpointed pair list), making
    the whole daily run O(delta + candidates) — turn it on when corpus
    text is large relative to the candidate set (the 100 TB daily
    build).  Default False: at small corpus scale the prune's extra
    joins cost MORE than the one map-only text scan they avoid
    (measured: 6.2s vs 2.3s at the sf0.1 fixture, BASELINE §e
    curation_incremental_prebuilt), and fixture-truth beats
    story-symmetry here.  Results are identical either way
    (pytest-proven).

    ``corpus_banded`` must use this call's ``(shingle_n, num_hashes,
    bands)``.  Portable md5 MinHash keeps the whole funnel
    DuckDB-replayable; ``checkpoint_dir`` / ``stage_timings`` behave as
    in :func:`curation_pipeline`.

    Corpus and delta ids must be DISJOINT (any real ingest pipeline's
    invariant): the Jaccard verify attaches shingle sets over the
    corpus ∪ delta union by id, so a shared id would attach ambiguous
    text to its pairs."""
    _stage = _make_stage(
        checkpoint_dir, stage_timings, boundary="persist"
    )  # measured: see _make_stage — barriers hurt this funnel

    s0 = new_docs.select(id_col, text_col)
    corp = corpus.select(id_col, text_col)

    g = text.gopher_quality_rules(s0, text_col)
    s1 = _stage(
        g.filter(F.col("gopher_pass")).select(id_col, text_col),
        "stage1_gopher",
    )

    # gate in place (keep_text) instead of semi-joining flags back to s1:
    # the join form references s1 twice, and every downstream stage here
    # keeps full lineage (persist boundaries), so reference multiplicity
    # compounds exponentially — this plus the incremental_exact_dedup
    # window form cut the final plan ~4x (OPTIMIZATION_r11.md §plan size)
    c = text.c4_rules(s1, id_col, text_col, keep_text=True)
    s2 = _stage(
        c.filter(F.col("c4_pass")).select(id_col, text_col),
        "stage2_c4",
    )

    s3 = _stage(
        dedup.incremental_exact_dedup(
            s2, corp, id_col, text_col, corpus_fps=corpus_fps
        ),
        "stage3_exact",
    )

    # band the DELTA once — the dominant per-run cost (shingle explode +
    # md5 min-hash aggregation) is shared by both candidate passes via
    # the persisted frame (ADVICE r7: released below, branch-dependent)
    delta_banded = dedup._minhash(
        s3, id_col, text_col, shingle_n, num_hashes, seed=None, bands=bands
    ).persist()
    cross = dedup.incremental_lsh_candidates_portable(
        s3, corp, id_col, text_col, shingle_n, num_hashes, bands,
        new_banded=delta_banded, corpus_banded=corpus_banded,
    ).select(
        F.col("corpus_id").alias("id_a"), F.col("new_id").alias("id_b")
    )
    within = dedup.minhash_lsh_candidates_portable(
        s3, id_col, text_col, shingle_n, num_hashes, bands,
        banded=delta_banded,
    )
    if prune_corpus_text:
        # O(delta + candidates) VERIFY (the 100 TB daily build): pairs
        # is consumed three times (corpus-text pruning semi-join, verify
        # attach, loser anti-join); localCheckpoint materializes the
        # small candidate-id list ONCE and truncates lineage so the
        # banding subtree never re-executes (the connected_components
        # stance), and the banded-delta cache is released
        # deterministically right after.  The verify then touches corpus
        # TEXT only for candidate docs (corpus ids appear only as id_a):
        # with the fingerprint/banded artifacts also prebuilt, NOTHING
        # in the funnel scans full history.
        pairs = cross.union(within).localCheckpoint()
        delta_banded.unpersist()
        verify_docs = corp.join(
            pairs.select(F.col("id_a").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        ).union(s3)
    else:
        # Default: keep the whole funnel lazy — one action evaluates it
        # and Spark's ReuseExchange dedupes the shared banding subtree;
        # an eager checkpoint here only adds a barrier, and the one
        # map-only corpus text scan in the verify is cheaper than the
        # prune's joins until corpus text dwarfs the candidate set.  The
        # banded-delta cache stays registered for the session
        # (deliberate: releasing it needs an eager action, which costs
        # more than the cache at this mode's scale).
        pairs = cross.union(within)
        verify_docs = corp.union(s3)
    s4 = _stage(
        dedup._verify_and_drop(
            s3, pairs, id_col, text_col, shingle_n, jaccard_threshold,
            verify_docs=verify_docs,
        ),
        "stage4_neardup",
    )

    dec = dedup.decontaminate(s4, benchmark, id_col, text_col, n=shingle_n)
    s5 = _stage(
        s4.join(
            dec.filter(F.col("contaminated")).select(id_col),
            id_col,
            "left_anti",
        ),
        "stage5_decontaminate",
    )

    stages = [
        (0, "input", s0), (1, "gopher", s1), (2, "c4", s2),
        (3, "exact", s3), (4, "neardup", s4), (5, "decontaminate", s5),
    ]
    return s5, _provenance_funnel(stages, id_col)
