"""``curation``: LLM-data batch jobs on seeded ``documents`` and
``embeddings``.  One op is one pass, which runs in order:

* ``funnel``: ``pipeline.curation_pipeline`` (the registered
  ``pipeline_e2e`` form: Gopher -> C4 -> exact dedup -> MinHash near-dedup
  -> ExactSubstr -> decontamination);
* the similarity jobs ``mutual_nn_pairs``, ``margin_mined_pairs``,
  ``knn_label_accuracy`` and ``semantic_dedup``.

Set-up runs the same pass once on a tenth of the inputs, so the measured
passes are warm; the first-run cost of each job's plan shapes lands in
``setup_s``.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.common import same_rows
from perfbench.tracer import NULL_TRACER

N_DOCS = 600
N_VECTORS = 600
WARMUP_SHARE = 10  # the warm-up pass reads ids below N / WARMUP_SHARE
# the knn oracle is a 600 x 600 cross join in DuckDB (~5 s): run it at this
# seed only, and check invariants at the others
ORACLE_SEED = 1
JOBS = ("funnel", "mutual_nn", "margin_pairs", "knn_accuracy", "semantic_dedup")
SENTENCES = r"regexp_replace(text, '(\\S+ \\S+ \\S+ \\S+ \\S+ \\S+) ', '$1.\n')"


class Curation:
    name = "curation"
    # a pass's cost varied by 20% between runs of the same seed and falls
    # from pass to pass as the JVM warms; three passes give a steady median
    MIN_OPS = 3
    MIN_OPS_TRACED = 1  # the traced run replays its pass twice more

    def __init__(self, seed: int, tmp: str):
        self.seed, self.tmp = seed, tmp
        self.paths: dict[str, str] = {}
        self.outputs: list[dict] = []
        self.job_timing: list[tuple[str, float, int]] = []  # (job, seconds, input rows)

    # -- inputs ------------------------------------------------------------

    def generate(self):
        docs = datagen.documents(self.seed, N_DOCS).select(["doc_id", "text"])
        self._write("documents", docs)
        self._write("embeddings", datagen.embeddings(self.seed, N_VECTORS))
        self.train_docs = sum(i % 20 != 0 for i in docs.column("doc_id").to_pylist())

    def _write(self, name, table):
        path = os.path.join(self.tmp, f"{name}.parquet")
        pq.write_table(table, path)
        self.paths[name] = path

    def input_summary(self) -> dict:
        return {"documents": N_DOCS, "vectors": N_VECTORS}

    # -- session -----------------------------------------------------------

    def prepare(self, spark):
        from clickhouse_flatfile_tool_spark.sources.files import read_parquet

        self.frames = {n: read_parquet(spark, p) for n, p in self.paths.items()}

    def warmup(self, spark):
        from pyspark.sql import functions as F

        full = self.frames
        self.frames = {
            "documents": full["documents"].filter(F.col("doc_id") < N_DOCS // WARMUP_SHARE),
            "embeddings": full["embeddings"].filter(F.col("vec_id") < N_VECTORS // WARMUP_SHARE),
        }
        self.run(spark, "pass", NULL_TRACER)
        self.frames = full
        self.outputs.clear()
        self.job_timing.clear()

    # -- measured ops --------------------------------------------------------

    def ops(self):
        while True:
            yield "pass"

    @staticmethod
    def label(op) -> str:
        return op

    def run(self, spark, op, tracer) -> int:
        """One pass: every job once, each timed on its own."""
        rows = 0
        for job in JOBS:
            t0 = time.perf_counter()
            n = self._job(job, tracer)
            self.job_timing.append((job, time.perf_counter() - t0, n))
            rows += n
        return rows

    def _job(self, job, tracer) -> int:
        from pyspark.sql import functions as F

        from clickhouse_flatfile_tool_spark.operators import pipeline, similarity

        emb = self.frames["embeddings"]
        left, right = emb.filter(F.col("vec_id") % 2 == 0), emb.filter(F.col("vec_id") % 2 == 1)
        with tracer.span("phase.build"):
            if job == "funnel":
                docs = self.frames["documents"]
                train = docs.filter(F.col("doc_id") % 20 != 0).select(
                    "doc_id", F.expr(SENTENCES).alias("text"))
                _final, df = pipeline.curation_pipeline(train, docs.filter(F.col("doc_id") % 20 == 0))
                rows = self.train_docs
            elif job == "mutual_nn":
                df, rows = similarity.mutual_nn_pairs(left, right), N_VECTORS
            elif job == "margin_pairs":
                df, rows = similarity.margin_mined_pairs(left, right, margin_k=4), N_VECTORS
            elif job == "knn_accuracy":
                df, rows = similarity.knn_label_accuracy(emb, "label", k=1), N_VECTORS
            else:
                df = similarity.semantic_dedup(emb, cos_threshold=0.9, n_clusters=8).select("vec_id", "label")
                rows = N_VECTORS
        out = df.collect()
        self.outputs.append({"job": job, "columns": df.columns, "rows": [tuple(r) for r in out]})
        return rows

    def after_op(self, spark):
        pass

    # -- output checks (untimed) ---------------------------------------------

    def check(self, spark) -> list[str]:
        """Funnel and similarity outputs equal the registry's DuckDB oracles
        on the same inputs (knn accuracy at ``ORACLE_SEED``, its invariants
        elsewhere), the funnel never grows, and semantic dedup never keeps
        both of two near-identical vectors."""
        import __spark_entry__ as entry

        oracle = entry.oracle_sql()
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.paths['documents']}')")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{self.paths['embeddings']}')")
        names = {"funnel": "pipeline_e2e", "mutual_nn": "mutual_nn", "margin_pairs": "margin_pairs"}
        if self.seed == ORACLE_SEED:
            names["knn_accuracy"] = "knn_accuracy"
        want = {}
        failures = []
        for out in self.outputs:
            job = out["job"]
            if job in names:
                if job not in want:
                    cur = con.execute(oracle[names[job]])
                    want[job] = ([d[0] for d in cur.description], sorted(cur.fetchall()))
                cols, rows = want[job]
                if cols != out["columns"] or not same_rows(sorted(out["rows"]), rows):
                    failures.append(f"curation {job}: output differs from the DuckDB oracle")
            if job == "funnel":
                docs = [r[out["columns"].index("docs")] for r in sorted(out["rows"])]
                if any(b > a for a, b in zip(docs, docs[1:])):
                    failures.append(f"curation {job}: funnel count increases")
            if job == "knn_accuracy":
                n = [r[out["columns"].index("n")] for r in out["rows"]]
                if sum(n) != N_VECTORS:
                    failures.append("curation knn_accuracy: votes do not cover every vector")
            if job == "semantic_dedup":
                failures += self._semdedup_check(out)
        con.close()
        return failures

    def _semdedup_check(self, out) -> list[str]:
        t = pq.read_table(self.paths["embeddings"])
        vec = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        vec /= np.linalg.norm(vec, axis=1, keepdims=True)
        survivors = {r[0] for r in out["rows"]}
        ids = t.column("vec_id").to_pylist()
        cos = vec @ vec.T
        near = np.argwhere(np.triu(cos, 1) >= 0.999)
        both = [(ids[a], ids[b]) for a, b in near if ids[a] in survivors and ids[b] in survivors]
        return [f"curation semantic_dedup: near-identical pair {both[0]} both survived"] if both else []

    # -- workload figures ----------------------------------------------------

    def figures(self, records) -> dict:
        # the passes of ``records`` are the first ones after warm-up
        timed = self.job_timing[:len(JOBS) * len(records)]

        def rate(jobs):
            rs = [t for t in timed if t[0] in jobs]
            secs = sum(t[1] for t in rs)
            return sum(t[2] for t in rs) / secs if secs else 0.0

        return {
            "funnel_docs_per_s": rate({"funnel"}),
            "knn_queries_per_s": rate({"mutual_nn", "margin_pairs", "knn_accuracy", "semantic_dedup"}),
        }
