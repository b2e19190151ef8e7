"""corpus_curate: batch curation passes and streaming curation deltas.

Ops alternate in a fixed cycle: one batch pass of ``curate_corpus`` over
the seeded corpus into a parquet sink, then one availableNow
``run_curation_job`` over the seeded crawl delta into a durable parquet
sink (fresh checkpoint, so every delta op curates the same files).
"""

from __future__ import annotations

import glob
import os

import duckdb
from pyspark.sql import functions as F

from common import OpResult, Workload
from stats import rate
import gen

from ncbi_analysis_spark.operators import dedup as dd
from ncbi_analysis_spark.operators.terms import quality_classifier_weights
from ncbi_analysis_spark.plans import driver_queries
from ncbi_analysis_spark.plans.curation import curate_corpus
from ncbi_analysis_spark.sources import sinks
from ncbi_analysis_spark.streaming.events import run_curation_job

N_DOCS = 20_000
N_DELTA = 4_000
DELTA_FILES = 8
ORACLE_DOCS = 1_500
MIN_PROB = 0.5
MIN_CLEAN_KEPT = 0.95


class CorpusCurate(Workload):
    name = "corpus_curate"
    primary = "curate"
    round_len = 2
    trace_stride = 2
    warmup_ops = 2

    def generate(self) -> None:
        self.corpus = gen.make_corpus(self.seed, N_DOCS)
        self.docs_dir = self.input("documents.parquet")
        gen.write_docs(self.corpus.docs, self.docs_dir, n_files=4)
        bench_texts = self.corpus.docs.loc[
            self.corpus.docs["doc_id"] % gen.BENCH_MOD == 0, "text"].tolist()
        self.delta = gen.make_corpus(self.seed, N_DELTA, id_base=10_000_000,
                                     bench_texts=bench_texts, mix=(0.0, 0.0, 0.05, 0.05),
                                     stream="delta")
        self.delta_dir = self.input("delta")
        gen.write_docs(self.delta.docs, self.delta_dir, n_files=DELTA_FILES)
        self.expect: dict[str, int] = {}

    def build(self, build_dir: str) -> None:
        """Fit the stream gate's quality classifier (clean vs spam docs)
        and cache the benchmark split it decontaminates against."""
        super().build(build_dir)
        spark = self.spark
        docs = spark.read.parquet(self.docs_dir)
        self.bench = docs.filter(F.col("doc_id") % gen.BENCH_MOD == 0).select(
            F.col("doc_id").alias("bench_id"), "text").cache()
        self.weights, self.bias = quality_classifier_weights(
            docs.filter(F.col("doc_id").isin(sorted(self.corpus.clean)[:2000])),
            docs.filter(F.col("doc_id").isin(sorted(self.corpus.spam))),
            "text", "doc_id", n_buckets=1024, ngram_max=2)
        self.weights = self.weights.cache()
        self.delta_schema = spark.read.parquet(self.delta_dir).schema

    def op(self) -> OpResult:
        self.n_ops += 1
        if self.n_ops % 2:
            return self._batch()
        return self._stream()

    # -- batch pass ------------------------------------------------------
    def _batch(self) -> OpResult:
        spark, tr = self.spark, self.tr
        docs = spark.read.parquet(self.docs_dir)
        corpus = docs.filter(F.col("doc_id") % gen.BENCH_MOD != 0)
        bench = docs.filter(F.col("doc_id") % gen.BENCH_MOD == 0)
        out = self.path("curated", f"op{self.n_ops}")
        if tr.enabled:
            self._batch_layers(corpus, bench)
        with tr.span("sources.sinks.write"):
            sinks.write_parquet(curate_corpus(corpus, bench), out)
        return OpResult("curate", N_DOCS, lambda: self._check_batch(out))

    def _batch_layers(self, corpus, bench) -> None:
        """Each stage of the batch pass, called and materialized alone."""
        tr = self.tr
        with tr.span("operators.dedup.exact_dedup"):
            ex = dd.exact_dedup(corpus, "text", "doc_id").cache()
            ex.count()
        try:
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                pairs = dd.minhash_lsh_pairs(ex, "text", "doc_id", 4, 2, 3,
                                             max_band_freq=None).collect()
            tr.count("lsh_pairs", len(pairs))
            tr.count("lsh_pairs_planted", sum(p["id_b"] in self.corpus.near_dups for p in pairs))
            with tr.span("operators.dedup.repetition_signals"):
                dd.repetition_signals(ex, "text", "doc_id").count()
            with tr.span("operators.dedup.benchmark_ngram_overlap"):
                dd.benchmark_ngram_overlap(ex, bench, "text", "doc_id", 3).count()
        finally:
            ex.unpersist()

    def _check_batch(self, out: str) -> str | None:
        kept = {r["doc_id"] for r in self.spark.read.parquet(out).select("doc_id").collect()}
        bad = kept & self.corpus.planted_bad
        if bad:
            return f"{len(bad)} planted dup/spam/contaminated docs survived, e.g. {min(bad)}"
        clean_kept = len(kept & self.corpus.clean) / max(len(self.corpus.clean), 1)
        if clean_kept < MIN_CLEAN_KEPT:
            return f"only {clean_kept:.3f} of clean docs survived"
        return self._same("curate", len(kept))

    # -- streaming delta -------------------------------------------------
    def _stream(self) -> OpResult:
        out = self.path("stream", f"op{self.n_ops}", "out")
        ck = self.path("stream", f"op{self.n_ops}", "ck")
        with self.tr.span("streaming.curation_job"):
            run_curation_job(self.spark, self.delta_dir, self.delta_schema, self.bench,
                             self.weights, self.bias, out, ck, min_prob=MIN_PROB)
        return OpResult("stream", N_DELTA, lambda: self._check_stream(out))

    def _check_stream(self, out: str) -> str | None:
        rows = self.spark.read.parquet(out).select("doc_id", "prob").collect()
        ids = [r["doc_id"] for r in rows]
        if len(set(ids)) != len(ids):
            return "duplicate doc ids in the stream sink"
        if not set(ids) <= set(self.delta.docs["doc_id"]):
            return "stream sink holds ids that are not in the delta"
        bad = set(ids) & self.delta.contaminated
        if bad:
            return f"{len(bad)} contaminated delta docs passed the stream gate"
        if any(r["prob"] < MIN_PROB for r in rows):
            return "stream sink holds docs below the quality gate"
        return self._same("stream", len(ids))

    def _same(self, kind: str, n: int) -> str | None:
        """Every op of a kind curates the same inputs, so it must keep
        the same number of docs as the first one did."""
        if n == 0:
            return f"{kind} kept no documents"
        want = self.expect.setdefault(kind, n)
        return None if n == want else f"{kind} kept {n} docs, first op kept {want}"

    # -- untimed checks ----------------------------------------------------
    def once_checks(self):
        """The Spark curation must equal the DuckDB CURATION_SQL oracle on
        a small corpus from the same generator."""
        small = gen.make_corpus(self.seed, ORACLE_DOCS, stream="oracle")
        d = self.path("oracle")
        gen.write_docs(small.docs, os.path.join(d, "documents.parquet"))
        got = {tuple(r) for r in driver_queries.curation_pipeline(self.spark, d).collect()}
        con = duckdb.connect()
        try:
            files = sorted(glob.glob(os.path.join(d, "documents.parquet", "*.parquet")))
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
            want = {tuple(r) for r in con.execute(driver_queries.CURATION_SQL).fetchall()}
        finally:
            con.close()
        why = None if got == want else (
            f"curation differs from the SQL oracle: {len(got ^ want)} rows")
        return [("curate_oracle", why)]

    # -- traced run ---------------------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        pairs = tr.counts.get("lsh_pairs", 0.0)
        return {
            "operators.dedup.exact_dedup_s": tr.median_of("operators.dedup.exact_dedup"),
            "operators.dedup.minhash_lsh_pairs_s": tr.median_of("operators.dedup.minhash_lsh_pairs"),
            "operators.dedup.repetition_signals_s": tr.median_of("operators.dedup.repetition_signals"),
            "operators.dedup.benchmark_ngram_overlap_s":
                tr.median_of("operators.dedup.benchmark_ngram_overlap"),
            "operators.dedup.lsh_pairs": pairs / max(len(tr.layer_totals(
                "operators.dedup.minhash_lsh_pairs")), 1),
            "operators.dedup.lsh_pair_yield": tr.counts.get("lsh_pairs_planted", 0.0) / pairs
            if pairs else 0.0,
            "sources.sinks.write_s": tr.median_of("sources.sinks.write"),
            "streaming.curation_job_s": tr.median_of("streaming.curation_job"),
            "streaming.startup_s": tr.first_job_delay("streaming.curation_job"),
        }

    def report(self, walls, units):
        return [(name, rate(units.get(kind, 0.0), {kind: walls.get(kind, [])}), "1/s")
                for kind, name in (("curate", "curate_docs_per_s"),
                                   ("stream", "stream_docs_per_s"))]
