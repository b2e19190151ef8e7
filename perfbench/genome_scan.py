"""genome_scan: the reference pipeline 1+3 on seeded GenBank files.

One op = parse the GenBank files, scan them for a fresh set of planted
queries with the full scorer mix, annotate the hits with their
neighbouring genes and write the match report.
"""

from __future__ import annotations

import glob
import os
import statistics

import numpy as np
from pyspark.sql import functions as F

from common import OpResult, Workload
from stats import rate
import gen

from ncbi_analysis_spark.plans import pipelines
from ncbi_analysis_spark.plans.similarity_scan import (
    chunk_genome, render_candidates, scan_candidates, similarity_scan,
)
from ncbi_analysis_spark.similarity.pattern import MatchPattern, pattern_scores_chunk
from ncbi_analysis_spark.similarity.scorers import text_edit_scores_batch
from ncbi_analysis_spark.sources import genbank, sinks

N_ACC = 4
ACC_LEN = 150_000
QUERIES_PER_OP = 8
TOP_K = 5
DISTANCE = 5
PATIENCE = 2
MISMATCH_LIMIT = 4
CHUNK = 8192
WEIGHTS = {"direct": 1.0, "consistency": 1.0, "text_edit": 1.0, "pattern": 1.0}
CONDS = {"must": [{"offset": 0, "length": 3}, {"offset": -3, "length": 3}],
         "optional": [{"offset": 3, "length": 1}]}
FLOOR = 14.0
KERNEL_WINDOWS = 4096  # windows per query for the in-process kernel timing


class GenomeScan(Workload):
    name = "genome_scan"
    primary = "scan"
    warmup_ops = 1

    def generate(self) -> None:
        self.genome = gen.make_genome(self.seed, self.input("genbank"), N_ACC, ACC_LEN)
        self.glob = self.input("genbank", "*.gb")
        self.rng = gen.rng_for(self.seed, "queries")
        self.cells_per_query = 2 * sum(len(s) - gen.QUERY_LEN + 1
                                       for s in self.genome.seqs.values())

    def op(self) -> OpResult:
        self.n_ops += 1
        spark, tr = self.spark, self.tr
        planted = gen.plant_queries(self.genome, self.rng, QUERIES_PER_OP, f"op{self.n_ops}")
        q_df = spark.createDataFrame([(q.name, q.gene) for q in planted], "name string, gene string")
        genome = genbank.read_genbank_genome(spark, self.glob).select("accession", "seq").cache()
        genes = genbank.read_genbank_genes(spark, self.glob).cache()
        out_dir = self.path("reports", f"op{self.n_ops}")
        try:
            if tr.enabled:
                with tr.span("sources.genbank.parse"):
                    genome.count()
                    genes.count()
                self._kernels(planted)
                chunks = (chunk_genome(genome, CHUNK, gen.QUERY_LEN - 1, halo=DISTANCE - 1)
                          .repartition(spark.sparkContext.defaultParallelism)
                          .withColumn("chunk_size_", F.lit(CHUNK)))
                with tr.span("plans.similarity_scan.candidates"):
                    n_cand = scan_candidates(
                        chunks, q_df, WEIGHTS, PATIENCE, MISMATCH_LIMIT, CONDS, None,
                        FLOOR, suppress_distance=DISTANCE - 1).count()
                tr.count("candidates", n_cand)
                tr.count("cells", QUERIES_PER_OP * self.cells_per_query)
            hits = similarity_scan(
                genome, q_df, WEIGHTS, top_k=TOP_K, candidate_distance=DISTANCE,
                patience=PATIENCE, continuous_mismatch_limit=MISMATCH_LIMIT,
                pattern_conditions=CONDS, chunk_size=CHUNK, score_floor=FLOOR,
            ).cache()
            with tr.span("plans.similarity_scan.scan"):
                rows = hits.collect()
            matches = hits.select(
                "accession", "name", "rk",
                F.least("start", "end").alias("left"), F.greatest("start", "end").alias("right"))
            with tr.span("plans.pipelines.neighbor_analysis"):
                nb = pipelines.neighbor_analysis(matches, genes).collect()
            with tr.span("sources.sinks.write"):
                rendered = render_candidates(hits, genome, q_df, list(WEIGHTS), PATIENCE)
                sinks.write_match_report(rendered, out_dir, list(WEIGHTS))
        finally:
            for df in (genome, genes):
                df.unpersist()
            if "hits" in locals():
                hits.unpersist()
        return OpResult("scan", QUERIES_PER_OP * self.cells_per_query,
                        lambda: self._check(planted, rows, nb, out_dir))

    def _kernels(self, planted: list[gen.PlantedQuery]) -> None:
        """Time the public similarity kernels in-process on this op's
        windows: each query against KERNEL_WINDOWS windows around its
        planted locus, on the strand it was planted on."""
        work = []
        for q in planted:
            seq = self.genome.seqs[q.accession]
            if q.strand == "-":
                seq = seq[::-1].translate(gen._COMP)
                hit = len(seq) - q.start
            else:
                hit = q.start - 1
            lo = max(0, min(hit - KERNEL_WINDOWS // 2, len(seq) - KERNEL_WINDOWS - gen.QUERY_LEN))
            chunk = seq[lo:lo + KERNEL_WINDOWS + gen.QUERY_LEN - 1]
            work.append((q.gene, chunk))
        with self.tr.span("similarity.text_edit"):
            for g, chunk in work:
                ca = np.frombuffer(chunk.encode("ascii"), dtype=np.uint8)
                windows = np.lib.stride_tricks.sliding_window_view(ca, gen.QUERY_LEN)
                text_edit_scores_batch(np.frombuffer(g.encode("ascii"), dtype=np.uint8),
                                       windows, MISMATCH_LIMIT)
        with self.tr.span("similarity.pattern"):
            for g, chunk in work:
                pattern_scores_chunk(MatchPattern(g, CONDS), chunk,
                                     np.arange(KERNEL_WINDOWS), gen.QUERY_LEN)

    @staticmethod
    def _check(planted, rows, nb, out_dir) -> str | None:
        got = {(r["name"], r["accession"], r["strand"], r["start"], r["end"]) for r in rows}
        overlaps = {(r["name"], r["rk"]): (r["overlap_genes"] or "").split(",") for r in nb}
        for q in planted:
            if (q.name, q.accession, q.strand, q.start, q.end) not in got:
                return f"{q.name}: planted locus {q.accession}:{q.start}-{q.end} not in top-{TOP_K}"
            rk = next(r["rk"] for r in rows if r["name"] == q.name
                      and r["start"] == q.start and r["strand"] == q.strand)
            if q.host_gene not in overlaps.get((q.name, rk), []):
                return f"{q.name}: host gene {q.host_gene} missing from neighbor analysis"
        blocks = 0
        for p in glob.glob(os.path.join(out_dir, "part-*")):
            with open(p) as fh:
                blocks += sum(1 for line in fh if line.startswith("("))
        if blocks != len(rows):
            return f"match report has {blocks} blocks for {len(rows)} hits"
        return None

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        cand = tr.layer_totals("plans.similarity_scan.candidates")
        scan = tr.layer_totals("plans.similarity_scan.scan")
        tails = [max(s - c, 0.0) for s, c in zip(scan, cand)]
        return {
            "similarity.text_edit_s": tr.median_of("similarity.text_edit"),
            "similarity.pattern_s": tr.median_of("similarity.pattern"),
            "plans.similarity_scan.candidates_s": tr.median_of("plans.similarity_scan.candidates"),
            "plans.similarity_scan.tail_s": statistics.median(tails) if tails else 0.0,
            "plans.similarity_scan.candidates_per_cell":
                tr.counts.get("candidates", 0.0) / max(tr.counts.get("cells", 1.0), 1.0),
            "sources.genbank.parse_s": tr.median_of("sources.genbank.parse"),
            "plans.pipelines.neighbor_analysis_s": tr.median_of("plans.pipelines.neighbor_analysis"),
            "sources.sinks.write_s": tr.median_of("sources.sinks.write"),
        }

    def report(self, walls, units):
        return [("scan_offsets_per_s", rate(units.get("scan", 0.0), walls), "1/s")]
