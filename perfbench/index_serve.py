"""index_serve: top-k retrieval from persisted indexes under a seeded
closed-loop request mix of searches and index mutations.

Set-up builds a BM25 index over the seeded corpus and an IVF index over
seeded clustered embeddings. Each op is one request from
``gen.RequestMix``: a 16-query BM25 batch, a 16-query IVF batch, or a
500-row append to / delete from either index.
"""

from __future__ import annotations

from common import OpResult, Workload, dir_stats
from stats import median, rate, tail
import gen

from ncbi_analysis_spark.operators import retrieval as rt
from ncbi_analysis_spark.operators import similarity_search as ss
from ncbi_analysis_spark.operators import tombstones as ts

N_DOCS = 10_000
N_VECS = 20_000
DIM = 64
N_CENTROIDS = 16
NPROBE = 2
TOP_K = 10
BATCH = 16
MUTATE_ROWS = 500

LAYER = {
    "bm25": "operators.retrieval.search",
    "ivf": "operators.similarity_search.search",
    "bm25_append": "operators.retrieval.append",
    "bm25_delete": "operators.retrieval.delete",
    "ivf_append": "operators.similarity_search.append",
    "ivf_delete": "operators.similarity_search.delete",
}


class IndexServe(Workload):
    name = "index_serve"
    primary = "search"
    round_len = gen.ROUND
    warmup_ops = 4

    def generate(self) -> None:
        self.docs = gen.make_corpus(self.seed, N_DOCS).docs
        self.vecs = gen.make_embeddings(self.seed, N_VECS, DIM)
        gen.write_docs(self.docs, self.input("documents.parquet"))
        gen.write_embeddings(self.vecs, self.input("embeddings.parquet"))

    def build(self, build_dir: str) -> None:
        """Build both persisted indexes from scratch."""
        super().build(build_dir)
        spark = self.spark
        self.bm25_path = self.path("bm25_index")
        self.ivf_path = self.path("ivf_index")
        rt.write_bm25_index(spark.read.parquet(self.input("documents.parquet")), self.bm25_path)
        emb = spark.read.parquet(self.input("embeddings.parquet")).select("vec_id", "embedding")
        self.centroids = ss.train_ivf_centroids(emb, k=N_CENTROIDS, seed=self.seed).cache()
        ss.write_ivf_index(ss.ivf_assign(emb, self.centroids), self.ivf_path,
                           centroids=self.centroids)
        self.mix = gen.RequestMix(self.seed, self.docs, self.vecs, BATCH, MUTATE_ROWS)
        # warm both search paths before the seeded plan starts
        self.mix.forced.extend(["bm25", "ivf"] * 2)
        self.seen: set[str] = set()

    def op(self) -> OpResult:
        self.n_ops += 1
        req = self.mix.next()
        self.seen.add(req.kind)
        with self.tr.span(LAYER[req.kind]):
            check = getattr(self, "_" + req.kind)(req.payload)
        kind = ("search_" if req.kind in ("bm25", "ivf") else "mutate_") + req.kind
        return OpResult(kind, 1, check)

    # -- requests --------------------------------------------------------
    def _bm25(self, rows):
        q = self.spark.createDataFrame([(i, t) for i, t, _ in rows], "query_id long, query string")
        got = rt.bm25_topk_batch(self.spark, self.bm25_path, q, k=TOP_K).collect()
        dead = set(self.mix.deleted_docs)
        return lambda: self._check_search(
            got, "query_id", "doc_id", {i: e for i, _, e in rows if e is not None}, dead)

    def _ivf(self, rows):
        q = self.spark.createDataFrame([(i, [float(x) for x in v]) for i, v, _ in rows],
                                       "q_id long, embedding array<float>")
        index = ss.read_ivf_index(self.spark, self.ivf_path)
        got = ss.ivf_topk(index, q, self.centroids, k=TOP_K, nprobe=NPROBE, assigned=index,
                          prefilter_partitions=True).collect()
        dead = set(self.mix.deleted_vecs)
        return lambda: self._check_search(
            got, "q_id", "vec_id", {i: e for i, _, e in rows if e is not None}, dead)

    @staticmethod
    def _check_search(got, qcol, idcol, expect_top, dead) -> str | None:
        if not got:
            return "search returned no rows"
        returned = {r[idcol] for r in got}
        if returned & dead:
            return f"deleted ids returned: {sorted(returned & dead)[:5]}"
        top = {r[qcol]: r[idcol] for r in got if r["rk"] == 1}
        for q, want in expect_top.items():
            if top.get(q) != want:
                return f"appended {idcol} {want} is not first for its own query (got {top.get(q)})"
        return None

    def _bm25_append(self, rows):
        df = self.spark.createDataFrame(rows, "doc_id long, text string")
        rt.append_to_bm25_index(df, self.bm25_path)
        return lambda: None    # verified by the probes of later searches

    def _ivf_append(self, rows):
        df = self.spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows],
                                        "vec_id long, embedding array<float>")
        ss.append_to_ivf_index(df, self.centroids, self.ivf_path)
        return lambda: None

    def _bm25_delete(self, ids):
        n = rt.delete_from_bm25_index(self._ids(ids, "doc_id"), self.bm25_path)
        return lambda: None if n == len(ids) else f"bm25 delete removed {n} of {len(ids)}"

    def _ivf_delete(self, ids):
        n = ss.delete_from_ivf_index(self._ids(ids, "vec_id"), self.ivf_path)
        return lambda: None if n == len(ids) else f"ivf delete removed {n} of {len(ids)}"

    def _ids(self, ids, col):
        return self.spark.createDataFrame([(i,) for i in ids], f"{col} long")

    # -- traced run ---------------------------------------------------------
    def extra_trace_ops(self) -> int:
        """Every mutation kind, then one search of each index so the
        appended and deleted ids are probed."""
        missing = [k for k in gen.MUTATIONS if k not in self.seen]
        self.mix.forced.extend(missing + ["bm25", "ivf"])
        return len(missing) + 2

    def layer_metrics(self) -> dict[str, float]:
        tr = self.tr
        out = {f"{name}_s": tr.median_of(name) for name in LAYER.values()}
        bm_files, bm_bytes = dir_stats(self.bm25_path)
        ivf_files, ivf_bytes = dir_stats(self.ivf_path)
        tomb = 0
        for p in (self.bm25_path, self.ivf_path):
            t = ts.read_tombstones(self.spark, p)
            tomb += t.count() if t is not None else 0
        live_text = sum(len(self.mix.doc_text[d].encode()) for d in self.mix.live_docs)
        user_bytes = live_text + 4 * DIM * len(self.mix.live_vecs)
        out.update({
            "operators.retrieval.index_files": bm_files,
            "operators.similarity_search.index_files": ivf_files,
            "operators.tombstones.live_tombstones": tomb,
            "index.bytes_per_user_byte": (bm_bytes + ivf_bytes) / user_bytes,
        })
        return out

    def report(self, walls, units):
        search = walls.get("search_bm25", []) + walls.get("search_ivf", [])
        mutate = [w for k, v in walls.items() if k.startswith("mutate_") for w in v]
        t, pct, n = tail(search)
        return [
            ("search_p50_s", median(search), "s"),
            (f"search_tail_s(p{pct:.1f},n={n})", t, "s"),
            ("mutate_p50_s", median(mutate), "s"),
            ("serve_ops_per_s", rate(sum(units.values()), walls), "1/s"),
        ]
