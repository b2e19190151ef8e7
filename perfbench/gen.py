"""Seeded input generators for the benchmark workloads.

Every generator takes its seed (or a ``numpy.random.Generator`` built
from it) as an argument and is pure: the same seed gives byte-identical
files and the same request stream. The program under test only ever
sees the files written here, never the planted labels, which stay in
the benchmark process for the output checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASES = np.frombuffer(b"acgt", dtype=np.uint8)
BENCH_MOD = 97  # doc_id % 97 == 0 is the held-out benchmark split (CURATION_SQL)
QUERY_LEN = 24
QUERY_MUTATIONS = 2
# the scorer's pattern conditions look at the first and last 3 bases and
# the 4th; mutations stay clear of them so the planted hit keeps its
# pattern score
MUTATION_SPAN = (4, QUERY_LEN - 4)


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible random stream per (seed, purpose)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([int(seed), tag])


# ----------------------------------------------------------- genome_scan

@dataclass
class Genome:
    paths: list[str]
    seqs: dict[str, str]                 # accession -> forward sequence
    genes: dict[str, list[tuple[int, int, str]]]  # accession -> (left, right, name)


def _genbank_text(acc: str, seq: str, genes: list[tuple[int, int, str, str]]) -> str:
    lines = [
        f"LOCUS       {acc}  {len(seq)} bp    DNA     linear   BCT",
        f"SOURCE      Synthetica benchmarkii {acc[-2:]}",
        "FEATURES             Location/Qualifiers",
    ]
    for left, right, strand, name in genes:
        loc = f"{left}..{right}" if strand == "+" else f"complement({left}..{right})"
        lines.append(f"     gene            {loc}")
        lines.append(f'                     /gene="{name}"')
        lines.append(f'                     /locus_tag="{name.upper()}"')
    lines.append("ORIGIN")
    for i in range(0, len(seq), 60):
        row = seq[i:i + 60]
        groups = " ".join(row[j:j + 10] for j in range(0, len(row), 10))
        lines.append(f"{i + 1:>9} {groups}")
    lines.append("//")
    return "\n".join(lines) + "\n"


def make_genome(seed: int, out_dir: str, n_acc: int, acc_len: int,
                gene_every: int = 1000) -> Genome:
    """``n_acc`` GenBank files of ``acc_len`` random bases each, with one
    gene feature about every ``gene_every`` bases on a random strand."""
    rng = rng_for(seed, "genome")
    os.makedirs(out_dir, exist_ok=True)
    paths, seqs, gene_tab = [], {}, {}
    for a in range(n_acc):
        acc = f"NC_B{seed % 1000:03d}{a:02d}"
        seq = BASES[rng.integers(0, 4, acc_len)].tobytes().decode("ascii")
        genes = []
        for g, base in enumerate(range(0, acc_len - gene_every, gene_every)):
            left = base + int(rng.integers(1, gene_every // 4))
            right = left + int(rng.integers(gene_every // 3, 3 * gene_every // 4))
            strand = "+" if rng.random() < 0.5 else "-"
            genes.append((left, right, strand, f"g{a}_{g}"))
        path = os.path.join(out_dir, f"{acc}.gb")
        with open(path, "w") as fh:
            fh.write(_genbank_text(acc, seq, genes))
        paths.append(path)
        seqs[acc] = seq
        gene_tab[acc] = [(lft, rgt, name) for lft, rgt, _s, name in genes]
    return Genome(paths, seqs, gene_tab)


_COMP = str.maketrans("acgt", "tgca")


@dataclass
class PlantedQuery:
    name: str
    gene: str          # the query sequence
    accession: str
    strand: str        # strand the hit is expected on
    start: int         # expected 1-based report coordinates
    end: int
    host_gene: str     # the annotated gene the locus lies inside


def plant_queries(genome: Genome, rng: np.random.Generator, n: int,
                  tag: str) -> list[PlantedQuery]:
    """``n`` queries, each a QUERY_LEN-mer cut from inside a known gene
    and given QUERY_MUTATIONS point mutations; half are reverse
    complemented, so their hit is on the '-' strand."""
    out = []
    accs = sorted(genome.seqs)
    for i in range(n):
        acc = accs[int(rng.integers(0, len(accs)))]
        left, right, host = genome.genes[acc][int(rng.integers(0, len(genome.genes[acc])))]
        p = int(rng.integers(left, right - QUERY_LEN))  # 0-based; inside [left, right]
        q = bytearray(genome.seqs[acc][p:p + QUERY_LEN].encode("ascii"))
        for pos in rng.choice(np.arange(*MUTATION_SPAN), QUERY_MUTATIONS, replace=False):
            q[pos] = int(BASES[(list(BASES).index(q[pos]) + int(rng.integers(1, 4))) % 4])
        q = q.decode("ascii")
        if i % 2:
            out.append(PlantedQuery(f"{tag}_q{i}", q[::-1].translate(_COMP), acc,
                                    "-", p + QUERY_LEN, p + 1, host))
        else:
            out.append(PlantedQuery(f"{tag}_q{i}", q, acc, "+", p + 1, p + QUERY_LEN, host))
    return out


# --------------------------------------------------------- corpus_curate

VOCAB = [a + b + c for a in ("b", "d", "k", "m", "p", "s", "t", "v", "z", "r")
         for b in ("a", "e", "i", "o", "u", "ai", "ou")
         for c in ("n", "l", "x", "r", "s", "th", "m", "ck", "ng", "p")]  # 700 tokens
SPAM_WORDS = ["buy", "now", "free", "click", "win"]
LANGS = ["en", "de", "fr", "es"]


@dataclass
class Corpus:
    docs: pd.DataFrame                     # the documents.parquet schema
    exact_dups: set[int] = field(default_factory=set)
    near_dups: set[int] = field(default_factory=set)
    spam: set[int] = field(default_factory=set)
    contaminated: set[int] = field(default_factory=set)
    clean: set[int] = field(default_factory=set)

    @property
    def planted_bad(self) -> set[int]:
        """Docs curation must always drop (near-dups are probabilistic
        under LSH and are not in this set)."""
        return self.exact_dups | self.spam | self.contaminated


def _words(rng: np.random.Generator, n: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def _clean_text(rng: np.random.Generator) -> str:
    return " ".join(_words(rng, int(rng.integers(30, 70))))


def _spam_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(30, 60))
    return " ".join(SPAM_WORDS[i] for i in rng.integers(0, len(SPAM_WORDS), n))


def make_corpus(seed: int, n_docs: int, id_base: int = 0,
                bench_texts: list[str] | None = None,
                mix: tuple[float, float, float, float] = (0.04, 0.04, 0.03, 0.03),
                stream: str = "corpus") -> Corpus:
    """``n_docs`` documents with planted classes. ``mix`` is the share of
    (exact dups, near dups, spam, contaminated) among non-benchmark docs.

    Without ``bench_texts`` the ids with ``doc_id % 97 == 0`` are clean
    benchmark docs (the CURATION_SQL split) and contaminated docs copy
    one of them; with ``bench_texts`` (a crawl delta), contaminated docs
    copy those texts verbatim."""
    rng = rng_for(seed, stream)
    c = Corpus(pd.DataFrame())
    ids, texts = [], []
    bench_pool = list(bench_texts or [])
    clean_pool: list[str] = []
    p_exact, p_near, p_spam, p_cont = mix
    for i in range(n_docs):
        doc_id = id_base + i
        if bench_texts is None and doc_id % BENCH_MOD == 0:
            t = _clean_text(rng)
            bench_pool.append(t)
            ids.append(doc_id)
            texts.append(t)
            continue
        u = rng.random()
        if u < p_exact and clean_pool:
            src = clean_pool[int(rng.integers(0, len(clean_pool)))]
            # same text after lower/trim/whitespace-collapse normalization
            t = "  " + src.replace(" ", "   ", 2).upper() + " "
            c.exact_dups.add(doc_id)
        elif u < p_exact + p_near and clean_pool:
            ws = clean_pool[int(rng.integers(0, len(clean_pool)))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            t = " ".join(ws)
            c.near_dups.add(doc_id)
        elif u < p_exact + p_near + p_spam:
            t = _spam_text(rng)
            c.spam.add(doc_id)
        elif u < p_exact + p_near + p_spam + p_cont and bench_pool:
            t = bench_pool[int(rng.integers(0, len(bench_pool)))]
            if bench_texts is None:
                t = t + " " + " ".join(_words(rng, 3))
            c.contaminated.add(doc_id)
        else:
            t = _clean_text(rng)
            clean_pool.append(t)
            c.clean.add(doc_id)
        ids.append(doc_id)
        texts.append(t)
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), len(ids))]
    c.docs = pd.DataFrame({
        "doc_id": pd.Series(ids, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{j % 7}" for j in ids],
        "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
    })
    return c


def write_docs(df: pd.DataFrame, path: str, n_files: int = 1) -> list[str]:
    """Write ``df`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    out = []
    for k, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        p = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(pa.Table.from_pandas(df.iloc[part], preserve_index=False), p)
        out.append(p)
    return out


# ----------------------------------------------------------- index_serve

def make_embeddings(seed: int, n: int, dim: int = 64, n_clusters: int = 32,
                    id_base: int = 0, stream: str = "emb") -> pd.DataFrame:
    """``n`` clustered ``dim``-d float vectors (the embeddings.parquet
    schema: vec_id, embedding, label)."""
    rng = rng_for(seed, stream)
    centers = rng_for(seed, "emb-centers").normal(0.0, 1.0, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n)
    vecs = (centers[label] + rng.normal(0.0, 0.6, (n, dim))).astype(np.float32)
    return pd.DataFrame({
        "vec_id": pd.Series(np.arange(id_base, id_base + n), dtype="int64"),
        "embedding": list(vecs),
        "label": label.astype(np.int32),
    })


def write_embeddings(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    emb = pa.array([v.tolist() for v in df["embedding"]], type=pa.list_(pa.float32()))
    table = pa.table({"vec_id": pa.array(df["vec_id"], pa.int64()), "embedding": emb,
                      "label": pa.array(df["label"], pa.int32())})
    pq.write_table(table, os.path.join(path, "part-000.parquet"))


@dataclass
class Request:
    kind: str                  # bm25 | ivf | bm25_append | ivf_append | bm25_delete | ivf_delete
    payload: object


MUTATIONS = ("bm25_append", "ivf_append", "bm25_delete", "ivf_delete")
ROUND = 11


class RequestMix:
    """Seeded closed-loop request stream for ``index_serve``: 5/11 BM25
    batches, 5/11 IVF batches, 1/11 index mutations. It tracks which ids
    are live, appended and deleted so each request carries probes for
    the output checks (queries for just-appended and just-deleted docs)."""

    def __init__(self, seed: int, docs: pd.DataFrame, vecs: pd.DataFrame,
                 batch: int = 16, mutate_rows: int = 500):
        self.rng = rng_for(seed, "requests")
        self.seed = seed
        self.batch = batch
        self.mutate_rows = mutate_rows
        self.doc_text = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        self.vec = dict(zip(vecs["vec_id"].tolist(), vecs["embedding"].tolist()))
        self.live_docs = sorted(self.doc_text)
        self.live_vecs = sorted(self.vec)
        self.next_doc = max(self.doc_text) + 1
        self.next_vec = max(self.vec) + 1
        self.deleted_docs: set[int] = set()
        self.deleted_vecs: set[int] = set()
        self.recent_doc_appends: list[int] = []
        self.recent_doc_deletes: list[int] = []
        self.recent_vec_appends: list[int] = []
        self.recent_vec_deletes: list[int] = []
        self.forced: list[str] = []
        self.plan: list[str] = []
        self.rounds = 0

    def next(self) -> Request:
        """The next request: a forced kind if any is queued, else the next
        one of the current round. A round holds ROUND requests in the
        mix's proportions: 1 mutation, then 5 BM25 and 5 IVF searches in
        a seeded order, so a run made of whole rounds always sees the
        same mix. The mutation kind cycles from round to round in a fixed
        order and always opens its round: which mutation ran, and how
        many searches ran after it, moved a round's search latency by up
        to a fifth, so neither is left to the seed."""
        if self.forced:
            return getattr(self, "_" + self.forced.pop(0))()
        if not self.plan:
            searches = ["bm25"] * 5 + ["ivf"] * 5
            self.plan = [MUTATIONS[self.rounds % len(MUTATIONS)]] + [
                searches[i] for i in self.rng.permutation(len(searches))]
            self.rounds += 1
        return getattr(self, "_" + self.plan.pop(0))()

    def _pick(self, pool: list[int], k: int) -> list[int]:
        return [pool[i] for i in self.rng.choice(len(pool), k, replace=False)]

    def _bm25(self) -> Request:
        probes = self.recent_doc_appends[-2:]
        gone = self.recent_doc_deletes[-2:]
        rows = [(i, self.doc_text[d], d) for i, d in enumerate(probes)]
        rows += [(len(rows) + i, self.doc_text[d], None) for i, d in enumerate(gone)]
        for d in self._pick(self.live_docs, self.batch - len(rows)):
            ws = self.doc_text[d].split()
            k = int(self.rng.integers(3, 7))
            s = int(self.rng.integers(0, max(1, len(ws) - k)))
            rows.append((len(rows), " ".join(ws[s:s + k]), None))
        return Request("bm25", rows)   # (query_id, query text, expected top-1 doc or None)

    def _ivf(self) -> Request:
        probes = self.recent_vec_appends[-2:]
        gone = self.recent_vec_deletes[-2:]
        rows = [(i, self.vec[v], v) for i, v in enumerate(probes)]
        rows += [(len(rows) + i, self.vec[v], None) for i, v in enumerate(gone)]
        for v in self._pick(self.live_vecs, self.batch - len(rows)):
            noise = self.rng.normal(0.0, 0.05, len(self.vec[v])).astype(np.float32)
            rows.append((len(rows), self.vec[v] + noise, None))
        return Request("ivf", rows)    # (q_id, vector, expected top-1 vec or None)

    def _bm25_append(self) -> Request:
        ids = list(range(self.next_doc, self.next_doc + self.mutate_rows))
        self.next_doc += self.mutate_rows
        rows = []
        for d in ids:
            # a unique term makes the doc's own text rank it first
            t = f"uniq{self.seed}x{d} " + " ".join(_words(self.rng, int(self.rng.integers(20, 40))))
            self.doc_text[d] = t
            rows.append((d, t))
        self.live_docs.extend(ids)
        self.recent_doc_appends = ids[-4:]
        return Request("bm25_append", rows)

    def _ivf_append(self) -> Request:
        ids = list(range(self.next_vec, self.next_vec + self.mutate_rows))
        self.next_vec += self.mutate_rows
        dim = len(next(iter(self.vec.values())))
        vecs = self.rng.normal(0.0, 1.0, (len(ids), dim)).astype(np.float32)
        for v, x in zip(ids, vecs):
            self.vec[v] = x
        self.live_vecs.extend(ids)
        self.recent_vec_appends = ids[-4:]
        return Request("ivf_append", [(v, self.vec[v]) for v in ids])

    def _bm25_delete(self) -> Request:
        ids = self._pick(self.live_docs, self.mutate_rows)
        dead = set(ids)
        self.live_docs = [d for d in self.live_docs if d not in dead]
        self.deleted_docs |= dead
        self.recent_doc_deletes = ids[:4]
        self.recent_doc_appends = [d for d in self.recent_doc_appends if d not in dead]
        return Request("bm25_delete", ids)

    def _ivf_delete(self) -> Request:
        ids = self._pick(self.live_vecs, self.mutate_rows)
        dead = set(ids)
        self.live_vecs = [v for v in self.live_vecs if v not in dead]
        self.deleted_vecs |= dead
        self.recent_vec_deletes = ids[:4]
        self.recent_vec_appends = [v for v in self.recent_vec_appends if v not in dead]
        return Request("ivf_delete", ids)
