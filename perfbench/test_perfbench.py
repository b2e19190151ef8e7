"""Tests for the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import union_len  # noqa: E402
from stats import Tally, rate, tail  # noqa: E402


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


# ------------------------------------------------------------ generators

def test_genome_is_deterministic_per_seed(tmp_path):
    a = gen.make_genome(3, str(tmp_path / "a"), 2, 5000)
    b = gen.make_genome(3, str(tmp_path / "b"), 2, 5000)
    c = gen.make_genome(4, str(tmp_path / "c"), 2, 5000)
    assert _digest(a.paths) == _digest(b.paths)
    assert _digest(a.paths) != _digest(c.paths)
    qa = gen.plant_queries(a, gen.rng_for(3, "queries"), 8, "t")
    qb = gen.plant_queries(b, gen.rng_for(3, "queries"), 8, "t")
    assert qa == qb


def test_planted_queries_sit_inside_their_host_gene(tmp_path):
    g = gen.make_genome(5, str(tmp_path), 2, 20_000)
    comp = str.maketrans("acgt", "tgca")
    for q in gen.plant_queries(g, gen.rng_for(5, "queries"), 16, "t"):
        left, right = min(q.start, q.end), max(q.start, q.end)
        host = next(x for x in g.genes[q.accession] if x[2] == q.host_gene)
        assert host[0] <= left and right <= host[1] + 1
        window = g.seqs[q.accession][left - 1:right]
        seen = q.gene if q.strand == "+" else q.gene[::-1].translate(comp)
        assert sum(x != y for x, y in zip(window, seen)) == gen.QUERY_MUTATIONS


def test_corpus_is_deterministic_per_seed():
    a, b, c = (gen.make_corpus(s, 600) for s in (1, 1, 2))
    assert a.docs.equals(b.docs)
    assert (a.exact_dups, a.spam, a.contaminated) == (b.exact_dups, b.spam, b.contaminated)
    assert not a.docs.equals(c.docs)
    assert list(a.docs.columns) == ["doc_id", "text", "lang", "source", "n_chars"]


def test_corpus_plants_every_class():
    c = gen.make_corpus(1, 3000)
    for planted in (c.exact_dups, c.near_dups, c.spam, c.contaminated):
        assert planted
        assert not planted & {i for i in c.docs["doc_id"] if i % gen.BENCH_MOD == 0}
    norm = {i: " ".join(t.lower().split()) for i, t in zip(c.docs["doc_id"], c.docs["text"])}
    for d in c.exact_dups:
        assert any(norm[o] == norm[d] for o in c.clean if o < d)


def test_embeddings_and_request_mix_are_deterministic_per_seed():
    e1, e2 = gen.make_embeddings(9, 200, 8), gen.make_embeddings(9, 200, 8)
    assert np.array_equal(np.stack(e1["embedding"]), np.stack(e2["embedding"]))
    docs = gen.make_corpus(9, 300).docs

    def trace(seed):
        mix = gen.RequestMix(seed, docs, e1, batch=4, mutate_rows=5)
        out = []
        for _ in range(3 * gen.ROUND):
            r = mix.next()
            out.append((r.kind, repr(r.payload)))
        return out

    assert trace(9) == trace(9)
    assert trace(9) != trace(10)
    kinds = [k for k, _ in trace(9)[:gen.ROUND]]
    assert kinds.count("bm25") == kinds.count("ivf") == 5


def test_request_mix_never_probes_deleted_ids_as_expected_hits():
    docs = gen.make_corpus(2, 300).docs
    vecs = gen.make_embeddings(2, 300, 8)
    mix = gen.RequestMix(2, docs, vecs, batch=6, mutate_rows=20)
    for _ in range(8 * gen.ROUND):
        r = mix.next()
        if r.kind == "bm25":
            assert not {e for _, _, e in r.payload if e is not None} & mix.deleted_docs
        if r.kind == "ivf":
            assert not {e for _, _, e in r.payload if e is not None} & mix.deleted_vecs


# ---------------------------------------------------------------- stats

def test_tail_needs_ten_samples_beyond():
    assert math.isnan(tail([1.0] * 10)[0])
    xs = list(range(1, 12))            # 11 samples: the smallest has 10 beyond
    assert tail(xs) == (1.0, pytest.approx(100 / 11), 11)
    xs = list(range(100))              # 100 samples: p90 is the 90th value
    value, pct, n = tail(xs)
    assert (value, pct, n) == (89.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_rate_replaces_each_wall_by_its_kind_median():
    walls = {"scan": [1.0, 1.0, 10.0], "stream": [2.0]}
    assert rate(10.0, walls) == 10.0 / (3 * 1.0 + 2.0)
    assert math.isnan(rate(1.0, {}))


def test_error_rate_counts_failed_checks_and_raises():
    t = Tally()
    t.record("scan", True)
    t.record("scan", False, "planted locus missing")
    t.record("error", False, "RuntimeError()")
    t.record("stream", True)
    assert (t.n_attempted, t.n_failed) == (4, 2)
    assert t.error_rate == 0.5
    assert t.errors == ["scan: planted locus missing", "error: RuntimeError()"]
    assert math.isnan(Tally().error_rate)


def test_union_len_merges_overlaps():
    assert union_len([]) == 0.0
    assert union_len([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_len([(0, 10), (2, 3)]) == 10.0
