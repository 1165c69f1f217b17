"""Degenerate inputs to the LSH operators: empty input, one row, NULL text
or embedding, zero-norm vectors and one hot bucket over the cap must
neither crash an operator nor change its documented rows. A pair with a
zero quantized norm (or a NULL embedding) scores sim NULL, as in the
DuckDB oracles: it never passes a dedup threshold and ranks last."""

import re
from itertools import combinations

import pytest
from pyspark import StorageLevel

from nettopologysuite_spark.engine import ann, dedup, lsh
from nettopologysuite_spark.engine.ann import DIM, ann_lsh_topk, embed_cosine_dedup, knn_graph
from nettopologysuite_spark.engine.dedup import (
    blocked_pairs,
    dup_clusters,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)

TEXT = "alpha beta gamma delta epsilon zeta eta theta"
DOCS = {
    "empty": [],
    "one_doc": [("d-1", TEXT)],
    "unrelated": [("d-1", TEXT), ("d-2", "one two three four five six seven")],
    "null_text": [("d-1", None), ("d-2", None)],
}

V = [((i * 37) % 17 - 8) / 10 for i in range(DIM)]
NEG_V = [-x for x in V]  # flips every nonzero sign bit: no bucket shared with V
ZERO = [0.0] * DIM
BELOW_QUANTUM = [0.0005] * DIM  # floor(x·1024) = 0 in every component


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _graph(df):
    return sorted((r.q_id, r.rank, r.nbr_id, r.sim) for r in df.collect())


@pytest.mark.parametrize("name", sorted(DOCS))
def test_minhash_without_candidate_pairs(spark, name):
    docs = _docs(spark, DOCS[name])
    assert minhash_lsh_pairs(docs).collect() == []
    assert lsh.last_metrics["dropped_buckets"] == 0
    assert dup_clusters(minhash_lsh_pairs(docs)).collect() == []


def test_minhash_null_text_beside_a_duplicate_pair(spark):
    docs = _docs(spark, [("d-1", TEXT), ("d-2", TEXT), ("d-3", None)])
    pairs = minhash_lsh_pairs(docs)
    assert [(r.d1, r.d2, r.ni == r.nu) for r in pairs.collect()] == [("d-1", "d-2", True)]
    assert sorted(dup_clusters(pairs).collect()) == [("d-1", "d-1"), ("d-2", "d-1")]


def test_minhash_single_hot_bucket_over_the_cap(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_BUCKET", 3)
    docs = _docs(spark, [(f"d-{i}", TEXT) for i in range(5)])
    pairs = minhash_lsh_pairs(docs)
    assert pairs.collect() == []
    assert lsh.last_metrics["dropped_buckets"] == 16  # every band's one bucket
    assert lsh.last_metrics["max_bucket_size"] == 5
    assert dup_clusters(pairs).collect() == []


#: shingling edge cases: one word, empty and blank text, tabs and
#: newlines, leading/trailing blanks, a repeated bigram, NULL, a near-dup
SHINGLE_DOCS = [
    ("solo", "solo"),
    ("solo-tab", "solo\t"),
    ("empty", ""),
    ("blank", "   "),
    ("ws-mix", "alpha\tbeta\ngamma  delta"),
    ("ws-plain", "alpha beta gamma delta"),
    ("ws-lead", "  alpha beta gamma delta  "),
    ("ws-tab-lead", "\talpha beta gamma delta"),
    ("rep", "a b a b a b"),
    ("rep-short", "a b a"),
    ("rep-tail", "a b a b c"),
    ("null", None),
    ("near-1", TEXT),
    ("near-2", TEXT.replace("theta", "iota")),
]


def _bigram_set(text):
    """The word-bigram set as the oracles define it: split TRIM(text) (which
    trims spaces only) on whitespace runs; one token is its own gram."""
    if text is None:
        return None
    ws = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
    return {ws[0]} if len(ws) < 2 else {f"{a} {b}" for a, b in zip(ws, ws[1:])}


def test_minhash_equals_bruteforce_bigram_jaccard(spark):
    sets = {d: _bigram_set(t) for d, t in SHINGLE_DOCS}
    want = []
    for (d1, s1), (d2, s2) in combinations(sorted(sets.items()), 2):
        if s1 is None or s2 is None:
            continue
        ni, nu = len(s1 & s2), len(s1 | s2)
        if ni * 100 >= nu * 60:
            want.append((d1, d2, ni, nu))
    got = sorted(tuple(r) for r in minhash_lsh_pairs(
        _docs(spark, SHINGLE_DOCS), threshold_pct=60).collect())
    assert got == sorted(want)
    # every edge case is represented: the blanks pair, the whitespace
    # variants, the repeated bigrams (counted once) and the near-dup
    assert ("blank", "empty", 1, 1) in got
    assert ("rep", "rep-short", 2, 2) in got
    assert ("rep", "rep-tail", 2, 3) in got
    assert ("ws-lead", "ws-mix", 3, 3) in got
    assert ("near-1", "near-2", 6, 8) in got


def test_minhash_rejects_a_repeated_id(spark):
    """The bigram sets are built per row, so ``doc_id`` must be a key: a
    repeated id raises instead of scoring each row pair on its own, and the
    set table is released all the same."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = _docs(spark, [("d-1", TEXT), ("d-1", "one two three"), ("d-2", TEXT)])
    with pytest.raises(ValueError, match="'doc_id'"):
        minhash_lsh_pairs(docs)
    assert cache.isEmpty()
    # a NULL-text row has no set, so it repeats no id
    docs = _docs(spark, [("d-1", TEXT), ("d-1", None), ("d-2", TEXT)])
    assert [(r.d1, r.d2) for r in minhash_lsh_pairs(docs).collect()] == [("d-1", "d-2")]


def test_dedup_operators_leave_no_cache(spark):
    """The eager dedup operators release every cache they take before they
    return, and never one their caller holds."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    docs = spark.createDataFrame(
        [(f"d-{i}", TEXT if i % 2 else TEXT + " omega", "src0", 50)
         for i in range(6)],
        "doc_id string, text string, source string, n_chars int",
    )
    pairs = minhash_lsh_pairs(docs)
    assert cache.isEmpty()
    dup_clusters(pairs)
    assert cache.isEmpty()
    ngram_jaccard_pairs(docs, blocked_pairs(docs))
    assert cache.isEmpty()
    held = blocked_pairs(docs).persist()
    ngram_jaccard_pairs(docs, held)
    assert held.storageLevel != StorageLevel.NONE
    held.unpersist()
    assert cache.isEmpty()


@pytest.mark.parametrize("rows", [[], [(0, V)]], ids=["empty", "one_row"])
def test_embedding_operators_without_candidates(spark, rows):
    emb = _emb(spark, rows)
    assert embed_cosine_dedup(emb).collect() == []
    assert lsh.last_metrics["dropped_buckets"] == 0
    assert knn_graph(emb, k=3).collect() == []
    assert ann_lsh_topk(emb, 1, 3).collect() == []


@pytest.mark.parametrize("degenerate", [ZERO, BELOW_QUANTUM, None],
                         ids=["zero", "below_quantum", "null"])
def test_zero_norm_and_null_vectors_score_null(spark, degenerate):
    # the zero vector signs every plane ≥ 0, as a NULL embedding does, so
    # 2 and 3 share every bucket
    emb = _emb(spark, [(0, V), (1, V), (2, degenerate), (3, ZERO)])
    assert [(r.d1, r.d2) for r in embed_cosine_dedup(emb).collect()] == [(0, 1)]
    graph = _graph(knn_graph(emb, k=3))
    by_q = {}
    for q, rank, nbr, sim in graph:
        by_q.setdefault(q, []).append((nbr, sim))
    assert by_q[0][0][0] == 1 and abs(by_q[0][0][1] - 1.0) < 1e-9
    assert (3, None) in by_q[2] and (2, None) in by_q[3]
    for rows in by_q.values():  # NULL sims rank last
        sims = [s for _, s in rows]
        assert sims == sorted(sims, key=lambda s: (s is None, -(s or 0)))
    # with every row a query and no bucket over the cap, the ANN candidates
    # are the kNN graph's
    assert _graph(ann_lsh_topk(emb, 4, 3)) == graph


def test_embedding_single_hot_bucket_over_the_cap(spark, monkeypatch):
    monkeypatch.setattr(ann, "MAX_BUCKET", 3)
    emb = _emb(spark, [(i, V) for i in range(5)] + [(10, NEG_V), (11, NEG_V)])
    assert [(r.d1, r.d2) for r in embed_cosine_dedup(emb).collect()] == [(10, 11)]
    assert lsh.last_metrics["dropped_buckets"] == 4  # V's bucket in each band
    graph = knn_graph(emb, k=3).collect()
    assert lsh.last_metrics["dropped_buckets"] == 8
    assert sorted((r.q_id, r.nbr_id) for r in graph) == [(10, 11), (11, 10)]
    # the ANN query has no cap: V's four copies are all candidates of 0
    top = ann_lsh_topk(emb, 1, 3).collect()
    assert sorted((r.rank, r.nbr_id) for r in top) == [(1, 1), (2, 2), (3, 3)]
