"""Degenerate inputs to the LSH operators: empty input, one row, NULL text
or embedding, zero-norm vectors and one hot bucket over the cap must
neither crash an operator nor change its documented rows. A pair with a
zero quantized norm (or a NULL embedding) scores sim NULL, as in the
DuckDB oracles: it never passes a dedup threshold and ranks last."""

import pytest

from nettopologysuite_spark.engine import ann, dedup, lsh
from nettopologysuite_spark.engine.ann import DIM, ann_lsh_topk, embed_cosine_dedup, knn_graph
from nettopologysuite_spark.engine.dedup import dup_clusters, minhash_lsh_pairs

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
