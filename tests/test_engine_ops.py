"""Engine-level operator tests: distributed aggregates, dedup, lineage."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def test_distributed_union_matches_kernel(spark):
    from nettopologysuite_spark.engine.aggregates import distributed_union
    from nettopologysuite_spark.engine.derive import nation_rect_geom
    from nettopologysuite_spark.kernels.geom import wkb_dumps, wkb_loads
    from nettopologysuite_spark.kernels.measures import area
    from nettopologysuite_spark.kernels.union_op import cascaded_union

    geoms = [nation_rect_geom(k) for k in range(25)]
    df = spark.createDataFrame(
        [(wkb_dumps(g),) for g in geoms], "geom_wkb binary"
    ).repartition(6)
    got = wkb_loads(bytes(distributed_union(df).collect()[0][0]))
    expect = cascaded_union(geoms)
    assert abs(area(got) - area(expect)) < 1e-9
    # disjoint rects → union area = sum of areas
    assert area(got) == pytest.approx(sum(area(g) for g in geoms))


def test_distributed_hull_matches_kernel(spark, sf_dir):
    """Big-data path: distributed hull of ALL event points == kernel hull
    (the oracle-gated q_hull_agg runs the same aggregate over the octagon
    vertex cloud, which a pure-SQL oracle can verify)."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.aggregates import distributed_convex_hull
    from nettopologysuite_spark.engine.derive import points_numpy
    from nettopologysuite_spark.kernels.geom import polygon as mk_polygon
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.hull import hull_coords
    from nettopologysuite_spark.kernels.normalize import equals_normalized

    pts = E._event_points(spark, sf_dir)
    hull_wkb = distributed_convex_hull(pts).collect()[0][0]
    got = wkb_loads(bytes(hull_wkb))
    ids = np.arange(1000)
    x, y = points_numpy(ids)
    expect = mk_polygon(hull_coords(np.stack([x, y], axis=1)))
    assert equals_normalized(got, expect)


def test_minhash_lsh_finds_bruteforce_pairs(spark, sf_dir):
    """LSH candidates + exact verify == brute-force jaccard pairs (the
    oracle query asserts this vs DuckDB too; here vs an in-Spark brute
    force with a lower threshold for margin)."""
    from nettopologysuite_spark.engine.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        (r["d1"], r["d2"]) for r in minhash_lsh_pairs(docs, threshold_pct=60).collect()
    }
    # brute force (word bigrams) on the driver
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    rows = con.execute(
        "WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') ws "
        "FROM documents), "
        "g AS (SELECT DISTINCT doc_id, CASE WHEN LEN(ws) < 2 THEN ws[1] "
        "ELSE ws[i.i] || ' ' || ws[i.i+1] END AS gram "
        "FROM w JOIN generate_series(1, 1000) i(i) ON i.i <= GREATEST(LEN(ws)-1, 1)), "
        "sizes AS (SELECT doc_id, COUNT(*) n FROM g GROUP BY 1), "
        "inter AS (SELECT g1.doc_id d1, g2.doc_id d2, COUNT(*) ni FROM g g1 "
        "JOIN g g2 ON g1.gram=g2.gram AND g1.doc_id<g2.doc_id GROUP BY 1,2) "
        "SELECT i.d1, i.d2 FROM inter i JOIN sizes s1 ON s1.doc_id=i.d1 "
        "JOIN sizes s2 ON s2.doc_id=i.d2 WHERE i.ni*100 >= (s1.n+s2.n-i.ni)*60"
    ).fetchall()
    assert got == {(a, b) for a, b in rows}


def test_checkpoint_resume(spark, tmp_path):
    from nettopologysuite_spark.engine.lineage import (
        read_lineage,
        run_stage,
        stage_is_committed,
    )

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).selectExpr("id", "id * 2 AS v")

    out_dir = str(tmp_path / "stage1")
    df1 = run_stage(spark, out_dir, build, key_col="id", stage_name="s1")
    assert df1.count() == 100
    assert calls["n"] == 1
    assert stage_is_committed(out_dir)
    # resume: builder NOT called again
    df2 = run_stage(spark, out_dir, build, key_col="id")
    assert df2.count() == 100
    assert calls["n"] == 1
    # lineage recorded per partition with key ranges
    lin = read_lineage(spark, out_dir).collect()
    assert sum(r["n_rows"] for r in lin) == 100
    assert min(r["key_min"] for r in lin) == 0
    assert max(r["key_max"] for r in lin) == 99
    # incomplete stage (marker removed) → recompute
    import os

    os.remove(os.path.join(out_dir, "_STAGE_OK"))
    run_stage(spark, out_dir, build, key_col="id")
    assert calls["n"] == 2


def test_simhash_near_dup_property(spark, sf_dir):
    """SimHash of identical text is identical; fingerprints are stable."""
    from nettopologysuite_spark.engine.dedup import simhash_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp1 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}
    assert fp1 == fp2 and len(fp1) == docs.count()


def test_snapshot_log_commit_travel_and_failed_commit_resume(spark, tmp_path):
    """Iceberg-analog snapshot log: append-only commits with parent links,
    time travel via read_at, dirty-stage refusal, and resume from snapshot
    N-1 after a simulated failed commit (tmp file present, rename never
    happened)."""
    import json
    import os

    from nettopologysuite_spark.engine.lineage import SnapshotLog, run_stage

    root = str(tmp_path / "pipe")
    s1 = os.path.join(root, "stage1")
    s2 = os.path.join(root, "stage2")
    run_stage(spark, s1, lambda: spark.range(10).withColumnRenamed("id", "k"),
              key_col="k", stage_name="stage1")
    log = SnapshotLog(root)
    sid1 = log.commit({"stage1": s1}, inputs=["range(10)"])
    assert sid1 == 1 and log.latest()["parent_id"] is None

    run_stage(spark, s2, lambda: spark.range(20).withColumnRenamed("id", "k"),
              key_col="k", stage_name="stage2")
    sid2 = log.commit({"stage1": s1, "stage2": s2}, operation="append")
    assert sid2 == 2 and log.latest()["parent_id"] == 1

    # time travel: snapshot 1 has no stage2; stage1 readable at both
    assert log.read_at(spark, 1, "stage1").count() == 10
    assert log.read_at(spark, 2, "stage2").count() == 20
    import pytest

    with pytest.raises(KeyError):
        log.read_at(spark, 1, "stage2")

    # dirty stage refusal: no _STAGE_OK marker → commit raises
    dirty = os.path.join(root, "stage3")
    os.makedirs(dirty, exist_ok=True)
    with pytest.raises(ValueError):
        log.commit({"stage3": dirty})

    # simulated failed commit: a snap json written to .tmp but never
    # renamed (crash before the commit point) is invisible — the log
    # resumes from snapshot N-1
    tmp = os.path.join(root, "_snapshots", "snap-00000003.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"snapshot_id": 3, "stages": {}}, f)
    log2 = SnapshotLog(root)
    assert log2.snapshot_ids() == [1, 2]
    assert log2.latest()["snapshot_id"] == 2
    # and the NEXT commit appends cleanly as id 3
    sid3 = log2.commit({"stage1": s1}, operation="overwrite")
    assert sid3 == 3 and log2.latest()["parent_id"] == 2


def test_dup_clusters_chain_and_cliques(spark):
    """Chains (diameter > 1), cliques, and isolated pairs; labels = min id
    per component."""
    from nettopologysuite_spark.engine.dedup import dup_clusters

    pairs = [
        # chain 1-2-3-4-5 (diameter 4 → needs ≥3 rounds)
        (1, 2), (2, 3), (3, 4), (4, 5),
        # clique {10, 11, 12}
        (10, 11), (10, 12), (11, 12),
        # isolated pair
        (20, 21),
    ]
    df = spark.createDataFrame(pairs, "d1 long, d2 long")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dup_clusters_empty_and_self_pairs(spark):
    """No pairs → an empty, typed result; a (d, d) pair keeps doc d as its
    own cluster instead of dropping it."""
    from nettopologysuite_spark.engine.dedup import dup_clusters

    empty = dup_clusters(spark.createDataFrame([], "d1 long, d2 long"))
    assert empty.schema.simpleString() == "struct<doc_id:bigint,cluster_id:bigint>"
    assert empty.collect() == []
    df = spark.createDataFrame([(7, 7), (3, 1), (1, 3), (9, 9), (9, 4)],
                               "d1 long, d2 long")
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(df).collect()}
    assert got == {7: 7, 1: 1, 3: 1, 4: 4, 9: 4}


def test_word_bigrams_null_text_has_no_grams(spark):
    """A NULL-text doc has no bigram set (NULL, not a set holding one NULL
    gram), so it gets no row in MinHash's set table, no signature and no
    LSH candidacy; a one-word doc's set is that word."""
    from pyspark.sql import functions as F

    from nettopologysuite_spark.engine.dedup import word_bigram_set

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    sets = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_ws")
    ).select("doc_id", word_bigram_set("_ws").alias("gs"))
    got = sorted((r["doc_id"], r["gs"] and sorted(r["gs"])) for r in sets.collect())
    assert got == [(1, ["alpha beta", "beta gamma"]), (2, None), (3, ["solo"])]


def test_char_ngrams_null_text_has_no_grams(spark):
    """A NULL-text doc yields no character gram rows, so it gets no SimHash
    fingerprint and no Jaccard pair (two NULL-text docs used to share one
    NULL gram: fingerprint 0 each, and a pair with ni = nu = 0 that passes
    any ``ni*100 >= nu*pct`` threshold)."""
    from nettopologysuite_spark.engine.dedup import (
        char_ngrams,
        ngram_jaccard_pairs,
        simhash_fingerprints,
    )

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "abcd"), (4, "abce")],
        "doc_id long, text string",
    )
    got = sorted((r["_id"], r["gram"]) for r in char_ngrams(docs).collect())
    assert got == [(3, "abc"), (3, "bcd"), (4, "abc"), (4, "bce")]
    assert {r["doc_id"] for r in simhash_fingerprints(docs).collect()} == {3, 4}
    pairs = spark.createDataFrame([(1, 2), (3, 4), (1, 3)], "d1 long, d2 long")
    got = sorted(tuple(r) for r in ngram_jaccard_pairs(docs, pairs).collect())
    assert got == [(3, 4, 1, 3)]


def test_word_ngrams_null_text_has_no_grams(spark):
    """A NULL-text doc yields no word n-gram rows (it used to yield one NULL
    gram), so decontaminate reports no row for it instead of n_grams = 1."""
    from nettopologysuite_spark.engine.text import decontaminate, word_ngrams

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "solo")],
        "doc_id long, text string",
    )
    got = sorted((r["_id"], r["gram"]) for r in word_ngrams(docs).collect())
    assert got == [(1, "alpha beta gamma"), (1, "beta gamma delta"), (3, "solo")]
    bench = spark.createDataFrame([(100, "solo")], "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_contaminated"])
           for r in decontaminate(docs, bench).collect()}
    assert got == {1: (2, 0), 3: (1, 1)}


def test_sample_and_quantiles_semantics(spark):
    from nettopologysuite_spark.engine.text import length_quantiles, sample_per_source

    rows = [(i, "s" + str(i % 2), "x" * (10 + i)) for i in range(21)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # sampling: deterministic (re-run identical) and k-bounded per stratum
    s1 = {(r["doc_id"], r["smp_rank"]) for r in sample_per_source(docs, 3).collect()}
    s2 = {(r["doc_id"], r["smp_rank"]) for r in sample_per_source(docs, 3).collect()}
    assert s1 == s2 and len(s1) == 6
    # quantiles: nearest-rank definition on a known distribution
    q = {r["source"]: r for r in length_quantiles(docs).collect()}
    # source s0 has doc_ids 0,2,...,20 → lengths 10,12,...,30 (n=11)
    # rank ceil(.5*11)=6 → len 20; ceil(.9*11)=10 → 28; ceil(.99*11)=11 → 30
    assert (q["s0"]["n_docs"], q["s0"]["p50"], q["s0"]["p90"], q["s0"]["p99"]) \
        == (11, 20, 28, 30)


def test_snapshot_expiry_and_orphans(spark, tmp_path):
    import os

    from nettopologysuite_spark.engine.lineage import (
        SnapshotLog,
        expire_snapshots,
        orphan_stages,
        run_stage,
    )

    root = str(tmp_path / "pipe")
    dirs = []
    log = SnapshotLog(root)
    for i in range(5):
        d = os.path.join(root, f"stage{i}")
        run_stage(spark, d, lambda: spark.range(5).withColumnRenamed("id", "k"),
                  key_col="k", stage_name=f"stage{i}")
        dirs.append(d)
        log.commit({f"stage{i}": d})
    assert log.snapshot_ids() == [1, 2, 3, 4, 5]
    expired = expire_snapshots(log, keep_last=2)
    assert expired == [1, 2, 3]
    assert log.snapshot_ids() == [4, 5]
    # snapshots 4 and 5 reference stage3 and stage4 only
    orphans = orphan_stages(log, dirs)
    assert orphans == dirs[:3]
    # the data of live snapshots still reads
    assert log.read_at(spark, 5, "stage4").count() == 5
    # history remains append-only after expiry
    d = os.path.join(root, "stage9")
    run_stage(spark, d, lambda: spark.range(2).withColumnRenamed("id", "k"),
              key_col="k")
    assert log.commit({"stage9": d}) == 6


def test_decontaminate_semantics(spark):
    from nettopologysuite_spark.engine.text import decontaminate

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),   # shares "the quick brown" etc.
         (2, "completely different words here now"),
         (3, "hi")],                          # shorter than n → whole-text gram
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox ran"), (101, "hi")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_grams"], r["n_contaminated"], r["flagged"])
           for r in decontaminate(corpus, bench).collect()}
    # doc 1: trigrams = {the quick brown, quick brown fox, brown fox jumps};
    # bench has the first two → 2/3 ≥ 30% → flagged
    assert got[1] == (3, 2, True)
    assert got[2] == (3, 0, False)
    # doc 3: whole-text gram "hi" appears in bench → fully contaminated
    assert got[3] == (1, 1, True)


def test_minhash_hot_bucket_cap_counts_drops(spark, monkeypatch):
    """A planted mega-clique (identical docs) overflows every one of its
    LSH buckets: with a small cap its buckets are dropped, the drop count
    surfaces through the zero-extra-action observe metrics, and pairs among
    ordinary docs are untouched."""
    from nettopologysuite_spark.engine import dedup, lsh
    from nettopologysuite_spark.engine.dedup import minhash_lsh_pairs

    mega = [(f"m-{i:03d}", "the quick brown fox jumps over the lazy dog again")
            for i in range(40)]
    near = [
        ("n-1", "alpha beta gamma delta epsilon zeta eta theta"),
        ("n-2", "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    other = [(f"o-{i}", f"completely unrelated text number {i} with words {i*7}")
             for i in range(10)]
    docs = spark.createDataFrame(mega + near + other, "doc_id string, text string")

    monkeypatch.setattr(dedup, "MAX_BUCKET", 10)
    capped = {(r["d1"], r["d2"])
              for r in minhash_lsh_pairs(docs, threshold_pct=60).collect()}
    m = dict(lsh.last_metrics)
    assert m["dropped_buckets"] > 0
    assert m["max_bucket_size"] == 40
    assert ("n-1", "n-2") in capped          # ordinary near-dups survive
    assert not any(a.startswith("m-") for a, _ in capped)  # clique dropped

    monkeypatch.setattr(dedup, "MAX_BUCKET", 10**9)
    uncapped = {(r["d1"], r["d2"])
                for r in minhash_lsh_pairs(docs, threshold_pct=60).collect()}
    assert lsh.last_metrics["dropped_buckets"] == 0
    # capped output == uncapped minus the mega-clique's pairs
    assert uncapped - capped == {(a, b) for a, _ in mega for b, _ in mega if a < b}


def test_window_dedup_planted_duplicates(spark):
    """Planted 8-token runs shared across docs are flagged; unique text is
    not; short docs yield zero windows. Brute-force cross-check."""
    from nettopologysuite_spark.engine.dedup import window_dedup

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        ("d1", f"unique one two three {shared} tail1 tail2"),
        ("d2", f"other prefix words here {shared} different suffix"),
        ("d3", "completely disjoint text with no repeated window at all ok"),
        ("d4", "tiny doc"),  # < 8 tokens → 0 windows
        ("d5", f"{shared} {shared}"),  # shares with d1/d2 AND repeats inside
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
           for r in window_dedup(docs, k=8).collect()}

    # brute force in python
    def wins(t):
        w = t.split()
        return [" ".join(w[i:i + 8]) for i in range(len(w) - 7)]

    owner = {}
    for did, t in rows:
        for win in set(wins(t)):
            owner.setdefault(win, set()).add(did)
    dup = {w for w, ds in owner.items() if len(ds) >= 2}
    for did, t in rows:
        ws = wins(t)
        assert got[did] == (len(ws), sum(w in dup for w in ws)), did
    assert got["d4"] == (0, 0)
    assert got["d3"][1] == 0
    assert got["d1"][1] >= 1 and got["d5"][1] >= 2


def test_window_dedup_plan_all_native(spark):
    """No Python evaluation anywhere in the window-dedup plan."""
    from nettopologysuite_spark.engine.dedup import window_dedup

    docs = spark.createDataFrame(
        [("a", "one two three four five six seven eight nine")],
        "doc_id string, text string",
    )
    plan = window_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_pack_sequences_invariants(spark):
    """Concat-and-chunk packing: chunks tile the global token stream with
    no gaps/overlaps; every chunk except the last is exactly full; per-doc
    spans reassemble the doc; bucketed prefix-sum equals the naive global
    cumsum (bucket_width smaller than the doc count to force multi-bucket)."""
    from nettopologysuite_spark.engine.text import pack_sequences

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(5 + (i * 7) % 90)))
            for i in range(100)]
    rows.append((100, ""))  # empty doc → no spans
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    C = 64
    got = pack_sequences(docs, ctx_len=C, bucket_width=16).collect()

    n_of = {i: len(t.split()) for i, t in rows}
    total = sum(n_of.values())
    # naive oracle: global offsets in doc_id order
    offs, run = {}, 0
    for i in sorted(n_of):
        offs[i] = run
        run += n_of[i]

    seen_docs = {}
    by_chunk = {}
    for r in got:
        assert 0 <= r["tok_start"] < r["tok_end"] <= n_of[r["doc_id"]]
        assert 0 <= r["chunk_pos"] < C
        # span's global interval must sit inside its chunk
        g0 = offs[r["doc_id"]] + r["tok_start"]
        g1 = offs[r["doc_id"]] + r["tok_end"]
        assert g0 // C == r["chunk_id"] and (g1 - 1) // C == r["chunk_id"]
        assert r["chunk_pos"] == g0 - r["chunk_id"] * C
        seen_docs.setdefault(r["doc_id"], []).append((r["tok_start"], r["tok_end"]))
        by_chunk.setdefault(r["chunk_id"], 0)
        by_chunk[r["chunk_id"]] += r["tok_end"] - r["tok_start"]
    # per-doc reassembly
    for i, n in n_of.items():
        spans = sorted(seen_docs.get(i, []))
        if n == 0:
            assert spans == []
            continue
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 == b0
    # chunk fullness
    last = max(by_chunk)
    for cid, filled in by_chunk.items():
        assert filled == (C if cid != last else total - last * C), cid
    assert set(by_chunk) == set(range(last + 1))


def test_pack_sequences_plan_all_native(spark):
    from nettopologysuite_spark.engine.text import pack_sequences

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = pack_sequences(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_doc_repetition_markers(spark):
    """Planted repetition structures produce the exact ppm markers; the
    plan is a pure projection (no explode/exchange/Python)."""
    from nettopologysuite_spark.engine.text import doc_repetition

    rows = [
        ("a", "x y x y x y"),            # 6 words, 2 distinct; bigram 'x y' x3 of 5
        ("b", "all words here differ"),  # no repetition
        ("c", "w w w w"),                # max repetition
        ("d", ""),                       # empty
        ("e", "solo"),                   # 1 word → no bigrams
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r["doc_id"]: (r["n_words"], r["dup_word_ppm"], r["top_bigram_ppm"])
           for r in doc_repetition(docs).collect()}
    assert got["a"] == (6, (4 * 1000000) // 6, (3 * 1000000) // 5)
    assert got["b"] == (4, 0, (1 * 1000000) // 3)
    assert got["c"] == (4, (3 * 1000000) // 4, 1000000)
    assert got["d"][1] == 0 and got["d"][2] == 0
    assert got["e"] == (1, 0, 0)
    plan = doc_repetition(docs)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan \
        and "Generate" not in plan


def test_raster_polygonize_shapes_and_holes(spark):
    """Irregular regions: a donut (region with a hole), the enclosed
    island, and two same-value DISJOINT regions that must not merge."""
    from nettopologysuite_spark.engine.zonal import raster_polygonize
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.measures import area as karea
    from pyspark.sql import functions as F

    n = 16
    w = 100.0 / n
    # value grid: ring of 9s around a 7-island at (4..6, 4..6); background 0;
    # plus a second detached 9-square at (12..13, 12..13)
    rows = []
    for iy in range(n):
        for ix in range(n):
            v = 0
            if 3 <= ix <= 7 and 3 <= iy <= 7:
                v = 9
            if 4 <= ix <= 6 and 4 <= iy <= 6:
                v = 7
            if 12 <= ix <= 13 and 12 <= iy <= 13:
                v = 9
            rows.append((ix, iy, v))
    px = spark.createDataFrame(rows, "ix long, iy long, value long")
    out = {r["region_id"]: r for r in raster_polygonize(px, n=n).collect()}
    assert len(out) == 4  # background, ring, island, detached square
    by_np = sorted((r["n_pixels"], r["value"]) for r in out.values())
    ring_px = 25 - 9
    assert by_np == sorted([
        (n * n - 25 - 4, 0), (ring_px, 9), (9, 7), (4, 9)])
    for r in out.values():
        g = wkb_loads(bytes(r["geom_wkb"]))
        assert abs(karea(g) - r["n_pixels"] * w * w) < 1e-9
        if r["n_pixels"] == ring_px:
            # the ring polygon must carry a hole
            leaves = g.flatten()
            assert sum(len(leaf.rings) for leaf in leaves) >= 2


def test_raster_polygonize_bounded_fanin_giant_region(spark):
    """A single region spanning the whole raster with a small fan-in cap:
    the merge tree must engage (several rounds) and every union task's
    input stays under the bound (asserted inside the merge kernels — a
    violation fails the query loudly), with the assembled geometry and
    stats unchanged."""
    from nettopologysuite_spark.engine.zonal import raster_polygonize
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.measures import area as karea

    n = 32
    w = 100.0 / n
    px = spark.range(n * n).selectExpr(
        "id % 32 AS ix", "id DIV 32 AS iy", "CAST(5 AS LONG) AS value"
    )
    # tile_shift=2 -> 4x4-pixel tiles, 64 tiles, all one region; fanin=4
    # forces 64 -> 16 -> 4 -> final merge rounds
    out = raster_polygonize(px, n=n, tile_shift=2, fanin=4).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["value"], r["n_pixels"]) == (5, n * n)
    g = wkb_loads(bytes(r["geom_wkb"]))
    assert abs(karea(g) - n * n * w * w) < 1e-9
    assert abs(r["area"] - n * n * w * w) < 1e-9


def test_raster_polygonize_partial_edge_tiles(spark):
    """n not a multiple of the tile size: the last tile row/column is
    partial, and a whole-raster region spans 9x9 = 81 tiles — more than
    fanin=64, so one merge round must run before the final union."""
    from nettopologysuite_spark.engine.zonal import raster_polygonize
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.measures import area as karea

    n = 130
    w = 100.0 / n
    px = spark.range(n * n).selectExpr(
        f"id % {n} AS ix", f"id DIV {n} AS iy", "CAST(3 AS LONG) AS value"
    )
    out = raster_polygonize(px, n=n, tile_shift=4, fanin=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["region_id"], r["value"], r["n_pixels"]) == (0, 3, n * n)
    assert abs(karea(wkb_loads(bytes(r["geom_wkb"]))) - n * n * w * w) < 1e-6


def test_raster_polygonize_spark_job_budget(spark):
    """Polygonizing the 64×64 striped raster (4 regions, far below
    ``graph.LOCAL_MAX_EDGES`` adjacency edges) runs 8 Spark jobs on
    ``local[4]`` with 8 shuffle partitions, building and collecting
    together. The CC labels have one consumer (the tile-union pass), so
    they are not checkpointed (that eager job made it 9); an eager job
    added back fails here rather than only in a traced benchmark run."""
    from nettopologysuite_spark.engine.zonal import (
        raster_polygonize,
        synthetic_striped_raster,
    )
    from tests.test_cluster import _group_jobs

    n = 64
    px = synthetic_striped_raster(spark, n=n)
    out = []
    jobs = _group_jobs(spark, "polygonize-budget",
                       lambda: out.extend(raster_polygonize(px, n=n).collect()))
    assert sorted(r["n_pixels"] for r in out) == [1024] * 4
    assert jobs == 8, jobs
