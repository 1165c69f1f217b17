"""DataFrame-query-side kNN / within-distance joins: exact vs brute force,
including sparse regions that force several radius rounds, and cache
hygiene (no persisted frames left behind by any query that persists)."""

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _mk_points(spark, pts):
    return spark.createDataFrame(
        [(int(i), float(px), float(py)) for i, (px, py) in enumerate(pts)],
        "pid long, x double, y double",
    )


def test_knn_join_table_exact_with_sparse_rings(spark):
    from nettopologysuite_spark.engine.joins import knn_join_table
    from nettopologysuite_spark.kernels.cells import Grid

    rng = np.random.default_rng(42)
    grid = Grid(0.0, 0.0, 100.0, 100.0, level=4)  # 16×16 cells
    # dense cluster bottom-left, a few stragglers top-right: queries near the
    # empty middle need several ring rounds before the margin bound retires
    pts = np.concatenate([
        rng.uniform(0, 30, (400, 2)),
        rng.uniform(85, 100, (5, 2)),
    ])
    k = 7
    queries = [(0, 15.0, 15.0), (1, 55.0, 55.0), (2, 99.0, 99.0), (3, 0.0, 99.0)]
    pdf = _mk_points(spark, pts)
    qdf = spark.createDataFrame(
        [(q, float(a), float(b)) for q, a, b in queries],
        "q_id long, qx double, qy double",
    )
    got = {
        (r["q_id"], r["rank"]): (r["pid"], r["d2"])
        for r in knn_join_table(pdf, qdf, k, grid).collect()
    }
    for q, qx_, qy_ in queries:
        d2 = (pts[:, 0] - qx_) ** 2 + (pts[:, 1] - qy_) ** 2
        order = np.lexsort((np.arange(len(pts)), d2))[:k]
        for rank, i in enumerate(order, start=1):
            pid, gd2 = got[(q, rank)]
            assert pid == int(i)
            assert gd2 == float(d2[i])
    assert len(got) == len(queries) * k


def test_knn_join_table_lineage_truncated(spark):
    """The output plan must NOT accumulate per-round lineage (unions over
    every annulus round): survivors are localCheckpoint'ed, so the final
    plan is a window over one materialized RDD scan."""
    from nettopologysuite_spark.engine.joins import knn_join_table
    from nettopologysuite_spark.kernels.cells import Grid

    grid = Grid(0.0, 0.0, 100.0, 100.0, level=4)
    rng = np.random.default_rng(1)
    pdf = _mk_points(spark, rng.uniform(0, 100, (200, 2)))
    qdf = spark.createDataFrame(
        [(0, 50.0, 50.0), (1, 2.0, 97.0)], "q_id long, qx double, qy double"
    )
    out = knn_join_table(pdf, qdf, 3, grid)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "Scan ExistingRDD" in plan  # checkpointed survivors, not raw lineage
    assert out.count() == 6


def test_knn_join_geom_lineage_truncated(spark):
    """The geometry form shares the round driver: its result is one
    checkpoint scan, not a union of per-round chunks — here query "a"
    retires in the first round and "b", far from the data, rounds later."""
    from nettopologysuite_spark.engine.joins import knn_join_geom
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import point, wkb_dumps

    rng = np.random.default_rng(1)
    ddf = spark.createDataFrame(
        [(i, wkb_dumps(point(float(px), float(py))))
         for i, (px, py) in enumerate(rng.uniform(0, 30, (200, 2)))],
        "pid long, geom_wkb binary",
    )
    qdf = spark.createDataFrame(
        [("a", wkb_dumps(point(10.0, 10.0))), ("b", wkb_dumps(point(90.0, 90.0)))],
        "q string, q_wkb binary",
    )
    out = knn_join_geom(qdf, ddf, Grid(0.0, 0.0, 100.0, 100.0, level=4), k=3,
                        q_id="q", q_wkb="q_wkb", d_id="pid", d_wkb="geom_wkb")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert "Scan ExistingRDD" in plan
    assert out.count() == 6


def test_knn_join_table_empty_queries(spark):
    from nettopologysuite_spark.engine.joins import knn_join_table
    from nettopologysuite_spark.kernels.cells import Grid

    grid = Grid(0.0, 0.0, 100.0, 100.0, level=4)
    pdf = _mk_points(spark, [(1.0, 1.0), (2.0, 2.0)])
    qdf = spark.createDataFrame([], "q_id long, qx double, qy double")
    out = knn_join_table(pdf, qdf, 3, grid)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["q_id", "rank", "pid", "d2"]


def test_within_distance_join_table_exact(spark):
    from nettopologysuite_spark.engine.joins import within_distance_join_table
    from nettopologysuite_spark.kernels.cells import Grid

    rng = np.random.default_rng(7)
    grid = Grid(0.0, 0.0, 100.0, 100.0, level=4)
    pts = rng.uniform(0, 100, (500, 2))
    pdf = _mk_points(spark, pts)
    qs = [("a", 20.0, 20.0, 9.0), ("b", 77.0, 40.0, 4.5), ("c", 99.0, 99.0, 30.0)]
    qdf = spark.createDataFrame(qs, "q_id string, cx double, cy double, r double")
    got = {
        (r["q_id"], r["pid"])
        for r in within_distance_join_table(pdf, qdf, grid).collect()
    }
    expect = set()
    for q, cx_, cy_, rr in qs:
        d2 = (pts[:, 0] - cx_) ** 2 + (pts[:, 1] - cy_) ** 2
        for i in np.flatnonzero(d2 <= rr * rr):
            expect.add((q, int(i)))
    assert got == expect


def test_poly_poly_contains_matches_bruteforce(spark, sf_dir):
    """Big×big containment join vs per-pair relate contains over the full
    cross product (no cells, no dedup machinery in the oracle)."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.predicates import evaluate_predicate

    got = {(r["pid"], r["poly_id"])
           for r in E.q_poly_poly_contains(spark, sf_dir).collect()}
    rects = E._event_rects(spark, sf_dir).collect()
    octs = {f"oct-{k}": nation_octagon_geom(k)
            for k in E._nation_keys(spark, sf_dir)}
    expect = set()
    for r in rects:
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, oct_g in octs.items():
            if evaluate_predicate("contains", oct_g, g):
                expect.add((r["pid"], pid))
    assert got == expect
    assert len(got) > 0


def test_within_dist_join_geom_matches_bruteforce(spark, sf_dir):
    """Envelope-expanded cover explode + refine vs per-pair facet distance
    over the full cross product; each pair exactly once."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.kernels.facetdist import facet_distance
    from nettopologysuite_spark.kernels.geom import wkb_loads

    rows = E.q_within_dist_join_geom(spark, sf_dir).collect()
    got = [(r["pid"], r["poly_id"]) for r in rows]
    assert len(got) == len(set(got))
    rects = E._event_rects(spark, sf_dir).collect()
    octs = {f"oct-{k}": nation_octagon_geom(k)
            for k in E._nation_keys(spark, sf_dir)}
    expect = set()
    for r in rects:
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, oct_g in octs.items():
            if facet_distance(g, oct_g) <= 2.0:
                expect.add((r["pid"], pid))
    assert set(got) == expect
    assert len(expect) > 0


def test_knn_join_geom_matches_bruteforce(spark, sf_dir):
    """Doubling-radius geometry kNN vs per-pair facet distance over the
    full cross product; exact ranks and (squared) distances."""
    import numpy as np

    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.kernels.facetdist import facet_distance
    from nettopologysuite_spark.kernels.geom import wkb_loads

    got = {(r["poly_id"], r["rank"]): (r["pid"], r["dist2"])
           for r in E.q_knn_join_geom(spark, sf_dir).collect()}
    rects = [(r["pid"], wkb_loads(bytes(r["geom_wkb"])))
             for r in E._event_rects(spark, sf_dir).collect()]
    for k in E._nation_keys(spark, sf_dir):
        oct_g = nation_octagon_geom(k)
        d = sorted(
            ((facet_distance(g, oct_g) ** 2, pid) for pid, g in rects),
        )[:5]
        for rank, (d2, pid) in enumerate(d, start=1):
            gpid, gd2 = got[(f"oct-{k}", rank)]
            assert gpid == pid, (k, rank, gpid, pid)
            assert abs(gd2 - d2) <= 1e-9 * max(1.0, d2), (k, rank)


def test_knn_join_geom_sparse_forces_rounds(spark):
    """Queries far from the data retire only after several radius
    doublings; results still exact (brute force) and each query gets
    min(k, |data|) rows."""
    import numpy as np

    from nettopologysuite_spark.engine.joins import knn_join_geom
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.facetdist import facet_distance
    from nettopologysuite_spark.kernels.geom import polygon, wkb_dumps, wkb_loads

    def rect(cx, cy, s):
        return polygon([(cx - s, cy - s), (cx + s, cy - s), (cx + s, cy + s),
                        (cx - s, cy + s), (cx - s, cy - s)])

    # 3 data rects clustered in one corner, queries spread far away
    data = [(i, wkb_dumps(rect(2.0 + i, 2.0, 0.5))) for i in range(3)]
    queries = [(f"q{j}", wkb_dumps(rect(80.0 + 5 * j, 90.0, 1.0)))
               for j in range(4)]
    ddf = spark.createDataFrame(data, "pid long, geom_wkb binary")
    qdf = spark.createDataFrame(queries, "q string, q_wkb binary")
    out = knn_join_geom(qdf, ddf, Grid(0.0, 0.0, 100.0, 100.0, level=5), k=2,
                        q_id="q", q_wkb="q_wkb", d_id="pid", d_wkb="geom_wkb")
    rows = out.collect()
    assert len(rows) == 8  # 4 queries × min(k=2, 3)
    got = {(r["q"], r["rank"]): r["pid"] for r in rows}
    for qid, qwkb in queries:
        qg = wkb_loads(qwkb)
        order = sorted((facet_distance(wkb_loads(w), qg), pid) for pid, w in data)
        assert got[(qid, 1)] == order[0][1]
        assert got[(qid, 2)] == order[1][1]


def test_bigbig_within_coveredby_predicates(spark, sf_dir):
    """within/coveredby on the big×big join: roles swapped, vectorized via
    the same batch-covers kernel grouped by the container side. Must equal
    poly_poly_contains with the sides exchanged, and brute force."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import wkb_dumps, wkb_loads
    from nettopologysuite_spark.kernels.predicates import evaluate_predicate

    rects = E._event_rects(spark, sf_dir)
    keys = E._nation_keys(spark, sf_dir)
    octs = spark.createDataFrame(
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    grid = Grid(0.0, 0.0, 100.0, 100.0, level=5)
    within = spatial_join_bigbig(
        rects, octs, grid, "within",
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="oct_wkb",
    )
    got_w = {(r.pid, r.poly_id) for r in within.select("pid", "poly_id").collect()}
    contains = {(r.pid, r.poly_id)
                for r in E.q_poly_poly_contains(spark, sf_dir).collect()}
    assert got_w == contains and len(got_w) > 0

    covby = spatial_join_bigbig(
        rects, octs, grid, "coveredby",
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="oct_wkb",
    )
    got_c = {(r.pid, r.poly_id) for r in covby.select("pid", "poly_id").collect()}
    octg = {f"oct-{k}": nation_octagon_geom(k) for k in keys}
    expect_c = set()
    for r in rects.collect():
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, og in octg.items():
            if evaluate_predicate("covers", og, g):
                expect_c.add((r["pid"], pid))
    assert got_c == expect_c


def test_bigbig_join_accepts_z_wkb(spark, sf_dir):
    """Z-bearing WKB inputs flow through the big×big join unchanged:
    the envelope UDF and batch kernels operate on XY, so the result set
    equals the 2-D join's (Z is payload, not topology)."""
    import numpy as np

    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import wkb_dumps, wkb_loads
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    import pandas as pd

    rects = E._event_rects(spark, sf_dir)

    @pandas_udf("binary")
    def _add_z(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            g = wkb_loads(bytes(b))
            g.ring_zs = [np.full(len(r), 5.0) for r in g.rings]
            out.append(wkb_dumps(g))
        return pd.Series(out)

    zrects = rects.select("pid", _add_z(F.col("geom_wkb")).alias("geom_wkb"))
    keys = E._nation_keys(spark, sf_dir)
    octs = spark.createDataFrame(
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    grid = Grid(0.0, 0.0, 100.0, 100.0, level=5)
    a = {(r.pid, r.poly_id) for r in spatial_join_bigbig(
        zrects, octs, grid, "intersects",
        left_id="pid", right_id="poly_id",
        left_wkb="geom_wkb", right_wkb="oct_wkb",
    ).select("pid", "poly_id").collect()}
    b = {(r.pid, r.poly_id) for r in E.q_poly_poly_join(spark, sf_dir).collect()}
    assert a == b and len(a) > 0


def test_knn_join_geom_empty_sides(spark):
    """Empty data or empty query side terminates the round loop and
    returns an empty, correctly-typed frame."""
    from nettopologysuite_spark.engine.joins import knn_join_geom
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import polygon, wkb_dumps

    grid = Grid(0.0, 0.0, 100.0, 100.0, level=5)
    rect = wkb_dumps(polygon([(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]))
    some = spark.createDataFrame([(1, rect)], "pid long, geom_wkb binary")
    empty = spark.createDataFrame([], "pid long, geom_wkb binary")
    qdf = spark.createDataFrame([("q0", rect)], "q string, q_wkb binary")
    qempty = spark.createDataFrame([], "q string, q_wkb binary")

    out1 = knn_join_geom(qdf, empty, grid, k=3, q_id="q", q_wkb="q_wkb",
                         d_id="pid", d_wkb="geom_wkb")
    assert out1.count() == 0
    assert set(out1.columns) == {"q", "rank", "pid", "dist2"}
    out2 = knn_join_geom(qempty, some, grid, k=3, q_id="q", q_wkb="q_wkb",
                         d_id="pid", d_wkb="geom_wkb")
    assert out2.count() == 0


def test_poly_poly_touches_matches_bruteforce(spark, sf_dir):
    """Big×big TOUCHES join (batched DE-9IM composition) vs the per-pair
    scalar relate kernel over the full cross product."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_rect_geom
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.predicates import evaluate_predicate

    got = {(r["pid"], r["poly_id"])
           for r in E.q_poly_poly_touches(spark, sf_dir).collect()}
    rects = E._event_rects_snapped(spark, sf_dir).collect()
    nrects = {f"rect-{k}": nation_rect_geom(k)
              for k in E._nation_keys(spark, sf_dir)}
    expect = set()
    for r in rects:
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, ng in nrects.items():
            if evaluate_predicate("touches", g, ng):
                expect.add((r["pid"], pid))
    assert got == expect
    assert len(got) > 0


# every __spark_entry__ query built on a point join or a polygon-pack join,
# and every query whose engine code calls persist
CACHE_CHECKED_QUERIES = [
    "pip_rect_join", "pip_convex_join", "pip_join_salted", "pip_join_adaptive",
    "centroid_agg", "within_dist_join", "within_dist_join_df", "knn_join",
    "knn_join_ring", "knn_join_df", "docs_pip_join", "docs_mixed_join",
    "seg_cross_join", "zonal_stats", "knn_join_geom", "dup_clusters",
    "minhash_lsh", "ngram_jaccard", "geo_cluster", "geo_kmeans",
]


def test_queries_leave_no_cache(spark, sf_dir):
    """A returned plan is lazy, so a query that persists an intermediate
    cannot unpersist it; the cache manager must be empty after each query."""
    import __spark_entry__ as E

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    queries = E.queries()
    for name in CACHE_CHECKED_QUERIES:
        queries[name](spark, sf_dir).count()
        assert cache.isEmpty(), name
