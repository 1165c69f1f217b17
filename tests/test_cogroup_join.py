"""Big×big native cell-join: property-equal to the broadcast-pack
path and to a driver-side brute force; reference-cell dedup emits each pair
exactly once."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402


def _brute_force_pairs(spark, sf_dir):
    from nettopologysuite_spark.kernels.geom import wkb_loads
    from nettopologysuite_spark.kernels.predicates import intersects

    rects = E._event_rects(spark, sf_dir).collect()
    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    pgeoms = pack.geoms()
    expect = set()
    for r in rects:
        g = wkb_loads(bytes(r["geom_wkb"]))
        for pid, poly in pgeoms.items():
            if intersects(g, poly):
                expect.add((r["pid"], pid))
    return expect


def test_cogroup_join_matches_bruteforce_and_broadcast(spark, sf_dir):
    from nettopologysuite_spark.engine.joins import spatial_join_wkb

    got_rows = [(r["pid"], r["poly_id"]) for r in E.q_poly_poly_join(spark, sf_dir).collect()]
    got = set(got_rows)
    # exactly-once per pair (reference-cell dedup)
    assert len(got_rows) == len(got)
    # equals driver brute force
    assert got == _brute_force_pairs(spark, sf_dir)
    # equals the broadcast-pack path on the same inputs
    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    rects = E._event_rects(spark, sf_dir)
    bc = spatial_join_wkb(rects, pack, E.GRID, predicate="intersects")
    bc_got = {(r["pid"], r["poly_id"]) for r in bc.select("pid", "poly_id").collect()}
    assert got == bc_got


@pytest.mark.parametrize(
    "predicate", ["intersects", "touches", "crosses", "covers", "within", "overlaps"]
)
def test_cogroup_join_mixed_types(spark, predicate):
    """Points/lines/polygons on the left, polygons on the right: the batched
    refine must equal the relate kernel per predicate — touch, crossing,
    overlap and containment cases covered."""
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.geom import (
        linestring,
        point,
        polygon,
        wkb_dumps,
    )
    from nettopologysuite_spark.kernels.relate import relate_predicate
    from nettopologysuite_spark.kernels.cells import Grid

    grid = Grid(0.0, 0.0, 100.0, 100.0, level=4)
    lefts = [
        ("p-in", point(10.0, 10.0)),
        ("p-bnd", point(14.0, 10.0)),  # on octagon-ish square boundary
        ("p-out", point(90.0, 90.0)),
        ("l-cross", linestring([(0.0, 10.0), (20.0, 10.0)])),
        ("l-touch", linestring([(14.0, 6.0), (14.0, 14.0)])),
        ("l-inside", linestring([(8.0, 8.0), (12.0, 12.0)])),
        ("pg-overlap", polygon([(12.0, 8.0), (20.0, 8.0), (20.0, 12.0), (12.0, 12.0)])),
        ("pg-inside", polygon([(9.0, 9.0), (11.0, 9.0), (11.0, 11.0), (9.0, 11.0)])),
        ("pg-edge", polygon([(14.0, 6.0), (18.0, 6.0), (18.0, 14.0), (14.0, 14.0)])),
        ("pg-cover", polygon([(56.0, 56.0), (68.0, 56.0), (68.0, 68.0), (56.0, 68.0)])),
        ("pg-far", polygon([(60.0, 60.0), (62.0, 60.0), (62.0, 62.0), (60.0, 62.0)])),
    ]
    rights = [
        ("sq-a", polygon([(6.0, 6.0), (14.0, 6.0), (14.0, 14.0), (6.0, 14.0)])),
        ("sq-b", polygon([(58.0, 58.0), (66.0, 58.0), (66.0, 66.0), (58.0, 66.0)])),
    ]
    ldf = spark.createDataFrame(
        [(i, wkb_dumps(g)) for i, g in lefts], "l_id string, l_wkb binary"
    )
    rdf = spark.createDataFrame(
        [(i, wkb_dumps(g)) for i, g in rights], "r_id string, r_wkb binary"
    )
    out = spatial_join_bigbig(ldf, rdf, grid, predicate)
    got_rows = [(r["l_id"], r["r_id"]) for r in out.collect()]
    expect = {
        (li, ri)
        for li, lg in lefts
        for ri, rg in rights
        if relate_predicate(lg, rg, predicate)
    }
    assert len(got_rows) == len(set(got_rows))
    assert set(got_rows) == expect
    assert expect, predicate  # every predicate has at least one true pair


def test_bigbig_join_shuffle_path_exact(spark):
    """Both sides genuinely large (neither broadcastable as a driver pack):
    1,500 rects × 1,200 rects — result must equal the numpy brute force.
    Exercises the shuffled-hash candidate join + vectorized refine end to
    end with a non-trivial right side."""
    import numpy as np

    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import polygon, wkb_dumps

    rng = np.random.default_rng(23)
    grid = Grid(0.0, 0.0, 100.0, 100.0, level=5)

    def mk(n, seed_shift):
        c = rng.uniform(2, 98, (n, 2))
        w = rng.uniform(0.2, 1.5, (n, 2))
        rows = []
        for i in range(n):
            x0, y0 = c[i] - w[i]
            x1, y1 = c[i] + w[i]
            rows.append((i + seed_shift, wkb_dumps(polygon(
                [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]))))
        return rows, np.column_stack([c - w, c + w])

    lrows, lenv = mk(1500, 0)
    rrows, renv = mk(1200, 100000)
    ldf = spark.createDataFrame(lrows, "l_id long, l_wkb binary")
    rdf = spark.createDataFrame(rrows, "r_id long, r_wkb binary")
    out = spatial_join_bigbig(ldf, rdf, grid, "intersects")
    got = {(r["l_id"], r["r_id"]) for r in out.collect()}
    # exactly-once per pair
    assert len(got) == out.count()
    # brute force: axis-aligned rect intersects ⟺ envelope overlap
    ov = (
        (lenv[:, 0][:, None] <= renv[:, 2][None, :])
        & (lenv[:, 2][:, None] >= renv[:, 0][None, :])
        & (lenv[:, 1][:, None] <= renv[:, 3][None, :])
        & (lenv[:, 3][:, None] >= renv[:, 1][None, :])
    )
    li, rj = np.nonzero(ov)
    expect = {(int(i), int(j) + 100000) for i, j in zip(li, rj)}
    assert got == expect


def test_strtree_nearest_item_dist_callback():
    """item_dist returns SQUARED exact distance; branch-and-bound must return
    true nearest even when envelope order differs from exact order."""
    import numpy as np

    from nettopologysuite_spark.kernels.strtree import STRtree

    rng = np.random.default_rng(7)
    centers = rng.uniform(0, 100, size=(200, 2))
    half = rng.uniform(0.1, 5.0, size=(200, 1))  # big boxes, tiny real points
    envs = np.hstack([centers - half, centers + half])
    tree = STRtree(envs)

    def item_dist(i, x, y):
        dx = centers[i, 0] - x
        dy = centers[i, 1] - y
        return dx * dx + dy * dy

    for qx, qy in rng.uniform(0, 100, size=(20, 2)):
        got = tree.nearest(qx, qy, k=5, item_dist=item_dist)
        d2 = (centers[:, 0] - qx) ** 2 + (centers[:, 1] - qy) ** 2
        expect = list(np.argsort(d2, kind="stable")[:5])
        assert sorted(got) == sorted(int(e) for e in expect)


def test_choose_grid_matches_feature_extent(spark, sf_dir):
    """The sampled auto-level lands at cell size ~ feature extent for the
    rect x octagon workload, clamps to the finest level for points, and the
    join result is identical under the chosen grid (dedup invariant)."""
    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.engine.joins import choose_grid, spatial_join_bigbig
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = E._event_rects(spark, sf_dir)
    keys = E._nation_keys(spark, sf_dir)
    octs = spark.createDataFrame(
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    g = choose_grid(rects, octs, (0.0, 0.0, 100.0, 100.0),
                    left_wkb="geom_wkb", right_wkb="oct_wkb", fraction=0.5)
    # rect spans 2-8, octagons 8-16 -> mean max-span ~5-7 -> level 4 +- 1
    assert 3 <= g.level <= 5, g.level
    auto = spatial_join_bigbig(
        rects, octs, g, "intersects",
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="oct_wkb",
    )
    fixed = E.q_poly_poly_join(spark, sf_dir)
    a = {(r.pid, r.poly_id) for r in auto.select("pid", "poly_id").collect()}
    b = {(r.pid, r.poly_id) for r in fixed.collect()}
    assert a == b

    # point-dominated side: spans ~0 -> clamps to the finest level
    from nettopologysuite_spark.kernels.geom import point as k_point, wkb_dumps as wd
    ptrows = [(i, wd(k_point(float(i % 10), float(i % 7)))) for i in range(200)]
    ptdf = spark.createDataFrame(ptrows, "pid long, geom_wkb binary")
    g2 = choose_grid(ptdf, ptdf, (0.0, 0.0, 100.0, 100.0),
                     left_wkb="geom_wkb", right_wkb="geom_wkb", fraction=1.0)
    assert g2.level == 8


def test_choose_grid_small_side_and_zipf_tail(spark, sf_dir):
    """Regression (round-4 advice): a tiny side must contribute to the span
    estimate even when the fraction sample draws zero rows from it; and
    Zipfian (heavy-tailed) extents must not drag the grid coarse — the p75
    estimator tracks the bulk, join output stays level-invariant, and the
    explode factor stays bounded."""
    import numpy as np

    import __spark_entry__ as E
    from nettopologysuite_spark.engine.derive import nation_octagon_geom
    from nettopologysuite_spark.engine.joins import choose_grid, spatial_join_bigbig
    from nettopologysuite_spark.engine.tiling import envelope_struct_udf, explode_cover_native
    from nettopologysuite_spark.kernels.cells import Grid
    from nettopologysuite_spark.kernels.geom import polygon as k_polygon
    from nettopologysuite_spark.kernels.geom import wkb_dumps
    from pyspark.sql import functions as F

    # 1. tiny dimension side + default 1% fraction: the limit top-up makes
    #    the octagons (span 8-16) pull the level down from the rect-only
    #    estimate — and never lets an empty sample fall through to span=0
    rects = E._event_rects(spark, sf_dir)
    keys = E._nation_keys(spark, sf_dir)
    octs = spark.createDataFrame(
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    g = choose_grid(rects, octs, (0.0, 0.0, 100.0, 100.0),
                    left_wkb="geom_wkb", right_wkb="oct_wkb", fraction=0.01)
    assert 3 <= g.level <= 6, g.level

    # 2. Zipfian spans: bulk ~1-2 units, a tail of giants up to ~50 units.
    rng = np.random.default_rng(17)
    spans = np.minimum(50.0, 1.0 + 1.0 / rng.power(3.0, 400))
    cx = rng.uniform(5, 95, 400); cy = rng.uniform(5, 95, 400)
    rows = []
    for i in range(400):
        s = float(spans[i]) / 2
        x0, y0 = float(cx[i]), float(cy[i])
        rows.append((i, wkb_dumps(k_polygon(
            [(x0 - s, y0 - s), (x0 + s, y0 - s), (x0 + s, y0 + s),
             (x0 - s, y0 + s), (x0 - s, y0 - s)]))))
    zdf = spark.createDataFrame(rows, "pid long, geom_wkb binary")
    gz = choose_grid(zdf, octs, (0.0, 0.0, 100.0, 100.0),
                     left_wkb="geom_wkb", right_wkb="oct_wkb", fraction=1.0)
    # p75 of (bulk ~1-2) stays fine-grained; the mean over the Zipf tail
    # would land 1-2 levels coarser
    assert gz.level >= 5, gz.level
    # output equality across levels (dedup invariant)
    results = []
    for grid in (gz, Grid(0.0, 0.0, 100.0, 100.0, level=3)):
        out = spatial_join_bigbig(
            zdf, octs, grid, "intersects",
            left_id="pid", right_id="poly_id",
            left_wkb="geom_wkb", right_wkb="oct_wkb",
        )
        results.append({(r.pid, r.poly_id) for r in out.collect()})
    assert results[0] == results[1]
    assert len(results[0]) > 0
    # bounded explode: at the chosen grid the mean cover multiplicity of
    # the Zipfian side stays small (tail giants explode, the bulk doesn't)
    env_udf = envelope_struct_udf()
    tagged = zdf.select("pid", env_udf(F.col("geom_wkb")).alias("_env"))
    n_exploded = explode_cover_native(tagged, gz).count()
    assert n_exploded / 400 <= 16, n_exploded
