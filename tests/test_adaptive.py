"""Adaptive multi-level cover (S2 RegionCoverer analog): kernel properties
plus join equality with the single-level broadcast PIP join."""

import sys
from pathlib import Path

import numpy as np

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as E  # noqa: E402
from nettopologysuite_spark.engine.derive import nation_octagon_geom  # noqa: E402
from nettopologysuite_spark.engine.joins import (  # noqa: E402
    _adaptive_cover_rows,
    pip_join_points,
    pip_join_points_adaptive,
)
from nettopologysuite_spark.engine.polygons import PolygonPack  # noqa: E402
from nettopologysuite_spark.kernels.adaptive import (  # noqa: E402
    adaptive_cover,
    boundary_segments,
    segs_intersect_rect,
)
from nettopologysuite_spark.kernels.cells import Grid  # noqa: E402
from nettopologysuite_spark.kernels.geom import wkt_loads  # noqa: E402
from nettopologysuite_spark.kernels.pip import PreparedPolygon  # noqa: E402

GRID = Grid(0.0, 0.0, 100.0, 100.0, level=6)


def _cell_rect(grid, level, cell):
    nside = 1 << level
    iy, ix = divmod(int(cell), nside)
    cw = (grid.maxx - grid.minx) / nside
    ch = (grid.maxy - grid.miny) / nside
    return (grid.minx + ix * cw, grid.miny + iy * ch,
            grid.minx + (ix + 1) * cw, grid.miny + (iy + 1) * ch)


def test_segs_intersect_rect_cases():
    segs = np.array([
        [0.0, 0.0, 1.0, 1.0],    # inside
        [-1.0, -1.0, 2.0, 2.0],  # crosses through
        [5.0, 5.0, 6.0, 6.0],    # fully outside
        [-1.0, 0.0, 0.0, -1.0],  # touches corner (0,0)? crosses x+y=-1 line: no
        [-1.0, 1.0, 1.0, -1.0],  # crosses corner region
        [2.0, -5.0, 2.0, 5.0],   # vertical through right edge x=2
        [0.5, 3.0, 1.5, 3.0],    # horizontal above
    ])
    got = segs_intersect_rect(segs, 0.0, 0.0, 2.0, 2.0)
    assert got.tolist() == [True, True, False, False, True, True, False]


def test_adaptive_cover_properties():
    g = wkt_loads(
        "POLYGON ((20 10, 80 10, 90 50, 60 90, 25 85, 10 40, 20 10),"
        " (40 40, 60 40, 60 60, 40 60, 40 40))"  # with a hole
    )
    lv, cl, it = adaptive_cover(g, GRID)
    assert len(lv) > 0
    # disjoint across levels: no emitted cell is an ancestor of another
    keys = set(zip(lv.tolist(), cl.tolist()))
    assert len(keys) == len(lv)
    for level, cell in keys:
        nside = 1 << level
        iy, ix = divmod(cell, nside)
        for anc_lv in range(level):
            shift = level - anc_lv
            anc = (iy >> shift) * (1 << anc_lv) + (ix >> shift)
            assert (anc_lv, anc) not in keys
    # interior cells: a 3x3 point sample inside each is covered; and the
    # boundary never intersects the cell
    prep = PreparedPolygon(g)
    segs = boundary_segments(g)
    n_int = 0
    for level, cell, interior in zip(lv, cl, it):
        x0, y0, x1, y1 = _cell_rect(GRID, level, cell)
        hit = segs_intersect_rect(segs, x0, y0, x1, y1)
        if interior:
            n_int += 1
            assert not hit.any()
            xs, ys = np.meshgrid(np.linspace(x0, x1, 3), np.linspace(y0, y1, 3))
            assert prep.covers_points(xs.ravel(), ys.ravel()).all()
        else:
            assert hit.any()
    assert n_int > 0, "a 60x80 polygon on a 64-cell-side grid must compact"
    # completeness: every covered random point falls in exactly one cover cell
    rng = np.random.default_rng(42)
    px = rng.uniform(0, 100, 2000)
    py = rng.uniform(0, 100, 2000)
    inside = prep.covers_points(px, py)
    fine = GRID.cell_ids(px, py)
    iy6, ix6 = np.divmod(fine, GRID.n)
    for i in np.flatnonzero(inside):
        hits = 0
        for level, cell in keys:
            shift = GRID.level - level
            c = (int(iy6[i]) >> shift) * (1 << level) + (int(ix6[i]) >> shift)
            if c == cell:
                hits += 1
        assert hits == 1, (px[i], py[i])


def test_adaptive_cover_budget():
    g = wkt_loads("POLYGON ((5 5, 95 5, 95 95, 5 95, 5 5))")
    lv, cl, it = adaptive_cover(g, Grid(0, 0, 100, 100, level=10), max_cells=64)
    assert len(lv) <= 64 + 8  # small overshoot from in-flight frontier
    # budget-coarsened cover still over-approximates: sampled inside points
    # all land in some cover cell
    rng = np.random.default_rng(1)
    px = rng.uniform(6, 94, 500)
    py = rng.uniform(6, 94, 500)
    grid = Grid(0, 0, 100, 100, level=10)
    fine = grid.cell_ids(px, py)
    iy, ix = np.divmod(fine, grid.n)
    keys = set(zip(lv.tolist(), cl.tolist()))
    for i in range(len(px)):
        found = any(
            ((int(iy[i]) >> (grid.level - level)) * (1 << level)
             + (int(ix[i]) >> (grid.level - level))) == cell
            for level, cell in keys
        )
        assert found


def _adaptive_equals_broadcast(spark, sf_dir, pack, python_nodes):
    pts = E._event_points(spark, sf_dir)
    base = {
        (r["pid"], r["poly_id"])
        for r in pip_join_points(pts, pack, E.GRID, "covers").collect()
    }
    ada = pip_join_points_adaptive(pts, pack, E.GRID, "covers")
    # Plan captured BEFORE execution: the post-AQE string repeats subtrees
    # across query stages.
    plan = ada._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == python_nodes, plan[:800]
    assert "BatchEvalPython" not in plan
    got = [(r["pid"], r["poly_id"]) for r in ada.collect()]
    assert len(got) == len(set(got)), "adaptive cover must not duplicate pairs"
    assert set(got) == base


def test_adaptive_join_equals_broadcast(spark, sf_dir):
    """Octagons are convex: both branches are native, the plan holds no
    Python node."""
    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    _adaptive_equals_broadcast(spark, sf_dir, pack, python_nodes=0)


def test_adaptive_generic_join_equals_broadcast(spark, sf_dir):
    """Against a generic pack the refine UDF appears once (boundary branch
    only) — the interior branch is pure native acceptance."""
    keys = E._nation_keys(spark, sf_dir)
    pack = PolygonPack.from_geoms([(f"oct-{k}", nation_octagon_geom(k)) for k in keys])
    _adaptive_equals_broadcast(spark, sf_dir, pack, python_nodes=1)


def test_adaptive_interior_fraction(spark, sf_dir):
    """The point of the adaptive cover: most accepted candidates must come
    from interior cells (zero-Python acceptances)."""
    from pyspark.sql import functions as F

    pts = E._event_points(spark, sf_dir)
    pack = E._octagon_pack(E._nation_keys(spark, sf_dir))
    cover = spark.createDataFrame(
        _adaptive_cover_rows(pack, E.GRID),
        "level int, cell long, poly_id string, interior boolean",
    )
    n_int = cover.filter("interior").count()
    assert n_int > 0
    grid = E.GRID
    ix = F.floor(F.col("x") / F.lit(grid.cell_w)).cast("long")
    iy = F.floor(F.col("y") / F.lit(grid.cell_h)).cast("long")
    pts6 = pts.withColumn("_ix", ix).withColumn("_iy", iy)
    levels = sorted(r[0] for r in cover.select("level").distinct().collect())
    frames = []
    for lv in levels:
        sh = grid.level - lv
        frames.append(
            pts6.withColumn("level", F.lit(lv).cast("int")).withColumn(
                "cell",
                (F.shiftright(F.col("_iy"), sh) * F.lit(1 << lv)
                 + F.shiftright(F.col("_ix"), sh)).cast("long"),
            )
        )
    allp = frames[0]
    for fr in frames[1:]:
        allp = allp.unionByName(fr)
    cand = allp.join(F.broadcast(cover), ["level", "cell"])
    total = cand.count()
    interior = cand.filter("interior").count()
    assert interior / total > 0.5, (interior, total)
