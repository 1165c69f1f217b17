"""The native convex refine (``joins._convex_refine``) answers every point
join exactly as the ``pip_refine_udf`` kernel does on the same convex pack:
random points, the octagons' vertices and edge quarter-points (the touches
rows), points outside the grid extent, NULL, NaN and ±inf coordinates."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nettopologysuite_spark.engine.derive import nation_octagon_geom, nation_octagon_vertices
from nettopologysuite_spark.engine.joins import (
    _JOIN_PREDICATES,
    cover_cells_df,
    pip_join_points,
    pip_join_points_adaptive,
    pip_join_points_sortmerge,
    pip_refine_udf,
)
from nettopologysuite_spark.engine.polygons import PolygonPack
from nettopologysuite_spark.engine.session import local_frame
from nettopologysuite_spark.engine.tiling import with_cell_id
from nettopologysuite_spark.kernels.cells import Grid

# coarse cells: a NaN or -inf coordinate clamps into column / row 0, which
# octagon 0 (x, y in 6..14) covers, so those points reach the refine
GRID = Grid(0.0, 0.0, 100.0, 100.0, level=4)
KEYS = range(25)
PACK = PolygonPack.from_geoms(
    [(f"oct-{k}", nation_octagon_geom(k)) for k in KEYS], kind="convex"
)
INF, NAN = math.inf, math.nan


def _point_rows() -> list[tuple]:
    rng = np.random.default_rng(5)
    pts = [tuple(p) for p in rng.uniform(-5.0, 105.0, (2000, 2))]
    for k in KEYS:
        v = nation_octagon_vertices(k)
        for a, b in zip(v, np.roll(v, -1, axis=0)):
            pts.extend(tuple(a + (b - a) * t) for t in (0.0, 0.25, 0.5, 0.75))
    pts += [(NAN, 10.0), (10.0, NAN), (NAN, NAN), (None, 10.0), (10.0, None),
            (INF, 10.0), (-INF, 10.0), (10.0, INF), (10.0, -INF), (INF, INF),
            (-INF, -INF), (-3.0, 10.0), (110.0, 10.0)]
    return [(i, float(x) if x is not None else None, float(y) if y is not None else None)
            for i, (x, y) in enumerate(pts)]


@pytest.fixture(scope="module")
def points(spark):
    return local_frame(spark, _point_rows(), "pid long, x double, y double")


@pytest.fixture(scope="module")
def udf_rows(points):
    """predicate → its (pid, poly_id) rows through the pandas UDF on the
    broadcast cell-join candidates."""
    cand = with_cell_id(points, GRID).join(
        F.broadcast(cover_cells_df(points.sparkSession, PACK, GRID)), "cell_id")
    xy = (F.col("x"), F.col("y"), F.col("poly_id"))
    return {
        p: {(r["pid"], r["poly_id"])
            for r in cand.filter(pip_refine_udf(PACK, p)(*xy)).collect()}
        for p in _JOIN_PREDICATES
    }


JOINS = {
    "broadcast": lambda pts, p, pack=PACK: pip_join_points(pts, pack, GRID, p),
    "sortmerge": lambda pts, p, pack=PACK: pip_join_points_sortmerge(
        pts, pack, GRID, p, hot_cell_threshold=1, id_col="pid"),
    "adaptive": lambda pts, p, pack=PACK: pip_join_points_adaptive(pts, pack, GRID, p),
}
ADAPTIVE_PREDICATES = ("intersects", "covers", "contains")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("predicate", _JOIN_PREDICATES)
@pytest.mark.parametrize("join", JOINS.values(), ids=JOINS.keys())
def test_native_refine_equals_udf(points, udf_rows, join, predicate):
    if join is JOINS["adaptive"] and predicate not in ADAPTIVE_PREDICATES:
        with pytest.raises(ValueError, match=predicate):
            join(points, predicate)
        return
    df = join(points, predicate)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    got = [(r["pid"], r["poly_id"]) for r in df.collect()]
    assert len(got) == len(set(got))
    assert set(got) == udf_rows[predicate]


def test_the_rows_reach_every_case(spark, points, udf_rows):
    """The point set exercises what the equality test claims: NaN points
    are candidates (so a NaN cross product is compared), and boundary
    points make touches non-empty."""
    rows = _point_rows()
    nan_ids = {i for i, x, y in rows
               if x is not None and y is not None and (math.isnan(x) or math.isnan(y))}
    cand = with_cell_id(points, GRID).join(
        F.broadcast(cover_cells_df(spark, PACK, GRID)), "cell_id")
    assert nan_ids & {r["pid"] for r in cand.select("pid").collect()}
    assert udf_rows["touches"]
    assert udf_rows["covers"] != udf_rows["contains"]


@pytest.mark.parametrize("join", JOINS.values(), ids=JOINS.keys())
def test_output_columns_unchanged(points, join):
    """A convex pack's cover ``_edges`` never reach a join's output: its
    columns are the generic pack's."""
    generic = PolygonPack.from_geoms(
        [(f"oct-{k}", nation_octagon_geom(k)) for k in KEYS], kind="generic")
    assert join(points, "covers").columns == join(points, "covers", generic).columns
