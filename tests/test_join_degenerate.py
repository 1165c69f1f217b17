"""Degenerate inputs to the joins: empty sides, NULL WKB, ``POLYGON EMPTY``
rows, NULL / NaN coordinates, negative radii and points outside the grid
extent must neither crash a join nor change its documented rows."""

import math

import pytest

from nettopologysuite_spark.engine.derive import nation_octagon_geom
from nettopologysuite_spark.engine.joins import (
    knn_join_geom,
    knn_join_points,
    knn_join_table,
    pair_refine_udf,
    pip_join_points,
    pip_join_points_adaptive,
    pip_join_points_sortmerge,
    pip_refine_udf,
    spatial_join_bigbig,
    spatial_join_wkb,
    within_distance_join_geom,
    within_distance_join_points,
    within_distance_join_table,
)
from nettopologysuite_spark.engine.polygons import PolygonPack
from nettopologysuite_spark.kernels.cells import Grid
from nettopologysuite_spark.kernels.geom import point, polygon, wkb_dumps, wkt_loads
from nettopologysuite_spark.kernels.relate import relate_predicate

GRID = Grid(0.0, 0.0, 100.0, 100.0, level=4)
SQUARE = polygon([(10.0, 10.0), (20.0, 10.0), (20.0, 20.0), (10.0, 20.0)])
EMPTY_WKB = wkb_dumps(wkt_loads("POLYGON EMPTY"))

# valid rows that match SQUARE, plus the degenerate ones that must not
LEFT_ROWS = [
    ("in", wkb_dumps(point(15.0, 15.0))),
    ("edge", wkb_dumps(polygon([(18.0, 12.0), (25.0, 12.0), (25.0, 14.0), (18.0, 14.0)]))),
    ("null", None),
    ("empty", EMPTY_WKB),
]
RIGHT_ROWS = [("sq", wkb_dumps(SQUARE)), ("r-null", None), ("r-empty", EMPTY_WKB)]


def _frames(spark, lrows, rrows):
    ldf = spark.createDataFrame(lrows, "l_id string, l_wkb binary")
    rdf = spark.createDataFrame(rrows, "r_id string, r_wkb binary")
    return ldf, rdf


def _bigbig(ldf, rdf):
    return spatial_join_bigbig(ldf, rdf, GRID, "intersects")


def _within(ldf, rdf):
    return within_distance_join_geom(ldf, rdf, GRID, 1.0)


@pytest.mark.parametrize("join", [_bigbig, _within], ids=["bigbig", "within_distance"])
def test_bigbig_joins_degenerate_rows(spark, join):
    ldf, rdf = _frames(spark, LEFT_ROWS, RIGHT_ROWS)
    got = {(r["l_id"], r["r_id"]) for r in join(ldf, rdf).collect()}
    assert got == {("in", "sq"), ("edge", "sq")}


@pytest.mark.parametrize("join", [_bigbig, _within], ids=["bigbig", "within_distance"])
@pytest.mark.parametrize("empty_side", ["left", "right"])
def test_bigbig_joins_empty_side(spark, join, empty_side):
    lrows = [] if empty_side == "left" else LEFT_ROWS
    rrows = [] if empty_side == "right" else RIGHT_ROWS
    ldf, rdf = _frames(spark, lrows, rrows)
    assert join(ldf, rdf).collect() == []


def _wkb_join(spark, rows, pack):
    geoms = spark.createDataFrame(rows, "g_id string, geom_wkb binary")
    out = spatial_join_wkb(geoms, pack, GRID, predicate="intersects")
    return {(r["g_id"], r["poly_id"]) for r in out.collect()}


def test_spatial_join_wkb_degenerate_rows(spark):
    pack = PolygonPack.from_geoms([("sq", SQUARE)])
    assert _wkb_join(spark, LEFT_ROWS, pack) == {("in", "sq"), ("edge", "sq")}


def test_spatial_join_wkb_empty_sides(spark):
    assert _wkb_join(spark, [], PolygonPack.from_geoms([("sq", SQUARE)])) == set()
    assert _wkb_join(spark, LEFT_ROWS, PolygonPack([])) == set()


# ---------------------------------------------------------------------------
# point × pack probes: every predicate agrees with the relate kernel
# ---------------------------------------------------------------------------

OCTAGON = nation_octagon_geom(0)  # convex, centre (10, 10), vertex (14, 10)
PROBES = [
    (10.0, 10.0),  # interior (the centre)
    (14.0, 10.0),  # a vertex
    (13.5, 11.5),  # an edge midpoint
    (11.0, 10.5),  # interior
    (14.5, 10.0),  # outside, same cell
]
POINT_PREDICATES = ["intersects", "covers", "contains", "touches", "within",
                    "coveredby", "crosses", "overlaps", "equals", "equalstopo"]


@pytest.mark.parametrize("kind", ["generic", "convex"])
@pytest.mark.parametrize("predicate", POINT_PREDICATES)
def test_point_probes_match_relate(spark, kind, predicate):
    """The point rows of ``spatial_join_wkb`` and the PIP refine answer
    predicate(polygon, point) as ``relate_predicate`` does, for both kinds
    of pack structure (touches against a convex pack used to raise, and
    within / coveredby used to return the covered points)."""
    pack = PolygonPack.from_geoms([("oct-0", OCTAGON)], kind=kind)
    want = {i for i, (px, py) in enumerate(PROBES)
            if relate_predicate(OCTAGON, point(px, py), predicate)}
    geoms = spark.createDataFrame(
        [(i, wkb_dumps(point(px, py))) for i, (px, py) in enumerate(PROBES)],
        "i int, geom_wkb binary",
    )
    got = {r["i"] for r in spatial_join_wkb(geoms, pack, GRID, predicate).collect()}
    assert got == want
    pts = spark.createDataFrame(
        [(i, px, py) for i, (px, py) in enumerate(PROBES)], "i int, x double, y double"
    )
    got = {r["i"] for r in pip_join_points(pts, pack, GRID, predicate).collect()}
    assert got == want


def test_disjoint_rejected_when_the_join_is_built(spark):
    """A candidate join never generates the envelope-disjoint pairs, so
    disjoint raises instead of returning the covered rows."""
    pack = PolygonPack.from_geoms([("sq", SQUARE)])
    geoms = spark.createDataFrame(LEFT_ROWS, "g_id string, geom_wkb binary")
    for build in (lambda: pip_refine_udf(pack, "disjoint"),
                  lambda: pair_refine_udf("disjoint"),
                  lambda: spatial_join_wkb(geoms, pack, GRID, "disjoint")):
        with pytest.raises(ValueError, match="disjoint"):
            build()


# ---------------------------------------------------------------------------
# point joins: NULL / NaN coordinates, points outside the grid extent, empty
# sides
# ---------------------------------------------------------------------------

NAN = math.nan
# BIG reaches past the grid extent (0..100), so (110, 110) matches it
BIG = polygon([(90.0, 90.0), (120.0, 90.0), (120.0, 120.0), (90.0, 120.0)])
POINTS = [
    (1, 15.0, 15.0),    # in SQUARE
    (2, None, 15.0),    # NULL coordinate
    (3, NAN, 15.0),     # NaN coordinate
    (4, 110.0, 110.0),  # outside the grid extent, in BIG
    (5, -5.0, 15.0),    # outside the grid extent and every polygon
]
POINT_SCHEMA = "pid long, x double, y double"


def _points(spark, rows=POINTS):
    return spark.createDataFrame(rows, POINT_SCHEMA)


PIP_JOINS = {
    "broadcast": lambda pts, pack: pip_join_points(pts, pack, GRID),
    "sortmerge": lambda pts, pack: pip_join_points_sortmerge(
        pts, pack, GRID, hot_cell_threshold=1, id_col="pid"),
    "adaptive": lambda pts, pack: pip_join_points_adaptive(pts, pack, GRID),
}


# every join against a generic pack (the refine UDF) and a convex one (the
# native half-plane refine)
PIP_CASES = [
    pytest.param(join, kind, id=name if kind == "generic" else f"{name}-convex")
    for kind in ("generic", "convex") for name, join in PIP_JOINS.items()
]


@pytest.mark.parametrize("join, kind", PIP_CASES)
def test_pip_joins_degenerate_points(spark, join, kind):
    pack = PolygonPack.from_geoms([("sq", SQUARE), ("big", BIG)], kind=kind)
    got = [(r["pid"], r["poly_id"]) for r in join(_points(spark), pack).collect()]
    assert sorted(got) == [(1, "sq"), (4, "big")]


@pytest.mark.parametrize("join, kind", PIP_CASES)
def test_pip_joins_empty_sides(spark, join, kind):
    pack = PolygonPack.from_geoms([("sq", SQUARE), ("big", BIG)], kind=kind)
    assert join(_points(spark, []), pack).collect() == []
    assert join(_points(spark), PolygonPack([])).collect() == []


def test_spatial_join_wkb_degenerate_points(spark):
    rows = [
        ("in", wkb_dumps(point(15.0, 15.0))),
        ("far", wkb_dumps(point(110.0, 110.0))),  # outside the grid extent
        ("nan-x", wkb_dumps(point(NAN, 15.0))),
        ("nan-y", wkb_dumps(point(15.0, NAN))),
        ("empty", wkb_dumps(wkt_loads("POINT EMPTY"))),
        ("null", None),
    ]
    pack = PolygonPack.from_geoms([("sq", SQUARE), ("big", BIG)])
    assert _wkb_join(spark, rows, pack) == {("in", "sq"), ("far", "big")}


CENTERS = [
    ("a", 15.0, 15.0, 1.0),
    ("b", 105.0, 105.0, 10.0),  # reaches (110, 110) outside the grid extent
    ("neg", 15.0, 15.0, -1.0),  # a negative radius matches nothing
    ("neg-small", 15.0, 15.0, -0.1),
]


def _within_list(spark, pts, centers):
    return within_distance_join_points(pts, centers, GRID)


def _within_table(spark, pts, centers):
    q = spark.createDataFrame(centers, "q_id string, cx double, cy double, r double")
    return within_distance_join_table(pts, q, GRID)


WITHIN_JOINS = {"list": _within_list, "table": _within_table}


@pytest.mark.parametrize("join", WITHIN_JOINS.values(), ids=WITHIN_JOINS.keys())
def test_within_distance_joins_degenerate(spark, join):
    got = {(r["pid"], r["q_id"]) for r in join(spark, _points(spark), CENTERS).collect()}
    assert got == {(1, "a"), (4, "b")}
    assert join(spark, _points(spark, []), CENTERS).collect() == []
    assert join(spark, _points(spark), []).collect() == []


@pytest.mark.parametrize("join", WITHIN_JOINS.values(), ids=WITHIN_JOINS.keys())
@pytest.mark.parametrize("r", [-1.0, -0.1])
def test_within_distance_negative_radius(spark, join, r):
    """NTS ``IsWithinDistance`` is False for every d < 0: the envelope
    distance (≥ 0) already exceeds it — even for a point at the centre."""
    pts = _points(spark, [(1, 51.0, 51.0)])
    assert join(spark, pts, [("q", 51.0, 51.0, r)]).collect() == []
    assert len(join(spark, pts, [("q", 51.0, 51.0, 0.0)]).collect()) == 1


def _knn_list(spark, pts, queries, k):
    return knn_join_points(pts, queries, k)


def _knn_table(spark, pts, queries, k):
    q = spark.createDataFrame(queries, "q_id long, qx double, qy double")
    return knn_join_table(pts, q, k, GRID)


KNN_JOINS = {"list": _knn_list, "table": _knn_table}


def _ranked(df):
    return sorted((r["q_id"], r["rank"], r["pid"], r["d2"]) for r in df.collect())


@pytest.mark.parametrize("join", KNN_JOINS.values(), ids=KNN_JOINS.keys())
def test_knn_joins_skip_null_and_nan_coordinates(spark, join):
    """One partition holding (10, 10), (NULL, 5) and (NaN, 5): the NaN
    distance used to hide every candidate of the partial top-k, and the
    NULL distance used to rank first in the table form."""
    pts = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, None, 5.0), (3, NAN, 5.0)], POINT_SCHEMA
    ).coalesce(1)
    assert _ranked(join(spark, pts, [(0, 10.0, 10.0)], 2)) == [(0, 1, 1, 0.0)]
    assert _ranked(join(spark, pts, [(0, None, 10.0), (1, NAN, 10.0)], 2)) == []


@pytest.mark.parametrize("join", KNN_JOINS.values(), ids=KNN_JOINS.keys())
def test_knn_joins_degenerate(spark, join):
    queries = [(0, 15.0, 15.0), (1, NAN, 15.0)]
    # (-5, 15) and (110, 110) lie outside the grid extent; the query with a
    # NaN coordinate gets no rows
    assert _ranked(join(spark, _points(spark), queries, 3)) == [
        (0, 1, 1, 0.0), (0, 2, 5, 400.0), (0, 3, 4, 2 * 95.0 ** 2),
    ]
    assert _ranked(join(spark, _points(spark, []), queries, 3)) == []
    assert _ranked(join(spark, _points(spark), [], 3)) == []


def _knn_geom(spark, pts, queries, k):
    """The geometry kNN join over the same rows as WKB points."""
    data = spark.createDataFrame(
        [(r["pid"], wkb_dumps(point(r["x"], r["y"]))) for r in pts.collect()],
        "pid long, geom_wkb binary",
    )
    q = spark.createDataFrame(
        [(q_id, wkb_dumps(point(qx, qy))) for q_id, qx, qy in queries],
        "q_id long, q_wkb binary",
    )
    out = knn_join_geom(q, data, GRID, k, d_id="pid", d_wkb="geom_wkb")
    return out.withColumnRenamed("dist2", "d2")


@pytest.mark.parametrize("join", [_knn_table, _knn_geom], ids=["table", "geom"])
def test_knn_joins_find_neighbours_outside_the_grid(spark, join):
    """The last round ranks against every data row: the second neighbour
    of (50, 50) lies at (400, 400), past the grid diagonal (0..100)."""
    pts = _points(spark, [(1, 50.0, 50.0), (2, 400.0, 400.0)])
    assert _ranked(join(spark, pts, [(0, 50.0, 50.0)], 2)) == [
        (0, 1, 1, 0.0), (0, 2, 2, 2 * 350.0 ** 2),
    ]
