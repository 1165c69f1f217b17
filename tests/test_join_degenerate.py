"""Degenerate inputs to the WKB joins: empty sides, NULL WKB and
``POLYGON EMPTY`` rows must neither crash a join nor reach its output."""

import pytest

from nettopologysuite_spark.engine.joins import (
    spatial_join_bigbig,
    spatial_join_wkb,
    within_distance_join_geom,
)
from nettopologysuite_spark.engine.polygons import PolygonPack
from nettopologysuite_spark.kernels.cells import Grid
from nettopologysuite_spark.kernels.geom import point, polygon, wkb_dumps, wkt_loads

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
