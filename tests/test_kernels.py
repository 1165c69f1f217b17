"""Kernel unit tests (no Spark) — WKT/WKB, PIP, measures, cells."""

import math

import numpy as np
import pytest

from nettopologysuite_spark.kernels import geom as G
from nettopologysuite_spark.kernels import measures as M
from nettopologysuite_spark.kernels.cells import Grid, hilbert_encode, morton_encode
from nettopologysuite_spark.kernels.pip import (
    BOUNDARY,
    EXTERIOR,
    INTERIOR,
    PreparedConvex,
    PreparedPolygon,
)

WKT_CASES = [
    "POINT (1 2)",
    "POINT (1.5 -2.25)",
    "LINESTRING (0 0, 1 1, 2 0)",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
    "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))",
    "MULTIPOINT ((1 1), (2 2))",
    "MULTILINESTRING ((0 0, 1 1), (2 2, 3 3))",
    "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5)))",
    "GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 1 1))",
    "POINT EMPTY",
    "LINESTRING EMPTY",
    "POLYGON EMPTY",
]


@pytest.mark.parametrize("wkt", WKT_CASES)
def test_wkt_wkb_roundtrip(wkt):
    g = G.wkt_loads(wkt)
    assert G.wkt_dumps(g) == wkt
    g2 = G.wkb_loads(G.wkb_dumps(g))
    assert G.wkt_dumps(g2) == wkt


def test_wkt_z_dropped():
    assert G.wkt_dumps(G.wkt_loads("POINT Z (1 2 3)")) == "POINT (1 2)"
    assert G.wkt_dumps(G.wkt_loads("LINESTRING ZM (0 0 1 2, 1 1 3 4)")) == "LINESTRING (0 0, 1 1)"


def test_points_wkb_fast_path():
    xy = np.tile([[1.5, 2.5], [3.0, 4.0], [-7.25, 0.125]], (6, 1))  # 18 ≥ 16 rows
    blobs = G.uniform_wkb(G.POINT, xy[:, None, :])
    decoded = G.uniform_wkb_coords(blobs)
    assert decoded is not None and decoded[0] == G.POINT
    assert np.array_equal(xy, decoded[1][:, 0, :])
    # round-trips through the generic decoder too
    for i, b in enumerate(blobs):
        g = G.wkb_loads(b)
        assert g.gtype == G.POINT and np.array_equal(g.coords[0], xy[i])


def test_pip_square_with_hole():
    poly = G.wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    )
    pp = PreparedPolygon(poly)
    px = np.array([5.0, 3.0, 0.0, -1.0, 2.0, 10.0, 5.0, 4.0])
    py = np.array([5.0, 3.0, 5.0, 5.0, 3.0, 10.0, 0.0, 3.0])
    expect = [INTERIOR, EXTERIOR, BOUNDARY, EXTERIOR, BOUNDARY, BOUNDARY, BOUNDARY, BOUNDARY]
    assert list(pp.locate(px, py)) == expect


def test_pip_vertex_ray_robustness():
    # ray passing exactly through a vertex must count once
    poly = G.wkt_loads("POLYGON ((0 0, 4 8, 8 0, 0 0))")
    pp = PreparedPolygon(poly)
    assert list(pp.locate(np.array([1.0]), np.array([8.0]))) == [EXTERIOR]
    assert list(pp.locate(np.array([4.0]), np.array([4.0]))) == [INTERIOR]


def test_pip_multipolygon():
    mp = G.wkt_loads("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))")
    pp = PreparedPolygon(mp)
    assert list(pp.locate(np.array([1.0, 6.0, 3.5]), np.array([1.0, 6.0, 3.5]))) == [
        INTERIOR,
        INTERIOR,
        EXTERIOR,
    ]


def test_prepared_convex_matches_generic():
    rng = np.random.default_rng(42)
    ring = np.array([(4, 0), (3, 3), (0, 4), (-3, 3), (-4, 0), (-3, -3), (0, -4), (3, -3)], dtype=float)
    ring = ring * 2 + np.array([10.0, 10.0])
    conv = PreparedConvex(ring)
    gen = PreparedPolygon(G.polygon(ring))
    px = rng.uniform(0, 20, 5000)
    py = rng.uniform(0, 20, 5000)
    assert np.array_equal(conv.covers_points(px, py), gen.locate(px, py) != EXTERIOR)
    assert np.array_equal(conv.contains_points(px, py), gen.locate(px, py) == INTERIOR)


def test_measures():
    poly = G.wkt_loads(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    )
    assert M.area(poly) == pytest.approx(96.0)
    assert M.length(G.wkt_loads("LINESTRING (0 0, 3 4)")) == pytest.approx(5.0)
    assert M.centroid(G.wkt_loads("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")) == pytest.approx((1, 1))
    # L-shape centroid
    c = M.centroid(G.wkt_loads("POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))"))
    assert c == pytest.approx((5 / 6, 5 / 6))
    # line centroid
    c = M.centroid(G.wkt_loads("LINESTRING (0 0, 2 0)"))
    assert c == pytest.approx((1, 0))


def test_distance():
    assert M.distance(G.wkt_loads("POINT (0 0)"), G.wkt_loads("POINT (3 4)")) == pytest.approx(5)
    assert M.distance(
        G.wkt_loads("LINESTRING (0 0, 10 0)"), G.wkt_loads("LINESTRING (5 3, 5 10)")
    ) == pytest.approx(3)
    assert M.distance(
        G.wkt_loads("LINESTRING (0 0, 10 10)"), G.wkt_loads("LINESTRING (0 10, 10 0)")
    ) == 0.0
    sq = G.wkt_loads("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
    assert M.distance(G.wkt_loads("POINT (5 5)"), sq) == 0.0
    assert M.distance(G.wkt_loads("POINT (13 10)"), sq) == pytest.approx(3)
    assert M.is_within_distance(G.wkt_loads("POINT (13 10)"), sq, 3.0)
    assert not M.is_within_distance(G.wkt_loads("POINT (13 10)"), sq, 2.9)


def test_grid_cells():
    gr = Grid(level=6)
    ids = gr.cell_ids(np.array([0.0, 99.9, 1.6]), np.array([0.0, 99.9, 0.0]))
    assert list(ids) == [0, 64 * 64 - 1, 1]
    assert list(gr.cover_envelope(0.0, 0.0, 3.2, 1.0)) == [0, 1, 2]
    b = gr.cell_bounds(np.array([0, 65]))
    assert b[0] == pytest.approx([0, 0, 1.5625, 1.5625])
    assert b[1] == pytest.approx([1.5625, 1.5625, 3.125, 3.125])


def test_morton_hilbert():
    assert morton_encode(np.array([3]), np.array([5]))[0] == 39
    # level-1 hilbert visits all 4 cells once
    h = hilbert_encode(np.array([0, 1, 1, 0]), np.array([0, 0, 1, 1]), 1)
    assert sorted(h) == [0, 1, 2, 3]
    # locality sanity: consecutive codes at level 8 are adjacent cells
    n = 1 << 8
    ix, iy = np.meshgrid(np.arange(n), np.arange(n))
    codes = hilbert_encode(ix.ravel(), iy.ravel(), 8)
    assert sorted(codes) == list(range(n * n))


def test_envelope_nan_for_empty():
    assert all(math.isnan(v) for v in G.wkt_loads("POLYGON EMPTY").envelope())


def test_ordinate_format_fixtures():
    """Number formatting mirrors the reference's OrdinateFormat exactly
    (OrdinateFormatTest.cs:15-121): shortest round-trip expanded to plain
    positional digits (never an exponent), fraction-digit caps with
    trailing-zero trim, NaN/Inf spellings."""
    import math

    from nettopologysuite_spark.kernels.geom import _fmt_num

    cases = [
        (1234567890.0, None, "1234567890"),
        (12345678901234567890.0, None, "12345678901234567000"),
        (1.123, None, "1.123"),
        (-1.123, None, "-1.123"),
        (1.123456789012345, None, "1.123456789012345"),
        (0.0123456789012345, None, "0.0123456789012345"),
        (1.123456789012345e4, None, "11234.56789012345"),
        (1.123456789012345, 2, "1.12"),
        (1.123456789012345, 3, "1.123"),
        (1.123456789012345, 4, "1.1235"),
        (1.123456789012345, 5, "1.12346"),
        (1.123456789012345, 6, "1.123457"),
        (0.0000000000123456789012345, None, "0.0000000000123456789012345"),
        (math.pi, None, "3.141592653589793"),
        (float("nan"), None, "NaN"),
        (float("inf"), None, "Inf"),
        (float("-inf"), None, "-Inf"),
        (5e-324, None, "0." + "0" * 323 + "5"),          # double.Epsilon
        (1.7976931348623157e308, None,                    # double.MaxValue
         "17976931348623157" + "0" * 292),
    ]
    for v, digits, expected in cases:
        assert _fmt_num(v, digits) == expected, (v, digits)
    # values that round to zero keep a bare unsigned zero
    assert _fmt_num(0.004, 2) == "0"
    assert _fmt_num(-0.004, 2) == "0"


def test_wkt_dumps_decimals():
    """wkt_dumps(decimals=N) trims output like WKTWriter with a fixed-scale
    PrecisionModel (WKTWriterTest.cs writer2/writer3 shapes)."""
    from nettopologysuite_spark.kernels.geom import wkt_dumps, wkt_loads

    g = wkt_loads("POINT (1.123456789 9.87654321)")
    assert wkt_dumps(g, decimals=2) == "POINT (1.12 9.88)"
    assert wkt_dumps(g, decimals=0) == "POINT (1 10)"
    assert wkt_dumps(g) == "POINT (1.123456789 9.87654321)"
    ml = wkt_loads("MULTILINESTRING ((0.125 0.375, 1.0625 2.5))")
    assert wkt_dumps(ml, decimals=1) == "MULTILINESTRING ((0.1 0.4, 1.1 2.5))"
    # decimals >= 16 falls back to round-trip output (OrdinateFormat R path)
    assert wkt_dumps(g, decimals=17) == "POINT (1.123456789 9.87654321)"
