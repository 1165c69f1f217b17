"""Generic pairwise predicate kernel tests."""

import pytest

from nettopologysuite_spark.kernels.geom import wkt_loads as W
from nettopologysuite_spark.kernels.predicates import evaluate_predicate, intersects

SQ = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
SQ_HOLE = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"


@pytest.mark.parametrize(
    "a,b,expect",
    [
        ("POINT (5 5)", SQ, True),
        ("POINT (0 0)", SQ, True),  # boundary touch counts for intersects
        ("POINT (11 5)", SQ, False),
        ("POINT (5 5)", SQ_HOLE, False),  # in the hole
        ("POINT (3 5)", SQ_HOLE, True),  # on hole boundary
        ("LINESTRING (-5 5, 15 5)", SQ, True),
        ("LINESTRING (-5 -5, -1 -1)", SQ, False),
        ("LINESTRING (2 2, 3 3)", SQ, True),  # fully inside, no boundary crossing
        (SQ, "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))", True),  # containment
        (SQ, "POLYGON ((20 20, 21 20, 21 21, 20 21, 20 20))", False),
        ("LINESTRING (0 0, 10 10)", "LINESTRING (0 10, 10 0)", True),
        ("LINESTRING (0 0, 4 4)", "LINESTRING (6 6, 10 10)", False),
        ("LINESTRING (0 0, 4 4)", "LINESTRING (4 4, 10 10)", True),  # endpoint touch
        ("POINT (2 2)", "LINESTRING (0 0, 4 4)", True),
        ("POINT (2 3)", "LINESTRING (0 0, 4 4)", False),
        ("POINT (1 1)", "POINT (1 1)", True),
        ("POINT (1 1)", "POINT (1 2)", False),
    ],
)
def test_intersects(a, b, expect):
    assert intersects(W(a), W(b)) is expect
    assert intersects(W(b), W(a)) is expect  # symmetric


@pytest.mark.parametrize(
    "a,b,cov,cont",
    [
        (SQ, "POINT (5 5)", True, True),
        (SQ, "POINT (0 0)", True, False),  # boundary: covered, not contained
        (SQ, "POINT (11 5)", False, False),
        (SQ, "POLYGON ((2 2, 8 2, 8 8, 2 8, 2 2))", True, True),
        (SQ, SQ, True, True),  # covers/contains itself (equal geometry)
        (SQ, "POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))", False, False),
        (SQ, "LINESTRING (2 2, 8 8)", True, True),
        (SQ, "LINESTRING (0 0, 10 0)", True, False),  # along the boundary
        (SQ, "LINESTRING (-2 5, 12 5)", False, False),
        (SQ_HOLE, "POINT (5 5)", False, False),
        # chord across the hole: vertices covered but midpoint in hole
        (SQ_HOLE, "LINESTRING (1 5, 9 5)", False, False),
    ],
)
def test_covers_contains(a, b, cov, cont):
    assert evaluate_predicate("covers", W(a), W(b)) is cov
    assert evaluate_predicate("contains", W(a), W(b)) is cont
