"""Vectorized batch-intersects kernel vs the exact DE-9IM relate engine:
randomized mixed-type property plus exact touch/containment cases (the
candidate-refine kernel of the spatial joins must agree with the
corpus-verified relate kernel everywhere)."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nettopologysuite_spark.kernels.batchgeom import (  # noqa: E402
    GeomBatch,
    PreparedRight,
    batch_intersects,
)
from nettopologysuite_spark.kernels.geom import (  # noqa: E402
    GEOMETRYCOLLECTION,
    linestring,
    multi,
    point,
    polygon,
    wkb_dumps,
)
from nettopologysuite_spark.kernels.predicates import evaluate_predicate  # noqa: E402


def _rand_geom(rng, kind):
    cx, cy = rng.uniform(0, 20, 2)
    if kind == 0:
        return point(cx, cy)
    if kind == 1:
        pts = np.column_stack([cx + rng.uniform(-3, 3, 4), cy + rng.uniform(-3, 3, 4)])
        return linestring(pts)
    if kind == 2:
        w, h = rng.uniform(0.5, 3, 2)
        return polygon([(cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h),
                        (cx - w, cy + h), (cx - w, cy - h)])
    ang = np.linspace(0, 2 * np.pi, 9)[:-1]
    r = rng.uniform(1, 3)
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return polygon(np.vstack([ring, ring[:1]]))


def _poly_with_hole(rng):
    cx, cy = rng.uniform(0, 20, 2)
    w, h = rng.uniform(2, 4, 2)
    shell = [(cx - w, cy - h), (cx + w, cy - h), (cx + w, cy + h),
             (cx - w, cy + h), (cx - w, cy - h)]
    hw, hh = w * 0.4, h * 0.4
    hole = [(cx - hw, cy - hh), (cx - hw, cy + hh), (cx + hw, cy + hh),
            (cx + hw, cy - hh), (cx - hw, cy - hh)]
    return polygon(shell, [hole])


def test_batch_intersects_matches_relate_kernel():
    rng = np.random.default_rng(11)
    total = 0
    for trial in range(40):
        lefts = [_rand_geom(rng, rng.integers(0, 4)) for _ in range(30)]
        if trial % 3 == 0:
            lefts += [_poly_with_hole(rng) for _ in range(4)]
        right = _rand_geom(rng, rng.integers(0, 4)) if trial % 4 else _poly_with_hole(rng)
        gb = GeomBatch.from_wkb([wkb_dumps(g) for g in lefts])
        got = batch_intersects(gb, np.arange(len(lefts), dtype=np.int64), right)
        for i, g in enumerate(lefts):
            assert bool(got[i]) == evaluate_predicate("intersects", g, right), (
                trial, i, g.type_name, right.type_name)
            total += 1
    assert total > 1000


def test_batch_intersects_touch_cases():
    a = polygon([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)])
    cases = [
        (polygon([(2, 0), (4, 0), (4, 2), (2, 2), (2, 0)]), True),   # shared edge
        (polygon([(2, 2), (3, 3), (2, 4), (1, 3), (2, 2)]), True),   # corner touch
        (polygon([(3, 3), (4, 3), (4, 4), (3, 4), (3, 3)]), False),  # disjoint
        (point(2, 1), True), (point(2.5, 1), False), (point(1, 1), True),
        (linestring([(2, -1), (2, 3)]), True),                       # collinear edge
        (linestring([(-1, -1), (3, 3)]), True),
        (linestring([(5, 5), (6, 6)]), False),
        (polygon([(0.5, 0.5), (1.5, 0.5), (1.5, 1.5), (0.5, 1.5), (0.5, 0.5)]), True),
    ]
    gb = GeomBatch.from_wkb([wkb_dumps(g) for g, _ in cases])
    got = batch_intersects(gb, np.arange(len(cases), dtype=np.int64), a)
    for (g, exp), gv in zip(cases, got):
        assert bool(gv) == exp, (g.type_name, exp)


def test_point_leaf_with_sibling_segments_hits_right_line_part():
    """Regression: a POINT leaf inside a left collection that ALSO has
    segment-bearing leaves must still probe the right's line parts (pass 3
    only covers segment-bearing leaves)."""
    left = multi(GEOMETRYCOLLECTION, [
        point(5, 5),
        linestring([(50, 50), (60, 60)]),
    ])
    right = multi(GEOMETRYCOLLECTION, [
        polygon([(100, 100), (110, 100), (110, 110), (100, 110), (100, 100)]),
        linestring([(0, 5), (10, 5)]),
    ])
    gb = GeomBatch.from_wkb([wkb_dumps(left)])
    got = batch_intersects(gb, np.array([0]), right)
    assert bool(got[0]) == evaluate_predicate("intersects", left, right) is True


def test_overlapping_multipolygon_parity_per_leaf():
    """Regression: even-odd parity must be evaluated per polygon LEAF —
    global parity over an (invalid but encountered) overlapping
    multipolygon cancels in the overlap region."""
    from nettopologysuite_spark.kernels.geom import MULTIPOLYGON

    left = multi(MULTIPOLYGON, [
        polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]),
        polygon([(2, 2), (12, 2), (12, 12), (2, 12), (2, 2)]),
    ])
    right = polygon([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)])  # in the overlap
    gb = GeomBatch.from_wkb([wkb_dumps(left)])
    got = batch_intersects(gb, np.array([0]), right)
    assert bool(got[0]) == evaluate_predicate("intersects", left, right) is True


def test_batch_intersects_mixed_right_collection():
    """Right = GC(polygon + line + point): point-only lefts must still hit
    line parts (the pass-1 on-segment branch for segment-free lefts)."""
    right = multi(GEOMETRYCOLLECTION, [
        polygon([(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]),
        linestring([(5, 5), (8, 5)]),
        point(10, 10),
    ])
    pr = PreparedRight(right)
    lefts = [
        point(6, 5),        # on the line part only
        point(1, 1),        # inside polygon part
        point(10, 10),      # equals point part
        point(6, 6),        # near nothing
        linestring([(6, 4), (6, 6)]),  # crosses the line part
    ]
    gb = GeomBatch.from_wkb([wkb_dumps(g) for g in lefts])
    got = batch_intersects(gb, np.arange(len(lefts), dtype=np.int64), pr)
    assert list(got) == [True, True, True, False, True]


# ---------------------------------------------------------------------------
# vectorized covers / contains
# ---------------------------------------------------------------------------

from nettopologysuite_spark.kernels.batchgeom import _batch_covers_rights  # noqa: E402


def test_batch_covers_rights_matches_scalar_kernel():
    """covers/contains(one polygonal left, batch of rights) must agree with
    the scalar predicate on random mixed batches (points, lines, rects,
    octagons, holed polygons) against rect / octagon / holed lefts."""
    rng = np.random.default_rng(23)
    total = 0
    for trial in range(30):
        rights = [_rand_geom(rng, rng.integers(0, 4)) for _ in range(40)]
        if trial % 3 == 0:
            rights += [_poly_with_hole(rng) for _ in range(4)]
        left = _poly_with_hole(rng) if trial % 4 == 0 else _rand_geom(rng, 2 + trial % 2)
        blobs = [wkb_dumps(g) for g in rights]
        gb = GeomBatch.from_wkb(blobs)
        idx = np.arange(len(rights), dtype=np.int64)
        geom_of = lambda k: rights[k]  # noqa: E731
        got_cov = _batch_covers_rights(gb, idx, left)
        got_con = _batch_covers_rights(gb, idx, left, contains=True, geom_of=geom_of)
        for i, g in enumerate(rights):
            assert bool(got_cov[i]) == evaluate_predicate("covers", left, g), (
                trial, i, g.type_name)
            assert bool(got_con[i]) == evaluate_predicate("contains", left, g), (
                trial, i, g.type_name)
            total += 2
    assert total > 2000


def test_batch_covers_exact_edge_cases():
    a = polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])
    cases = [
        # (right, covers, contains)
        (polygon([(2, 2), (8, 2), (8, 8), (2, 8), (2, 2)]), True, True),
        (polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]), True, True),
        (polygon([(5, 5), (15, 5), (15, 15), (5, 15), (5, 5)]), False, False),
        (point(5, 5), True, True),
        (point(0, 5), True, False),        # on boundary: covered, not contained
        (point(11, 5), False, False),
        (linestring([(0, 0), (10, 10)]), True, True),
        (linestring([(0, 0), (0, 10)]), True, False),   # along boundary
        (linestring([(-1, 5), (11, 5)]), False, False),
        (polygon([(-1, -1), (11, -1), (11, 11), (-1, 11), (-1, -1)]), False, False),
    ]
    gb = GeomBatch.from_wkb([wkb_dumps(g) for g, _, _ in cases])
    idx = np.arange(len(cases), dtype=np.int64)
    geoms = [g for g, _, _ in cases]
    cov = _batch_covers_rights(gb, idx, a)
    con = _batch_covers_rights(gb, idx, a, contains=True, geom_of=lambda k: geoms[k])
    for (g, ec, en), gc, gn in zip(cases, cov, con):
        assert bool(gc) == ec == evaluate_predicate("covers", a, g), g.type_name
        assert bool(gn) == en == evaluate_predicate("contains", a, g), g.type_name
    # flipped orientation: which of these geometries cover/contain a small
    # rect — each geometry in the container role, the rect as the one row
    b = polygon([(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)])
    gb_b = GeomBatch.from_wkb([wkb_dumps(b)])
    for g in geoms:
        for pred in ("covers", "contains"):
            got = batch_predicate(gb_b, np.array([0], dtype=np.int64), PreparedRight(g),
                                  pred, lambda k: b)
            assert bool(got[0]) == evaluate_predicate(pred, g, b), (pred, g.type_name)


def test_batch_covers_hole_boundary_residue():
    """contains where every vertex/midpoint of b sits ON a's boundary —
    the interior-point residue path must decide via geom_of."""
    a = polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])
    b = polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])  # identical
    gb = GeomBatch.from_wkb([wkb_dumps(b)])
    got = _batch_covers_rights(gb, np.array([0]), a, contains=True,
                               geom_of=lambda k: b)
    assert bool(got[0]) == evaluate_predicate("contains", a, b) is True


def test_batch_within_distance_matches_facet_distance():
    """batch_within_distance vs the scalar facet-distance kernel on random
    mixed batches at several thresholds (ties resolved identically: both
    evaluate the same squared forms)."""
    from nettopologysuite_spark.kernels.batchgeom import batch_within_distance
    from nettopologysuite_spark.kernels.facetdist import facet_distance

    rng = np.random.default_rng(41)
    total = 0
    for trial in range(25):
        lefts = [_rand_geom(rng, rng.integers(0, 4)) for _ in range(30)]
        if trial % 3 == 0:
            lefts += [_poly_with_hole(rng) for _ in range(3)]
        right = _rand_geom(rng, rng.integers(0, 4)) if trial % 4 else _poly_with_hole(rng)
        gb = GeomBatch.from_wkb([wkb_dumps(g) for g in lefts])
        idx = np.arange(len(lefts), dtype=np.int64)
        for d in (0.5, 2.0, 6.0):
            got = batch_within_distance(gb, idx, right, d)
            for i, g in enumerate(lefts):
                exp = facet_distance(g, right) <= d
                assert bool(got[i]) == exp, (trial, i, d, g.type_name)
                total += 1
    assert total > 2000


def test_batch_distance2_matches_facet_distance():
    """batch_distance2 vs the scalar facet-distance kernel (values agree to
    float tolerance; zeros exactly on intersecting pairs)."""
    from nettopologysuite_spark.kernels.batchgeom import batch_distance2
    from nettopologysuite_spark.kernels.facetdist import facet_distance

    rng = np.random.default_rng(53)
    total = 0
    for trial in range(25):
        lefts = [_rand_geom(rng, rng.integers(0, 4)) for _ in range(30)]
        right = _rand_geom(rng, rng.integers(0, 4)) if trial % 4 else _poly_with_hole(rng)
        gb = GeomBatch.from_wkb([wkb_dumps(g) for g in lefts])
        got = batch_distance2(gb, np.arange(len(lefts), dtype=np.int64), right)
        for i, g in enumerate(lefts):
            exp = facet_distance(g, right)
            if exp == 0.0:
                assert got[i] == 0.0, (trial, i)
            else:
                assert abs(np.sqrt(got[i]) - exp) < 1e-9 * max(1.0, exp), (trial, i)
            total += 1
    assert total > 700


# ---------------------------------------------------------------------------
# vectorized interior/interior (DE-9IM II) + the composed IM predicates
# ---------------------------------------------------------------------------

from nettopologysuite_spark.kernels.batchgeom import (  # noqa: E402
    _batch_interiors_intersect,
    batch_predicate,
)
from nettopologysuite_spark.kernels.geom import MULTIPOLYGON, wkt_dumps  # noqa: E402
from nettopologysuite_spark.kernels.relate import relate_predicate  # noqa: E402


def _snapped_rect(rng):
    """Integer-corner rect (extents 1-3 × 1-2): edge/corner contact —
    touches — is common between pairs, mirroring the join workload."""
    x1, y1 = rng.integers(0, 20, 2).astype(float)
    return polygon([(x1, y1), (x1 + 1 + rng.integers(0, 3), y1),
                    (x1 + 1 + rng.integers(0, 3), y1 + 1 + rng.integers(0, 2)),
                    (x1, y1 + 1 + rng.integers(0, 2)), (x1, y1)])


def _rand_poly(rng, trial):
    k = (trial + rng.integers(0, 4)) % 4
    if k == 0:
        return _poly_with_hole(rng)
    if k == 1:
        return _snapped_rect(rng)
    return _rand_geom(rng, 2 + k % 2)


def test_batch_interiors_intersect_matches_relate_kernel():
    """II(areal, areal) ⇔ intersects ∧ ¬touches (the relate kernel's own
    definition of touches) over random holed / snapped / octagon pairs."""
    rng = np.random.default_rng(61)
    total = hits = 0
    for trial in range(40):
        lefts = [_rand_poly(rng, trial) for _ in range(30)]
        right = _rand_poly(rng, trial)
        gb = GeomBatch.from_wkb([wkb_dumps(g) for g in lefts])
        got = _batch_interiors_intersect(
            gb, np.arange(len(lefts), dtype=np.int64), right,
            geom_of=lambda k: lefts[k],
        )
        for i, g in enumerate(lefts):
            exp = (evaluate_predicate("intersects", g, right)
                   and not evaluate_predicate("touches", g, right))
            assert bool(got[i]) == exp, (trial, i, wkt_dumps(g), wkt_dumps(right))
            total += 1
            hits += bool(exp)
    assert total > 1000 and hits > 50


def _rect(x, y, w, h):
    return polygon([(x, y), (x + w, y), (x + w, y + h), (x, y + h), (x, y)])


def _multipolygon(rng):
    """Two disjoint snapped rects: one valid two-part MULTIPOLYGON."""
    x, y = (float(v) for v in rng.integers(0, 14, 2))
    w, h = 1 + int(rng.integers(0, 3)), 1 + int(rng.integers(0, 2))
    return multi(MULTIPOLYGON, [_rect(x, y, w, h), _rect(x + w + 2, y, 2, h + 1)])


def _collection(rng):
    """GC(polygon, line, point) — a mixed-dimension row or container."""
    return multi(GEOMETRYCOLLECTION, [
        _snapped_rect(rng), _rand_geom(rng, 1), _rand_geom(rng, 0),
    ])


_ROW_KINDS = {
    "point": lambda rng: _rand_geom(rng, 0),
    "line": lambda rng: _rand_geom(rng, 1),
    "polygon": lambda rng: _rand_poly(rng, int(rng.integers(1, 4))),
    "holed": _poly_with_hole,
    "multipolygon": _multipolygon,
    "collection": _collection,
}
_CONTAINERS = {  # polygonal first, then non-polygonal
    "rect": _snapped_rect,
    "holed": _poly_with_hole,
    "octagon": lambda rng: _rand_geom(rng, 3),
    "multipolygon": _multipolygon,
    "line": lambda rng: _rand_geom(rng, 1),
    "point": lambda rng: _rand_geom(rng, 0),
    "collection": _collection,
}
_SYMMETRIC = ("intersects", "touches", "overlaps", "equalstopo", "crosses")


def _planted_rows(c):
    """Rows in exact contact with container ``c``: c itself (equal), rects
    sharing c's right envelope edge and its upper-right envelope corner
    (edge and corner touches for rect containers), its envelope edge as a
    line (boundary-collinear), and its first vertex as a point (on the
    boundary)."""
    x0, y0, x1, y1 = c.envelope()
    v = c.all_coords()[0]
    return [
        c,
        _rect(x1, y0, 2.0, max(y1 - y0, 1.0)),
        _rect(x1, y1, 1.0, 1.0),
        linestring([(x1, y0), (x1, y1)]) if y1 > y0 else linestring([(x0, y0), (x1 + 1, y0)]),
        point(float(v[0]), float(v[1])),
    ]


def _regular_polygon(rng):
    """Regular polygon with 5-12 vertices and a random centre and radius:
    its diagonal edges have non-representable midpoints, so a self-pair
    shares diagonal edges whose midpoints round off the boundary."""
    k = int(rng.integers(5, 13))
    cx, cy = rng.uniform(0, 20, 2)
    r = rng.uniform(1, 5)
    ang = np.linspace(0, 2 * np.pi, k + 1)[:-1]
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return polygon(np.vstack([ring, ring[:1]]))


_SQUARE = polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])
_SQUARE_ROWS = [  # (row, covers(_SQUARE, row), contains(_SQUARE, row))
    (polygon([(2, 2), (8, 2), (8, 8), (2, 8), (2, 2)]), True, True),
    (polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]), True, True),
    (polygon([(5, 5), (15, 5), (15, 15), (5, 15), (5, 5)]), False, False),
    (point(5, 5), True, True),
    (point(0, 5), True, False),        # on boundary: covered, not contained
    (point(11, 5), False, False),
    (linestring([(0, 0), (10, 10)]), True, True),
    (linestring([(0, 0), (0, 10)]), True, False),   # along boundary
    (linestring([(-1, 5), (11, 5)]), False, False),
    (polygon([(-1, -1), (11, -1), (11, 11), (-1, 11), (-1, -1)]), False, False),
]


def _predicate_cases():
    """(name, container, rows) batches for ``batch_predicate``:

    - every row kind against every container kind, plus rows planted in
      exact contact with the container;
    - random mixed batches (points, lines, rects, octagons, holed
      polygons) against rect / octagon / holed containers;
    - the hand-made square cases of ``_SQUARE_ROWS``;
    - regular polygons paired with themselves, which share every
      (diagonal) edge with the container.
    """
    rng = np.random.default_rng(67)
    for trial in range(3):
        for cname, make in _CONTAINERS.items():
            c = make(rng)
            rows = [kind(rng) for _ in range(3) for kind in _ROW_KINDS.values()]
            yield cname, c, rows + _planted_rows(c)
    rng = np.random.default_rng(23)
    for trial in range(30):
        rows = [_rand_geom(rng, rng.integers(0, 4)) for _ in range(40)]
        if trial % 3 == 0:
            rows += [_poly_with_hole(rng) for _ in range(4)]
        c = _poly_with_hole(rng) if trial % 4 == 0 else _rand_geom(rng, 2 + trial % 2)
        yield "mixed", c, rows
    yield "square", _SQUARE, [g for g, _, _ in _SQUARE_ROWS]
    rng = np.random.default_rng(71)
    for _ in range(4):
        g = _regular_polygon(rng)
        yield "regular-self", g, [g]


@pytest.mark.parametrize("predicate", [
    "intersects", "covers", "contains", "touches", "overlaps", "equalstopo", "crosses",
])
def test_batch_predicate_matches_relate(predicate):
    """batch_predicate(container, row) ≡ relate_predicate(container, row)
    on every row of ``_predicate_cases`` (point, line, polygon, holed
    polygon, multipolygon, mixed collection rows; polygonal and
    non-polygonal containers; regular-polygon self-pairs); the symmetric
    predicates also equal relate_predicate(row, container). Folds in the
    batched compositions (covers/contains passes, touches = intersects ∧
    ¬II) and the reroute of overlaps/equalstopo and shared-diagonal rows
    to relate; the square cases also pin their covers/contains answers."""
    hits = total = 0
    for cname, c, rows in _predicate_cases():
        gb = GeomBatch.from_wkb([wkb_dumps(g) for g in rows])
        got = batch_predicate(
            gb, np.arange(len(rows), dtype=np.int64), PreparedRight(c),
            predicate, lambda k: rows[k],
        )
        for i, g in enumerate(rows):
            exp = relate_predicate(c, g, predicate)
            assert bool(got[i]) == exp, (predicate, cname, i, wkt_dumps(g), wkt_dumps(c))
            if predicate in _SYMMETRIC:
                assert relate_predicate(g, c, predicate) == exp, (cname, wkt_dumps(g))
            hits += exp
            total += 1
        if cname == "regular-self":
            # g covers, contains, intersects and equals itself
            assert bool(got[0]) == (predicate in ("intersects", "covers", "contains",
                                                  "equalstopo")), predicate
        if cname == "square" and predicate in ("covers", "contains"):
            col = 1 if predicate == "covers" else 2
            assert list(got) == [case[col] for case in _SQUARE_ROWS]
    assert hits >= 5, (predicate, hits, total)


def test_batch_interiors_intersect_edge_cases():
    a = polygon([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
    cases = [
        (polygon([(4, 0), (8, 0), (8, 4), (4, 4), (4, 0)]), False),   # edge touch
        (polygon([(4, 4), (8, 4), (8, 8), (4, 8), (4, 4)]), False),   # corner touch
        (polygon([(2, 2), (6, 2), (6, 6), (2, 6), (2, 2)]), True),    # overlap
        (polygon([(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)]), True),    # inside
        (polygon([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]), True),    # equal
        (polygon([(9, 9), (10, 9), (10, 10), (9, 10), (9, 9)]), False),  # disjoint
        # hole-filling pair: b exactly fills a hole of a-with-hole below
    ]
    geoms = [g for g, _ in cases]
    gb = GeomBatch.from_wkb([wkb_dumps(g) for g in geoms])
    got = _batch_interiors_intersect(
        gb, np.arange(len(geoms), dtype=np.int64), a,
        geom_of=lambda k: geoms[k])
    assert list(got) == [e for _, e in cases]
    # hole-filling: donut vs its exact hole — boundaries coincide, interiors
    # disjoint (touches), the residue pass must NOT claim II
    donut = polygon([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
                    [[(3, 3), (3, 7), (7, 7), (7, 3), (3, 3)]])
    plug = polygon([(3, 3), (7, 3), (7, 7), (3, 7), (3, 3)])
    gb2 = GeomBatch.from_wkb([wkb_dumps(plug)])
    got2 = _batch_interiors_intersect(gb2, np.array([0]), donut,
                                      geom_of=lambda k: plug)
    assert not bool(got2[0])
    assert evaluate_predicate("touches", plug, donut)
