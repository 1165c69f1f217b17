"""Pairwise topological predicates over Geom values.

Every named predicate has one answer: ``evaluate_predicate``, the DE-9IM
relate kernel (``kernels/relate.py``) with the patterns of
``Operation/RelateNG/RelatePredicate.cs:33-613``. This module keeps the
primitives other kernels build on: ``intersects`` (point membership, then
segment contact, then containment without boundary contact — exact for
points, lines and polygons), ``segs_intersect_any`` and ``interior_point``.

Orientation/segment-intersection follow ``Algorithm/RobustLineIntersector.cs``
test structure (sign-of-cross-product cases + collinear overlap), evaluated
in IEEE double (double-double exact fallback is a later-round item,
``Mathematics/DD.cs``).
"""

from __future__ import annotations

import numpy as np

from .geom import LINESTRING, POINT, POLYGON, Geom
from .pip import EXTERIOR, PreparedPolygon


def _orient(ax, ay, bx, by, cx, cy):
    """Sign of cross((b-a), (c-a)) — broadcastable."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segs_intersect_any(a1: np.ndarray, a2: np.ndarray, b1: np.ndarray, b2: np.ndarray) -> bool:
    """True if any segment (a1[i], a2[i]) touches/crosses any (b1[j], b2[j])."""
    if len(a1) == 0 or len(b1) == 0:
        return False
    ax1 = a1[:, 0][:, None]; ay1 = a1[:, 1][:, None]
    ax2 = a2[:, 0][:, None]; ay2 = a2[:, 1][:, None]
    bx1 = b1[:, 0][None, :]; by1 = b1[:, 1][None, :]
    bx2 = b2[:, 0][None, :]; by2 = b2[:, 1][None, :]
    d1 = _orient(bx1, by1, bx2, by2, ax1, ay1)
    d2 = _orient(bx1, by1, bx2, by2, ax2, ay2)
    d3 = _orient(ax1, ay1, ax2, ay2, bx1, by1)
    d4 = _orient(ax1, ay1, ax2, ay2, bx2, by2)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    if bool(proper.any()):
        return True

    def on_seg(px, py, sx1, sy1, sx2, sy2, d):
        return (
            (d == 0)
            & (px >= np.minimum(sx1, sx2)) & (px <= np.maximum(sx1, sx2))
            & (py >= np.minimum(sy1, sy2)) & (py <= np.maximum(sy1, sy2))
        )

    touch = (
        on_seg(ax1, ay1, bx1, by1, bx2, by2, d1)
        | on_seg(ax2, ay2, bx1, by1, bx2, by2, d2)
        | on_seg(bx1, by1, ax1, ay1, ax2, ay2, d3)
        | on_seg(bx2, by2, ax1, ay1, ax2, ay2, d4)
    )
    return bool(touch.any())


def _segs(g: Geom) -> tuple[np.ndarray, np.ndarray]:
    a, b = [], []
    for leaf in g.flatten():
        if leaf.gtype == LINESTRING and len(leaf.coords) >= 2:
            a.append(leaf.coords[:-1]); b.append(leaf.coords[1:])
        elif leaf.gtype == POLYGON:
            for r in leaf.rings:
                if len(r) >= 2:
                    a.append(r[:-1]); b.append(r[1:])
    if not a:
        return np.empty((0, 2)), np.empty((0, 2))
    return np.concatenate(a), np.concatenate(b)


def _polygon_leaves(g: Geom) -> list[Geom]:
    return [l for l in g.flatten() if l.gtype == POLYGON]


def _points_in_polygonal(g: Geom, pts: np.ndarray) -> np.ndarray:
    """Per point: in or on some polygonal leaf of g."""
    out = np.zeros(len(pts), dtype=bool)
    for leaf in _polygon_leaves(g):
        out |= PreparedPolygon(leaf).locate(pts[:, 0], pts[:, 1]) != EXTERIOR
    return out


def intersects(a: Geom, b: Geom) -> bool:
    if a.is_empty or b.is_empty:
        return False
    ea, eb = a.envelope(), b.envelope()
    if ea[0] > eb[2] or eb[0] > ea[2] or ea[1] > eb[3] or eb[1] > ea[3]:
        return False
    a_pts = a.all_coords()
    b_pts = b.all_coords()
    # point-set membership fast paths
    pa = [l for l in a.flatten() if l.gtype == POINT]
    pb = [l for l in b.flatten() if l.gtype == POINT]
    if pa:
        apts = np.concatenate([l.coords for l in pa])
        if _points_on_geom(b, apts).any():
            return True
    if pb:
        bpts = np.concatenate([l.coords for l in pb])
        if _points_on_geom(a, bpts).any():
            return True
    if a.dimension() == 0 and b.dimension() == 0:
        return False
    # segment crossings
    sa1, sa2 = _segs(a)
    sb1, sb2 = _segs(b)
    if segs_intersect_any(sa1, sa2, sb1, sb2):
        return True
    # containment without boundary contact
    if _polygon_leaves(b) and len(a_pts) and _points_in_polygonal(b, a_pts[:1])[0]:
        return True
    if _polygon_leaves(a) and len(b_pts) and _points_in_polygonal(a, b_pts[:1])[0]:
        return True
    return False


def _points_on_geom(g: Geom, pts: np.ndarray) -> np.ndarray:
    """Per point: lies on/in geometry g (any dimension)."""
    out = np.zeros(len(pts), dtype=bool)
    for leaf in g.flatten():
        if leaf.gtype == POINT:
            out |= (pts[:, 0] == leaf.coords[0, 0]) & (pts[:, 1] == leaf.coords[0, 1])
        elif leaf.gtype == LINESTRING:
            s1, s2 = leaf.coords[:-1], leaf.coords[1:]
            if len(s1):
                d = _orient(
                    s1[None, :, 0], s1[None, :, 1], s2[None, :, 0], s2[None, :, 1],
                    pts[:, 0][:, None], pts[:, 1][:, None],
                )
                onseg = (
                    (d == 0)
                    & (pts[:, 0][:, None] >= np.minimum(s1[None, :, 0], s2[None, :, 0]))
                    & (pts[:, 0][:, None] <= np.maximum(s1[None, :, 0], s2[None, :, 0]))
                    & (pts[:, 1][:, None] >= np.minimum(s1[None, :, 1], s2[None, :, 1]))
                    & (pts[:, 1][:, None] <= np.maximum(s1[None, :, 1], s2[None, :, 1]))
                )
                out |= onseg.any(axis=1)
        else:
            loc = PreparedPolygon(leaf).locate(pts[:, 0], pts[:, 1])
            out |= loc != EXTERIOR
    return out


def interior_point(g: Geom) -> tuple[float, float] | None:
    """A point guaranteed interior to a polygonal g (scanline-bisector method,
    ``Algorithm/InteriorPointArea.cs`` semantics: horizontal bisector of the
    envelope, widest interior crossing span, midpoint)."""
    leaves = _polygon_leaves(g)
    if not leaves:
        c = g.all_coords()
        return (float(c[0, 0]), float(c[0, 1])) if len(c) else None
    leaf = max(leaves, key=lambda l: abs(_ring_area2(l.rings[0])) if l.rings else 0.0)
    env = leaf.envelope()
    y0 = (env[1] + env[3]) * 0.5
    # avoid scanning exactly through a vertex (InteriorPointArea's
    # ScanLineYOrdinateFinder adjusts the same way)
    ys = np.unique(np.concatenate([r[:, 1] for r in leaf.rings]))
    if np.any(ys == y0):
        lo = ys[ys < y0]
        hi = ys[ys > y0]
        if len(lo) and len(hi):
            y0 = (float(lo.max()) + float(hi.min())) * 0.5
        elif len(lo):
            y0 = (float(lo.max()) + y0) * 0.5
        elif len(hi):
            y0 = (y0 + float(hi.min())) * 0.5
        else:
            # degenerate: all vertices on one horizontal line (zero area)
            c = leaf.rings[0]
            return (float(c[0, 0]), float(c[0, 1]))
    xs = []
    for r in leaf.rings:
        x1, y1 = r[:-1, 0], r[:-1, 1]
        x2, y2 = r[1:, 0], r[1:, 1]
        straddle = (y1 > y0) != (y2 > y0)
        if straddle.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                xi = x1 + (y0 - y1) * (x2 - x1) / (y2 - y1)
            xs.extend(xi[straddle].tolist())
    xs = sorted(xs)
    if len(xs) < 2:
        return None
    # widest interior span (even-odd pairs)
    best = None
    for i in range(0, len(xs) - 1, 2):
        w = xs[i + 1] - xs[i]
        if best is None or w > best[0]:
            best = (w, (xs[i] + xs[i + 1]) * 0.5)
    return (best[1], y0) if best else None


def _ring_area2(r: np.ndarray) -> float:
    if len(r) < 3:
        return 0.0
    return float(np.sum(r[:-1, 0] * r[1:, 1] - r[1:, 0] * r[:-1, 1]))


def evaluate_predicate(name: str, a: Geom, b: Geom) -> bool:
    """Exact predicate evaluation via the DE-9IM relate kernel (the corpus-
    verified engine) — the one answer for every named predicate."""
    from .relate import relate_predicate

    return relate_predicate(a, b, name)
