"""DE-9IM relate: the reference-exact topological relationship kernel.

Computes the full 3×3 intersection matrix over {Interior, Boundary,
Exterior} × {I, B, E} with entries in {F, 0, 1, 2}, mirroring the semantics
of the reference's RelateNG (``Operation/RelateNG/RelateNG.cs:47-542``,
matrix assembly ``TopologyComputer.cs``), via the same conceptual pipeline:

1. decompose each geometry into point / line / area features; line-set
   boundary via the Mod-2 rule (``Algorithm/BoundaryNodeRule.cs``);
2. node every polyline (lines + area rings) at its intersections with the
   other geometry's segments — proper crossings, endpoint touches, and
   collinear overlap intervals (``Algorithm/RobustLineIntersector.cs`` case
   structure);
3. classify each resulting piece midpoint and each node point against the
   other geometry (prepared PIP — ``RelateGeometry.cs:172`` locator);
4. assemble entries by max-dimension, then infer the area interior/exterior
   entries from boundary-piece classifications (Jordan reasoning identical
   to the labelling in ``RelateComputer.cs``).

Named predicates extract from the matrix with the exact patterns of
``Geometries/IntersectionMatrix.cs:319-524``.

Exact for valid Simple-Features inputs whose mutual intersections are
representable in double (the XML corpus uses small-integer fixtures);
self-intersecting lines are handled by additionally self-noding line sets.
"""

from __future__ import annotations

import numpy as np

from .geom import (
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geom,
)
from .pip import BOUNDARY, EXTERIOR, INTERIOR, PreparedPolygon

F = -1  # matrix "false" entry

_EPS = 0.0  # exact comparisons; fixture coordinates are double-exact


# ---------------------------------------------------------------------------
# feature decomposition
# ---------------------------------------------------------------------------

class _Features:
    __slots__ = ("points", "lines", "areas", "prepared", "line_boundary", "dim")

    def __init__(self, g: Geom):
        self.points: list[tuple[float, float]] = []
        self.lines: list[np.ndarray] = []
        self.areas: list[Geom] = []
        has_line_type = False
        for leaf in g.flatten():
            if leaf.gtype == POINT:
                self.points.append((float(leaf.coords[0, 0]), float(leaf.coords[0, 1])))
            elif leaf.gtype == LINESTRING:
                if len(leaf.coords) >= 2:
                    has_line_type = True
                    if (leaf.coords == leaf.coords[0]).all():
                        # zero-length line: point-set-wise a single interior
                        # point with empty boundary (matches the corpus'
                        # expected matrices for degenerate lines)
                        self.points.append(
                            (float(leaf.coords[0, 0]), float(leaf.coords[0, 1]))
                        )
                    else:
                        self.lines.append(leaf.coords)
            elif leaf.gtype == POLYGON:
                self.areas.append(leaf)
        self.prepared = [PreparedPolygon(a) for a in self.areas]
        # Mod-2 boundary rule over all line endpoints
        cnt: dict[tuple[float, float], int] = {}
        for ln in self.lines:
            for p in (tuple(ln[0]), tuple(ln[-1])):
                cnt[p] = cnt.get(p, 0) + 1
        self.line_boundary = {p for p, c in cnt.items() if c % 2 == 1}
        if self.areas:
            self.dim = 2
        elif self.lines or has_line_type:
            self.dim = 1  # dimension is type-based (Geometry.cs:561)
        elif self.points:
            self.dim = 0
        else:
            self.dim = -1

    @property
    def is_empty(self) -> bool:
        return self.dim < 0

    def rings(self) -> list[np.ndarray]:
        out = []
        for a in self.areas:
            out.extend(a.rings)
        return out

    # -- point location against this geometry ---------------------------
    def locate(self, x: float, y: float) -> int:
        """INTERIOR / BOUNDARY / EXTERIOR of the union of features.

        Union semantics (RelateNG GC handling): interior of any component
        wins; else boundary of any component; else exterior. Within the
        lineal component the Mod-2 endpoint rule decides boundary-ness of
        the whole line *set* (a T-junction endpoint stays boundary even
        though another line passes through — OGC behavior).
        """
        boundary = False
        for pp in self.prepared:
            loc = int(pp.locate(np.array([x]), np.array([y]))[0])
            if loc == INTERIOR:
                return INTERIOR
            if loc == BOUNDARY:
                boundary = True
        if self.lines and any(_point_on_polyline(x, y, ln) for ln in self.lines):
            if (x, y) in self.line_boundary:
                boundary = True
            else:
                return INTERIOR
        for px, py in self.points:
            if px == x and py == y:
                return INTERIOR
        return BOUNDARY if boundary else EXTERIOR

    def locate_areal(self, x: float, y: float) -> int:
        """Location against the areal components only."""
        best = EXTERIOR
        for pp in self.prepared:
            loc = int(pp.locate(np.array([x]), np.array([y]))[0])
            if loc == INTERIOR:
                return INTERIOR
            if loc == BOUNDARY:
                best = BOUNDARY
        return best


def _point_on_polyline(x: float, y: float, ln: np.ndarray) -> bool:
    x1, y1 = ln[:-1, 0], ln[:-1, 1]
    x2, y2 = ln[1:, 0], ln[1:, 1]
    t1 = (x2 - x1) * (y - y1)
    t2 = (y2 - y1) * (x - x1)
    cross = t1 - t2
    in_box = (
        (x >= np.minimum(x1, x2))
        & (x <= np.maximum(x1, x2))
        & (y >= np.minimum(y1, y2))
        & (y <= np.maximum(y1, y2))
    )
    # double filter, exact confirmation: a huge-coordinate cross product can
    # underflow to 0.0 for points NOT on the line (robust/TestRobustRelate)
    near = in_box & (np.abs(cross) <= 1e-12 * (np.abs(t1) + np.abs(t2)))
    if not near.any():
        return False
    from .orientation import orient_index

    for i in np.nonzero(near)[0]:
        if (
            orient_index(
                float(x1[i]), float(y1[i]), float(x2[i]), float(y2[i]), x, y
            )
            == 0
        ):
            return True
    return False


# ---------------------------------------------------------------------------
# noding: split a polyline at intersections with a segment soup
# ---------------------------------------------------------------------------

def _collect_segments(feats: _Features):
    """The other geometry's segments (+ ring flags) and isolated points."""
    segs: list[tuple[np.ndarray, bool]] = [(ln, False) for ln in feats.lines]
    segs.extend((r, True) for r in feats.rings())
    if not segs and not feats.points:
        return None
    if segs:
        a = np.concatenate([s[:-1] for s, _ in segs], axis=0)
        b = np.concatenate([s[1:] for s, _ in segs], axis=0)
        is_ring = np.concatenate([np.full(len(s) - 1, fl, dtype=bool) for s, fl in segs])
    else:
        a = np.empty((0, 2))
        b = np.empty((0, 2))
        is_ring = np.empty(0, dtype=bool)
    return a, b, is_ring, feats.points


def _seg_params(p1, p2, q1, q2):
    """Intersection of segment p with segment q.

    Returns (kind, tvals, pt): 'none' | 'point' | 'overlap'; tvals are
    parameters along p; pt (for 'point') prefers the exact input endpoint
    coordinates over the computed intersection, so endpoint touches compare
    exactly against boundary-node sets.
    """
    px, py = p1
    dx, dy = p2[0] - px, p2[1] - py
    qx, qy = q1
    ex, ey = q2[0] - qx, q2[1] - qy
    denom = dx * ey - dy * ex
    wx, wy = qx - px, qy - py
    if denom != 0.0:
        t = (wx * ey - wy * ex) / denom
        u = (wx * dy - wy * dx) / denom
        if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
            if t == 0.0:
                pt = p1
            elif t == 1.0:
                pt = p2
            elif u == 0.0:
                pt = q1
            elif u == 1.0:
                pt = q2
            else:
                pt = (px + t * dx, py + t * dy)
            return "point", [t], pt
        return "none", [], None
    if wx * dy - wy * dx != 0.0:
        return "none", [], None
    ll = dx * dx + dy * dy
    if ll == 0.0:
        return "none", [], None
    t0 = (wx * dx + wy * dy) / ll
    t1 = ((qx + ex - px) * dx + (qy + ey - py) * dy) / ll
    lo, hi = min(t0, t1), max(t0, t1)
    lo, hi = max(lo, 0.0), min(hi, 1.0)
    if lo > hi:
        return "none", [], None
    if lo == hi:
        tp = lo
        pt = p1 if tp == 0.0 else (p2 if tp == 1.0 else (px + tp * dx, py + tp * dy))
        return "point", [lo], pt
    return "overlap", [lo, hi], None


class _Pieces:
    """Noded pieces of one polyline."""

    __slots__ = ("mids", "shared_ring", "shared_line", "nodes")

    def __init__(self, mids, shared_ring, shared_line, nodes):
        self.mids = mids                # piece midpoints
        self.shared_ring = shared_ring  # piece collinear on an other-ring seg
        self.shared_line = shared_line  # piece collinear on an other-line seg
        self.nodes = nodes              # [(x, y, from_ring)] isolated nodes


def _node_polyline(ln: np.ndarray, other) -> _Pieces:
    other_a, other_b, other_ring, other_pts = other
    mids: list[tuple[float, float]] = []
    shared_ring: list[bool] = []
    shared_line: list[bool] = []
    nodes: list[tuple[float, float, str]] = []
    no = len(other_a)
    for i in range(len(ln) - 1):
        p1 = (float(ln[i, 0]), float(ln[i, 1]))
        p2 = (float(ln[i + 1, 0]), float(ln[i + 1, 1]))
        ts = {0.0, 1.0}
        ovl_r: list[tuple[float, float]] = []
        ovl_l: list[tuple[float, float]] = []
        for j in range(no):
            q1 = (float(other_a[j, 0]), float(other_a[j, 1]))
            q2 = (float(other_b[j, 0]), float(other_b[j, 1]))
            kind, tv, pt = _seg_params(p1, p2, q1, q2)
            if kind == "point":
                ts.add(tv[0])
                nodes.append((pt[0], pt[1], "ring" if other_ring[j] else "line"))
            elif kind == "overlap":
                ts.add(tv[0])
                ts.add(tv[1])
                (ovl_r if other_ring[j] else ovl_l).append((tv[0], tv[1]))
        # split at the other geometry's isolated points lying on this segment
        dx, dy = p2[0] - p1[0], p2[1] - p1[1]
        ll = dx * dx + dy * dy
        for qx, qy in other_pts:
            cross = dx * (qy - p1[1]) - dy * (qx - p1[0])
            if (
                cross == 0.0
                and min(p1[0], p2[0]) <= qx <= max(p1[0], p2[0])
                and min(p1[1], p2[1]) <= qy <= max(p1[1], p2[1])
                and ll > 0.0
            ):
                from .orientation import orient_index

                # exact confirmation: the double cross product underflows to
                # 0.0 for off-line points with huge coordinates
                if orient_index(p1[0], p1[1], p2[0], p2[1], qx, qy) != 0:
                    continue
                t = ((qx - p1[0]) * dx + (qy - p1[1]) * dy) / ll
                ts.add(min(max(t, 0.0), 1.0))
                nodes.append((qx, qy, "point"))
        tso = sorted(ts)
        for a, b in zip(tso[:-1], tso[1:]):
            if b <= a:
                continue
            tm = (a + b) * 0.5
            mids.append((p1[0] + tm * (p2[0] - p1[0]), p1[1] + tm * (p2[1] - p1[1])))
            shared_ring.append(any(lo <= a and b <= hi for lo, hi in ovl_r))
            shared_line.append(any(lo <= a and b <= hi for lo, hi in ovl_l))
    return _Pieces(mids, shared_ring, shared_line, nodes)


# ---------------------------------------------------------------------------
# matrix assembly
# ---------------------------------------------------------------------------

class IM:
    """Mutable 3×3 DE-9IM (IntersectionMatrix.cs analog)."""

    def __init__(self):
        self.m = [[F, F, F], [F, F, F], [F, F, F]]

    def bump(self, row: int, col: int, dim: int):
        if dim > self.m[row][col]:
            self.m[row][col] = dim

    def __str__(self) -> str:
        sym = {F: "F", 0: "0", 1: "1", 2: "2"}
        return "".join(sym[self.m[r][c]] for r in range(3) for c in range(3))


_ROW = {INTERIOR: 0, BOUNDARY: 1, EXTERIOR: 2}

I, B, E = 0, 1, 2


def relate(ga: Geom, gb: Geom) -> str:
    a = _Features(ga)
    b = _Features(gb)
    im = IM()
    im.bump(E, E, 2)
    if a.is_empty and b.is_empty:
        return str(im)
    if a.is_empty:
        _empty_side(im, b, transpose=True)
        return str(im)
    if b.is_empty:
        _empty_side(im, a, transpose=False)
        return str(im)

    # 1-dim evidence of where each side's area-boundary pieces sit relative
    # to the OTHER side's areal interior/exterior (used by _area_area; the
    # matrix entries can't serve — 0-dim point contributions pollute them)
    ev = {
        "a_bd_in_int": False, "a_bd_in_ext": False,
        "b_bd_in_int": False, "b_bd_in_ext": False,
    }
    _one_direction(im, a, b, transpose=False, ev=ev, pfx="a")
    _one_direction(im, b, a, transpose=True, ev=ev, pfx="b")
    _area_area(im, a, b, ev)
    return str(im)


def _bump_t(im: IM, row: int, col: int, dim: int, transpose: bool):
    if transpose:
        im.bump(col, row, dim)
    else:
        im.bump(row, col, dim)


def _empty_side(im: IM, feats: _Features, transpose: bool):
    """Non-empty geometry against an empty one: everything is in the empty
    side's exterior."""
    if feats.areas:
        _bump_t(im, E, I, 2, not transpose)
        _bump_t(im, E, B, 1, not transpose)
    elif feats.lines:
        _bump_t(im, E, I, 1, not transpose)
        if feats.line_boundary:
            _bump_t(im, E, B, 0, not transpose)
    elif feats.points:
        _bump_t(im, E, I, 0, not transpose)


def _one_direction(im: IM, a: _Features, b: _Features, transpose: bool,
                   ev: dict | None = None, pfx: str = "a"):
    """Contributions of A's features located against B.

    With transpose=False rows are A-parts, cols are B-parts; the symmetric
    call flips.
    """
    # --- A's isolated points (always interior of A) ---
    for x, y in a.points:
        loc = b.locate(x, y)
        _bump_t(im, I, _ROW_TO_COL[loc], 0, transpose)

    other = _collect_segments(b)

    def classify_mid(mx, my, p: _Pieces, k: int) -> int:
        """Column (B-part) of a piece: provenance for shared pieces (avoids
        re-testing a collinear midpoint against the segment it lies on —
        the float midpoint may be an ulp off the line), locate otherwise."""
        if p.shared_ring[k]:
            return B  # collinear with an area ring ⇒ boundary of B
        if p.shared_line[k]:
            # on a B line: interior unless B's odd endpoint (can't be: a
            # piece has extent, endpoints are single points)
            return I
        return _ROW_TO_COL[b.locate(mx, my)]

    def classify_node(nx, ny, src: str) -> int:
        if src == "ring":
            return B
        if src == "point":
            return I  # isolated points are interior of their geometry
        return B if (nx, ny) in b.line_boundary else I

    # --- A's lines (their interiors; endpoints handled below) ---
    for ln in a.lines:
        pieces = _node_polyline(ln, other) if other else _plain_pieces(ln)
        for k, (mx, my) in enumerate(pieces.mids):
            _bump_t(im, I, classify_mid(mx, my, pieces, k), 1, transpose)
        for nx, ny, nsrc in pieces.nodes:
            arow = B if (nx, ny) in a.line_boundary else I
            _bump_t(im, arow, classify_node(nx, ny, nsrc), 0, transpose)

    # --- A's line boundary endpoints ---
    for x, y in a.line_boundary:
        loc = b.locate(x, y)
        _bump_t(im, B, _ROW_TO_COL[loc], 0, transpose)

    # --- A's area rings (boundary of A) ---
    for ring in a.rings():
        pieces = _node_polyline(ring, other) if other else _plain_pieces(ring)
        for k, (mx, my) in enumerate(pieces.mids):
            _bump_t(im, B, classify_mid(mx, my, pieces, k), 1, transpose)
            if ev is not None and b.areas and not pieces.shared_ring[k]:
                la = b.locate_areal(mx, my)
                if la == INTERIOR:
                    ev[f"{pfx}_bd_in_int"] = True
                elif la == EXTERIOR:
                    ev[f"{pfx}_bd_in_ext"] = True
        for nx, ny, nsrc in pieces.nodes:
            _bump_t(im, B, classify_node(nx, ny, nsrc), 0, transpose)


def _plain_pieces(ln: np.ndarray) -> _Pieces:
    mids = [
        (float((ln[i, 0] + ln[i + 1, 0]) * 0.5), float((ln[i, 1] + ln[i + 1, 1]) * 0.5))
        for i in range(len(ln) - 1)
    ]
    n = len(mids)
    return _Pieces(mids, [False] * n, [False] * n, [])


_ROW_TO_COL = {INTERIOR: I, BOUNDARY: B, EXTERIOR: E}


def _area_area(im: IM, a: _Features, b: _Features, ev: dict):
    """Interior/interior and interior/exterior entries when areas exist.

    Jordan reasoning over classified boundary pieces:
    - ∂A piece strictly inside B, or ∂B piece strictly inside A ⇒ II = 2
    - no boundary interaction: containment via representative points
    - IE=2 iff int(A) ⊄ B̄ : some ∂A piece outside B, or some ∂B piece
      strictly inside A (the far side of that piece is int(A) ∩ ext(B)),
      or A has area and B doesn't.
    """
    from .predicates import interior_point

    if a.areas and b.areas:
        bd_a_in_b = ev["a_bd_in_int"]
        bd_b_in_a = ev["b_bd_in_int"]
        bd_a_out_b = ev["a_bd_in_ext"]
        bd_b_out_a = ev["b_bd_in_ext"]
        ii = bd_a_in_b or bd_b_in_a
        if not ii:
            # touching-or-disjoint-or-equal: probe representative points
            for feats, other in ((a, b), (b, a)):
                for poly in feats.areas:
                    ip = interior_point(poly)
                    if ip is not None and other.locate(ip[0], ip[1]) == INTERIOR:
                        ii = True
                        break
                if ii:
                    break
        if ii:
            im.bump(I, I, 2)
        # IE / EI: boundary-piece evidence, plus representative-point probes
        # (needed when ∂A is entirely shared with ∂B yet interiors lie on
        # opposite sides — e.g. A exactly filling a hole of B)
        if bd_a_out_b or bd_b_in_a:
            im.bump(I, E, 2)
        elif any(
            (ip := interior_point(p)) is not None
            and b.locate(ip[0], ip[1]) == EXTERIOR
            for p in a.areas
        ):
            im.bump(I, E, 2)
        if bd_b_out_a or bd_a_in_b:
            im.bump(E, I, 2)
        elif any(
            (ip := interior_point(p)) is not None
            and a.locate(ip[0], ip[1]) == EXTERIOR
            for p in b.areas
        ):
            im.bump(E, I, 2)
        # equal-ish fallback: if interiors intersect but neither IE nor EI
        # was inferred and boundaries aren't identical, nothing more to do —
        # identical boundaries mean equal geometries (IE = EI = F). Correct.
    elif a.areas:
        # B has no area: int(A) always meets ext(B); int(B-line/pts) vs int(A)
        im.bump(I, E, 2)
        # II and B-interior entries were produced by locating B's features.
    elif b.areas:
        im.bump(E, I, 2)


# ---------------------------------------------------------------------------
# pattern matching + named predicates (IntersectionMatrix.cs:319-601)
# ---------------------------------------------------------------------------

def matches(im: str, pattern: str) -> bool:
    for ch, p in zip(im, pattern):
        if p == "*":
            continue
        if p == "T":
            if ch == "F":
                return False
        elif p == "F":
            if ch != "F":
                return False
        elif ch != p:
            return False
    return True


def relate_predicate(ga: Geom, gb: Geom, name: str) -> bool:
    im = relate(ga, gb)
    name = name.lower()
    dim_a = _Features(ga).dim
    dim_b = _Features(gb).dim
    if name == "intersects":
        return not matches(im, "FF*FF****")
    if name == "disjoint":
        return matches(im, "FF*FF****")
    if name == "contains":
        return matches(im, "T*****FF*")
    if name == "within":
        return matches(im, "T*F**F***")
    if name == "covers":
        return any(
            matches(im, p) for p in ("T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*")
        )
    if name == "coveredby":
        return any(
            matches(im, p) for p in ("T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***")
        )
    if name == "crosses":
        if dim_a < dim_b:
            return matches(im, "T*T******")
        if dim_a > dim_b:
            return matches(im, "T*****T**")
        if dim_a == 1 and dim_b == 1:
            return matches(im, "0********")
        return False
    if name == "touches":
        return any(matches(im, p) for p in ("FT*******", "F**T*****", "F***T****"))
    if name == "overlaps":
        if dim_a == dim_b and dim_a in (0, 2):
            return matches(im, "T*T***T**")
        if dim_a == 1 and dim_b == 1:
            return matches(im, "1*T***T**")
        return False
    if name in ("equalstopo", "equals"):
        return dim_a == dim_b and matches(im, "T*F**FFF*")
    raise ValueError(f"unknown predicate {name!r}")
