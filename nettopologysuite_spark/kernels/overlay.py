"""Overlay set operations: intersection / union / difference / symDifference.

Reimplements the semantics of the reference's OverlayNG
(``Operation/OverlayNG/OverlayNG.cs:180-245`` statics; result assembly
``GetResult`` :424) with the same conceptual pipeline — node all input
linework, label noded edges by location in each input, select and orient
result edges per operation, assemble polygons/lines/points
(``OverlayLabeller.cs`` / ``PolygonBuilder`` / ``LineBuilder`` analogs) —
over this package's own primitives:

- exact pairwise segment noding (split coordinates computed ONCE per
  crossing with exact rational arithmetic, mirroring the double-double
  ``CGAlgorithmsDD.Intersection`` :173-198, so both sides share identical
  vertices);
- structural shared-edge detection (coincident noded edges, no float
  re-testing);
- prepared-PIP midpoint classification for non-shared edges;
- interior-on-the-left ring walking with clockwise-most edge choice.

Result structure follows OverlayNG: polygons + residual lines + isolated
points, collapsed via factory BuildGeometry rules; empty results typed by
``OverlayUtil.CreateEmptyResult`` dimension rules.
"""

from __future__ import annotations

import math
from fractions import Fraction

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
from .orientation import is_ccw
from .pip import BOUNDARY, EXTERIOR, INTERIOR, PreparedPolygon

INTERSECTION = "intersection"
UNION = "union"
DIFFERENCE = "difference"
SYMDIFFERENCE = "symdifference"


# ---------------------------------------------------------------------------
# exact intersection point (CGAlgorithmsDD.Intersection port via rationals)
# ---------------------------------------------------------------------------

def _line_intersection_exact(p1, p2, q1, q2):
    px = Fraction(p1[1]) - Fraction(p2[1])
    py = Fraction(p2[0]) - Fraction(p1[0])
    pw = Fraction(p1[0]) * Fraction(p2[1]) - Fraction(p2[0]) * Fraction(p1[1])
    qx = Fraction(q1[1]) - Fraction(q2[1])
    qy = Fraction(q2[0]) - Fraction(q1[0])
    qw = Fraction(q1[0]) * Fraction(q2[1]) - Fraction(q2[0]) * Fraction(q1[1])
    w = px * qy - qx * py
    if w == 0:
        return None
    x = (py * qw - qy * pw) / w
    y = (qx * pw - px * qw) / w
    return (float(x), float(y))


def _seg_intersection(p1, p2, q1, q2):
    """('none'|'point'|'overlap', payload) — exact-orientation classified
    (RobustLineIntersector case structure with an exact-arithmetic filter).

    point → ((x, y), t) preferring exact endpoint coordinates;
    overlap → ((t0, pt0), (t1, pt1)) along p with exact coordinates.
    """
    from .orientation import orient_index

    d1 = orient_index(q1[0], q1[1], q2[0], q2[1], p1[0], p1[1])
    d2 = orient_index(q1[0], q1[1], q2[0], q2[1], p2[0], p2[1])
    if (d1 > 0 and d2 > 0) or (d1 < 0 and d2 < 0):
        return "none", None
    d3 = orient_index(p1[0], p1[1], p2[0], p2[1], q1[0], q1[1])
    d4 = orient_index(p1[0], p1[1], p2[0], p2[1], q2[0], q2[1])
    if (d3 > 0 and d4 > 0) or (d3 < 0 and d4 < 0):
        return "none", None

    def in_bbox(pt, a, b) -> bool:
        return (
            min(a[0], b[0]) <= pt[0] <= max(a[0], b[0])
            and min(a[1], b[1]) <= pt[1] <= max(a[1], b[1])
        )

    if d1 == 0 and d2 == 0:
        # collinear (degenerate segments included): project q onto p
        px, py = p1
        dx, dy = p2[0] - px, p2[1] - py
        ll = dx * dx + dy * dy
        if ll == 0.0:
            # p degenerate: point-on-q test
            if d3 == 0 and in_bbox(p1, q1, q2):
                return "point", (p1, 0.0)
            return "none", None
        t0 = ((q1[0] - px) * dx + (q1[1] - py) * dy) / ll
        t1 = ((q2[0] - px) * dx + (q2[1] - py) * dy) / ll
        ents = sorted(((t0, q1), (t1, q2)))
        lo_t, lo_p = ents[0]
        hi_t, hi_p = ents[1]
        if lo_t < 0.0:
            lo_t, lo_p = 0.0, p1
        if hi_t > 1.0:
            hi_t, hi_p = 1.0, p2
        if lo_t > hi_t:
            return "none", None
        if lo_t == hi_t:
            return "point", (lo_p, lo_t)
        return "overlap", ((lo_t, lo_p), (hi_t, hi_p))

    # endpoint touches (exact: the zero-orientation endpoint must lie in the
    # other segment's bbox)
    if d1 == 0 and in_bbox(p1, q1, q2):
        return "point", (p1, 0.0)
    if d2 == 0 and in_bbox(p2, q1, q2):
        return "point", (p2, 1.0)
    if d3 == 0 and in_bbox(q1, p1, p2):
        return "point", (q1, _param_on_segment(q1, p1, p2))
    if d4 == 0 and in_bbox(q2, p1, p2):
        return "point", (q2, _param_on_segment(q2, p1, p2))
    if d1 == 0 or d2 == 0 or d3 == 0 or d4 == 0:
        return "none", None  # zero-orientation endpoint outside the segment

    # proper crossing (d1*d2 < 0 and d3*d4 < 0)
    pt = _line_intersection_exact(p1, p2, q1, q2)
    if pt is None:
        return "none", None
    return "point", (pt, _param_on_segment(pt, p1, p2))


def _param_on_segment(pt, p1, p2) -> float:
    dx, dy = p2[0] - p1[0], p2[1] - p1[1]
    ll = dx * dx + dy * dy
    if ll == 0.0:
        return 0.0
    return ((pt[0] - p1[0]) * dx + (pt[1] - p1[1]) * dy) / ll


# ---------------------------------------------------------------------------
# features + global noding
# ---------------------------------------------------------------------------

def _trim_repeated(pts: np.ndarray) -> np.ndarray:
    if len(pts) < 2:
        return pts
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = (pts[1:] != pts[:-1]).any(axis=1)
    return pts[keep]


class _Input:
    """One side of the overlay, decomposed into canonical features."""

    __slots__ = ("points", "chains", "chain_meta", "areas", "prepared", "dim")

    def __init__(self, g: Geom):
        self.points: list[tuple[float, float]] = []
        # chains: (pts ndarray, kind) kind: 'line' | 'ring'
        self.chains: list[tuple[np.ndarray, str]] = []
        # chain_meta[i]: ('line', None, None) | ('ring', poly_idx, ring_idx)
        self.chain_meta: list[tuple] = []
        self.areas: list[Geom] = []
        dim = -1
        for leaf in g.flatten():
            if leaf.gtype == POINT:
                self.points.append((float(leaf.coords[0, 0]), float(leaf.coords[0, 1])))
                dim = max(dim, 0)
            elif leaf.gtype == LINESTRING:
                pts = _trim_repeated(leaf.coords)
                if len(pts) >= 2:
                    self.chains.append((pts, "line"))
                    self.chain_meta.append(("line", None, None))
                dim = max(dim, 1)
            elif leaf.gtype == POLYGON:
                if leaf.rings:
                    # canonical orientation: shell CCW, holes CW → interior
                    # is on the LEFT of every directed ring edge
                    rings = []
                    shell = _trim_repeated(leaf.rings[0])
                    if not is_ccw(shell):
                        shell = shell[::-1].copy()
                    rings.append(shell)
                    for h in leaf.rings[1:]:
                        h = _trim_repeated(h)
                        if is_ccw(h):
                            h = h[::-1].copy()
                        rings.append(h)
                    canon = Geom(POLYGON, rings=rings)
                    poly_idx = len(self.areas)
                    self.areas.append(canon)
                    for ri, r in enumerate(rings):
                        self.chains.append((r, "ring"))
                        self.chain_meta.append(("ring", poly_idx, ri))
                dim = max(dim, 2)
        self.prepared = [PreparedPolygon(a) for a in self.areas]
        self.dim = dim

    def locate_areal(self, x: float, y: float) -> int:
        """EXACT point location against the areal components (ray crossing
        with exact orientation signs). Overlay labels near-tangent
        discretized boundaries whose pieces sit ~1e-10 apart — double
        arithmetic misclassifies there and breaks edge-selection balance."""
        best = EXTERIOR
        for a in self.areas:
            loc = _locate_exact(x, y, a.rings)
            if loc == INTERIOR:
                return INTERIOR
            if loc == BOUNDARY:
                best = BOUNDARY
        return best

    def locate_areal_batch(self, xs: np.ndarray, ys: np.ndarray) -> np.ndarray:
        """EXACT location of MANY points against the areal components in
        whole-matrix passes (same filter + rational fallback as the scalar
        path — identical classification, paid once per batch instead of
        once per point)."""
        n = len(xs)
        out = np.full(n, EXTERIOR, dtype=np.int64)
        if not self.areas or n == 0:
            return out
        bnd = np.zeros(n, dtype=bool)
        inter = np.zeros(n, dtype=bool)
        for a in self.areas:
            loc = _locate_exact_batch(xs, ys, a.rings)
            inter |= loc == INTERIOR
            bnd |= loc == BOUNDARY
        out[bnd] = BOUNDARY
        out[inter] = INTERIOR  # scalar path short-circuits on INTERIOR
        return out

    def locate_full(self, x: float, y: float) -> int:
        """Against areas + lines + points (union semantics)."""
        loc = self.locate_areal(x, y) if self.areas else EXTERIOR
        if loc == INTERIOR:
            return INTERIOR
        for pts, kind in self.chains:
            if kind != "line":
                continue
            if _on_polyline(x, y, pts):
                return INTERIOR  # treat line as its closure here
        for px, py in self.points:
            if px == x and py == y:
                return INTERIOR
        return loc


def _locate_exact(px: float, py: float, rings) -> int:
    """Exact even-odd ray crossing over ring segments (orientation signs via
    rational-fallback orient_index; no floating intersection computed)."""
    from .orientation import orient_index

    crossings = 0
    for r in rings:
        n = len(r)
        for i in range(n - 1):
            x1, y1 = float(r[i, 0]), float(r[i, 1])
            x2, y2 = float(r[i + 1, 0]), float(r[i + 1, 1])
            # boundary check
            if (
                min(x1, x2) <= px <= max(x1, x2)
                and min(y1, y2) <= py <= max(y1, y2)
                and orient_index(x1, y1, x2, y2, px, py) == 0
            ):
                return BOUNDARY
            # half-open crossing rule on y
            if (y1 > py) != (y2 > py):
                o = orient_index(x1, y1, x2, y2, px, py)
                if y2 > y1:
                    if o > 0:
                        crossings += 1
                elif o < 0:
                    crossings += 1
    return INTERIOR if crossings % 2 == 1 else EXTERIOR


_LOC_CHUNK = 1 << 21  # bound (points × segments) matrix memory


def _locate_exact_batch(xs: np.ndarray, ys: np.ndarray, rings) -> np.ndarray:
    """Batched ``_locate_exact``: all query points against all ring
    segments in chunked matrix passes, using the SAME Shewchuk-style filter
    ``orient_index`` applies internally (identical constant, identical
    formula) — certain signs take the float value, filtered-ambiguous
    pairs fall back to the exact rational path. Classification is
    bit-identical to the scalar loop."""
    from .orientation import _CCW_ERR, orient_index

    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    nq = len(xs)
    segs = [r for r in rings if len(r) >= 2]
    if not segs or nq == 0:
        return np.full(nq, EXTERIOR, dtype=np.int64)
    x1 = np.concatenate([r[:-1, 0] for r in segs])
    y1 = np.concatenate([r[:-1, 1] for r in segs])
    x2 = np.concatenate([r[1:, 0] for r in segs])
    y2 = np.concatenate([r[1:, 1] for r in segs])
    ns = len(x1)
    mnx = np.minimum(x1, x2); mxx = np.maximum(x1, x2)
    mny = np.minimum(y1, y2); mxy = np.maximum(y1, y2)
    rising = y2 > y1
    out = np.full(nq, EXTERIOR, dtype=np.int64)
    step = max(1, _LOC_CHUNK // max(ns, 1))
    for s in range(0, nq, step):
        qx = xs[s:s + step]
        qy = ys[s:s + step]
        m = len(qx)
        # sparse candidate pairs: a segment contributes a crossing or a
        # boundary hit ONLY if its y-interval contains qy (straddle and the
        # bbox y-condition are both subsets) — the full orientation
        # arithmetic runs on the stabbed pairs, not the dense matrix
        ymask = (mny[None, :] <= qy[:, None]) & (qy[:, None] <= mxy[None, :])
        qi, sj = np.nonzero(ymask)
        if not len(qi):
            out[s:s + step] = EXTERIOR
            continue
        qxp = qx[qi]; qyp = qy[qi]
        X1 = x1[sj]; Y1 = y1[sj]; X2 = x2[sj]; Y2 = y2[sj]
        detl = (X1 - qxp) * (Y2 - qyp)
        detr = (Y1 - qyp) * (X2 - qxp)
        det = detl - detr
        detsum = np.abs(detl) + np.abs(detr)
        certain = (np.abs(det) > _CCW_ERR * detsum) | (detsum == 0.0)
        sign = np.sign(det).astype(np.int8)
        bbox = (mnx[sj] <= qxp) & (qxp <= mxx[sj])  # y-part is the stab
        straddle = (Y1 > qyp) != (Y2 > qyp)
        need = (~certain) & (bbox | straddle)
        for k in np.flatnonzero(need):
            j = sj[k]
            sign[k] = orient_index(
                float(x1[j]), float(y1[j]), float(x2[j]), float(y2[j]),
                float(qxp[k]), float(qyp[k])
            )
        hit = straddle & np.where(rising[sj], sign > 0, sign < 0)
        crossings = np.bincount(qi[hit], minlength=m)
        boundary = np.bincount(qi[bbox & (sign == 0)], minlength=m) > 0
        chunk_out = np.where(crossings % 2 == 1, INTERIOR, EXTERIOR)
        chunk_out = np.where(boundary, BOUNDARY, chunk_out)
        out[s:s + step] = chunk_out
    return out


def _on_polyline(x, y, ln) -> bool:
    x1, y1 = ln[:-1, 0], ln[:-1, 1]
    x2, y2 = ln[1:, 0], ln[1:, 1]
    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    on = (
        (cross == 0)
        & (x >= np.minimum(x1, x2)) & (x <= np.maximum(x1, x2))
        & (y >= np.minimum(y1, y2)) & (y <= np.maximum(y1, y2))
    )
    return bool(on.any())


def _node_chains(inputs: list[tuple[int, _Input]]):
    """Globally node every chain of both inputs against all other chains,
    the other side's point features, and themselves (self-intersections).

    Returns (edges, node_points):
    - edges: list of (u, v, side, kind, chain_id) in per-chain order;
    - node_points: every intersection/touch/endpoint vertex — result lines
      must break at these (OverlayNG edges run node-to-node).
    Coincident vertices are guaranteed: each crossing's coordinates are
    computed once and injected into both participating chains.
    """
    chains = []  # (side, kind, pts)
    for side, inp in inputs:
        for pts, kind in inp.chains:
            chains.append((side, kind, pts))
    splits: list[dict[int, set]] = [dict() for _ in chains]
    node_points: set = set()

    def add_split(ci, si, t, pt):
        node_points.add(pt)
        if 0.0 < t < 1.0:
            splits[ci].setdefault(si, set()).add((t, pt))

    _SNAP_EPS2 = 1e-18  # hot-pixel snap: an exact crossing whose double
    # rounding lands on (or within ~1e-9 of) another segment's vertex must
    # split that segment there, or tangent topologies lose a crossing
    # (SnappingNoder / HotPixel analog)

    def snap_vertex_to_segment(ci, si, p1, p2, q):
        dx, dy = p2[0] - p1[0], p2[1] - p1[1]
        ll = dx * dx + dy * dy
        if ll == 0.0:
            return
        t = ((q[0] - p1[0]) * dx + (q[1] - p1[1]) * dy) / ll
        if not (0.0 < t < 1.0):
            return
        cxp = dx * (q[1] - p1[1]) - dy * (q[0] - p1[0])
        if cxp * cxp <= _SNAP_EPS2 * ll:
            add_split(ci, si, t, q)

    # -- candidate pairs via a sweep over padded segment envelopes ----------
    # (MCIndexNoder analog: only envelope-overlapping segment pairs reach the
    # exact intersector; the pad covers the hot-pixel snap radius, which is
    # at most 1e-9 × the longest segment)
    seg_parts_1: list[np.ndarray] = []
    seg_parts_2: list[np.ndarray] = []
    seg_ch_parts: list[np.ndarray] = []
    seg_ix_parts: list[np.ndarray] = []
    for ci, (_side, _kind, pts) in enumerate(chains):
        npts_c = len(pts)
        if npts_c >= 2:
            seg_parts_1.append(np.asarray(pts[:-1], dtype=np.float64))
            seg_parts_2.append(np.asarray(pts[1:], dtype=np.float64))
            seg_ch_parts.append(np.full(npts_c - 1, ci, dtype=np.int64))
            seg_ix_parts.append(np.arange(npts_c - 1, dtype=np.int64))
    nseg = int(sum(len(p) for p in seg_parts_1))
    if nseg:
        a1 = np.concatenate(seg_parts_1)
        a2 = np.concatenate(seg_parts_2)
        seg_chain = np.concatenate(seg_ch_parts)
        seg_idx = np.concatenate(seg_ix_parts)
        minx = np.minimum(a1[:, 0], a2[:, 0])
        maxx = np.maximum(a1[:, 0], a2[:, 0])
        miny = np.minimum(a1[:, 1], a2[:, 1])
        maxy = np.maximum(a1[:, 1], a2[:, 1])
        lmax2 = float(((a2 - a1) ** 2).sum(axis=1).max())
        pad = 1e-9 * math.sqrt(lmax2)
        order = np.argsort(minx, kind="stable")
        sminx = minx[order]

        def process_pair(sa: int, sb: int):
            ca, ia = int(seg_chain[sa]), int(seg_idx[sa])
            cb, ib = int(seg_chain[sb]), int(seg_idx[sb])
            p1 = (float(a1[sa, 0]), float(a1[sa, 1]))
            p2 = (float(a2[sa, 0]), float(a2[sa, 1]))
            q1 = (float(a1[sb, 0]), float(a1[sb, 1]))
            q2 = (float(a2[sb, 0]), float(a2[sb, 1]))
            if ca == cb:
                # self-noding: only 'line' chains; adjacent segments (and the
                # closing pair of a closed chain) check COLLINEAR fold-backs
                # only — their natural shared endpoint is not a node
                if chains[ca][1] != "line":
                    return
                pts = chains[ca][2]
                i, j = (ia, ib) if ia <= ib else (ib, ia)
                if i == j:
                    return
                n = len(pts) - 1
                closing = i == 0 and j == n - 1 and (pts[0] == pts[-1]).all()
                if j == i + 1 or closing:
                    kind, payload = _seg_intersection(
                        tuple(map(float, pts[i])), tuple(map(float, pts[i + 1])),
                        tuple(map(float, pts[j])), tuple(map(float, pts[j + 1])),
                    )
                    if kind == "overlap":
                        pi1 = (float(pts[i, 0]), float(pts[i, 1]))
                        pi2 = (float(pts[i + 1, 0]), float(pts[i + 1, 1]))
                        pj1 = (float(pts[j, 0]), float(pts[j, 1]))
                        pj2 = (float(pts[j + 1, 0]), float(pts[j + 1, 1]))
                        for t, pt in payload:
                            add_split(ca, i, _param_on_segment(pt, pi1, pi2), pt)
                            add_split(ca, j, _param_on_segment(pt, pj1, pj2), pt)
                    return
                kind, payload = _seg_intersection(p1, p2, q1, q2)
                if kind == "point":
                    pt, t = payload
                    add_split(ca, ia, t, pt)
                    add_split(cb, ib, _param_on_segment(pt, q1, q2), pt)
                elif kind == "overlap":
                    for t, pt in payload:
                        add_split(ca, ia, t, pt)
                        add_split(cb, ib, _param_on_segment(pt, q1, q2), pt)
                return
            kind, payload = _seg_intersection(p1, p2, q1, q2)
            if kind == "point":
                pt, t = payload
                add_split(ca, ia, t, pt)
                add_split(cb, ib, _param_on_segment(pt, q1, q2), pt)
            elif kind == "overlap":
                for t, pt in payload:
                    add_split(ca, ia, t, pt)
                    add_split(cb, ib, _param_on_segment(pt, q1, q2), pt)
            # hot-pixel snaps (vertices lying ~on the other segment)
            snap_vertex_to_segment(ca, ia, p1, p2, q1)
            snap_vertex_to_segment(ca, ia, p1, p2, q2)
            snap_vertex_to_segment(cb, ib, q1, q2, p1)
            snap_vertex_to_segment(cb, ib, q1, q2, p2)

        # Vectorized candidate pass (the noding hot loop): pair generation
        # and certain-reject orientation filtering run whole-array in
        # float64 with the SAME error bound the exact `orient_index` filter
        # trusts (_CCW_ERR) — a pair is dropped only when both endpoint
        # orientations are sign-certain and strictly separating AND no
        # hot-pixel snap can trigger. Everything else (actual crossings,
        # collinear overlaps, sign-uncertain near-degenerate pairs,
        # snap-range pairs, adjacent self-noding fold-backs) escalates to
        # the scalar exact-rational `process_pair` — the filter changes
        # which pairs reach it, never what it computes.
        from .orientation import _CCW_ERR

        ch_arr = np.asarray(seg_chain, dtype=np.int64)
        si_arr = np.asarray(seg_idx, dtype=np.int64)
        nch = len(chains)
        chain_line = np.zeros(nch, dtype=bool)
        chain_nseg = np.zeros(nch, dtype=np.int64)
        chain_closed = np.zeros(nch, dtype=bool)
        for ci, (_cs, ckind, cpts) in enumerate(chains):
            chain_line[ci] = ckind == "line"
            chain_nseg[ci] = len(cpts) - 1
            chain_closed[ci] = bool((cpts[0] == cpts[-1]).all())
        sx1 = a1[:, 0]; sy1 = a1[:, 1]
        sx2 = a2[:, 0]; sy2 = a2[:, 1]

        def _orient_batch(ax, ay, bx, by, cx, cy):
            detleft = (ax - cx) * (by - cy)
            detright = (ay - cy) * (bx - cx)
            det = detleft - detright
            detsum = np.abs(detleft) + np.abs(detright)
            certain = (np.abs(det) > _CCW_ERR * detsum) | (detsum == 0.0)
            return det, certain

        def _snap_possible(px1, py1, px2, py2, qx, qy):
            # mirrors snap_vertex_to_segment's float64 arithmetic exactly
            dx = px2 - px1; dy = py2 - py1
            ll = dx * dx + dy * dy
            with np.errstate(divide="ignore", invalid="ignore"):
                t = ((qx - px1) * dx + (qy - py1) * dy) / ll
                cxp = dx * (qy - py1) - dy * (qx - px1)
                hit = (ll > 0.0) & (t > 0.0) & (t < 1.0) \
                    & (cxp * cxp <= _SNAP_EPS2 * ll)
            return hit & np.isfinite(t)

        def _process_block(sa: np.ndarray, sb: np.ndarray):
            ca = ch_arr[sa]; cb = ch_arr[sb]
            same = ca == cb
            # same-chain pairs of non-line chains never node (scalar early
            # return); drop them before any arithmetic
            live = ~(same & ~chain_line[ca])
            sa = sa[live]; sb = sb[live]
            if not len(sa):
                return
            ca = ch_arr[sa]; cb = ch_arr[sb]
            same = ca == cb
            ia = si_arr[sa]; ib = si_arr[sb]
            closing = same & chain_closed[ca] & (np.minimum(ia, ib) == 0) \
                & (np.maximum(ia, ib) == chain_nseg[ca] - 1)
            adj = same & ((np.abs(ia - ib) <= 1) | closing)
            p1x = sx1[sa]; p1y = sy1[sa]; p2x = sx2[sa]; p2y = sy2[sa]
            q1x = sx1[sb]; q1y = sy1[sb]; q2x = sx2[sb]; q2y = sy2[sb]
            d1, c1 = _orient_batch(q1x, q1y, q2x, q2y, p1x, p1y)
            d2, c2 = _orient_batch(q1x, q1y, q2x, q2y, p2x, p2y)
            rej = c1 & c2 & (((d1 > 0) & (d2 > 0)) | ((d1 < 0) & (d2 < 0)))
            nd = ~rej
            if nd.any():
                d3, c3 = _orient_batch(p1x[nd], p1y[nd], p2x[nd], p2y[nd],
                                       q1x[nd], q1y[nd])
                d4, c4 = _orient_batch(p1x[nd], p1y[nd], p2x[nd], p2y[nd],
                                       q2x[nd], q2y[nd])
                rej2 = c3 & c4 & (((d3 > 0) & (d4 > 0)) | ((d3 < 0) & (d4 < 0)))
                rej[np.flatnonzero(nd)[rej2]] = True
            # cross-chain rejected pairs may still hot-pixel snap
            resc = rej & ~same
            if resc.any():
                ri = np.flatnonzero(resc)
                snap = _snap_possible(p1x[ri], p1y[ri], p2x[ri], p2y[ri],
                                      q1x[ri], q1y[ri])
                snap |= _snap_possible(p1x[ri], p1y[ri], p2x[ri], p2y[ri],
                                       q2x[ri], q2y[ri])
                snap |= _snap_possible(q1x[ri], q1y[ri], q2x[ri], q2y[ri],
                                       p1x[ri], p1y[ri])
                snap |= _snap_possible(q1x[ri], q1y[ri], q2x[ri], q2y[ri],
                                       p2x[ri], p2y[ri])
                rej[ri[snap]] = False
            keep = adj | ~rej
            for u, v in zip(sa[keep], sb[keep]):
                process_pair(int(u), int(v))

        pos_arr = np.arange(nseg, dtype=np.int64)
        his = np.searchsorted(sminx, maxx[order] + pad, side="right")
        starts = pos_arr + 1
        cnt = np.maximum(his - starts, 0)
        csum = np.cumsum(cnt)
        bs = 0
        _BLOCK = 4_000_000  # pairs per block: bounds peak memory
        while bs < nseg:
            prev = csum[bs - 1] if bs else 0
            be = int(np.searchsorted(csum, prev + _BLOCK, side="left")) + 1
            be = min(max(be, bs + 1), nseg)
            bcnt = cnt[bs:be]
            btot = int(bcnt.sum())
            if btot:
                rep = np.repeat(np.arange(bs, be, dtype=np.int64), bcnt)
                offs = (np.arange(btot, dtype=np.int64)
                        - np.repeat(csum[bs:be] - bcnt - prev, bcnt)
                        + np.repeat(starts[bs:be], bcnt))
                sa = order[rep]; sb = order[offs]
                ysel = (miny[sb] <= maxy[sa] + pad) & (maxy[sb] >= miny[sa] - pad)
                _process_block(sa[ysel], sb[ysel])
            bs = be
    # -- cluster near-coincident computed nodes -----------------------------
    # The same geometric crossing reached via two different segment pairs can
    # round to doubles a few ulp apart, leaving dangling edge endpoints that
    # break ring assembly (robust/overlay geos-275 class). Snap computed
    # split points onto original vertices / each other within a RELATIVE
    # epsilon (~1e-13 of the coordinate magnitude — hundreds of ulp, far
    # below any legitimate feature size in the corpus).
    originals: set = set()
    for _side, _kind, pts in chains:
        originals.update(map(tuple, np.asarray(pts, dtype=np.float64).tolist()))
    computed: set = set()
    for sp in splits:
        for cuts in sp.values():
            for _t, pt in cuts:
                computed.add(pt)
    computed -= originals
    remap: dict[tuple, tuple] = {}
    if computed:
        scale = 1.0
        for _side, _kind, pts in chains:
            scale = max(scale, float(np.abs(pts).max()))
        eps = 1e-13 * scale
        allpts = sorted(originals | computed)  # originals first on ties
        by_x = allpts  # sorted by (x, y)
        import bisect

        xs = [p[0] for p in by_x]
        for p in computed:
            lo = bisect.bisect_left(xs, p[0] - eps)
            hi = bisect.bisect_right(xs, p[0] + eps)
            best = None
            for q in by_x[lo:hi]:
                if q == p or abs(q[1] - p[1]) > eps:
                    continue
                # prefer original vertices as canonical representatives
                if q in originals:
                    best = q
                    break
                if best is None and q < p:
                    best = q
            if best is not None:
                remap[p] = best

    def canon(p: tuple) -> tuple:
        return remap.get(p, p)

    if remap:
        node_points = {canon(p) for p in node_points}

    edges = []  # (u, v, side, kind, chain_id)
    for ci, (side, kind, pts) in enumerate(chains):
        ptt = list(map(tuple, np.asarray(pts, dtype=np.float64).tolist()))
        node_points.add(ptt[0])
        node_points.add(ptt[-1])
        sp = splits[ci]
        if not sp:
            # fast path (the overwhelming majority of chains): no splits —
            # emit per-segment edges straight off the vertex tuples
            edges.extend(
                (ptt[i], ptt[i + 1], side, kind, ci)
                for i in range(len(ptt) - 1) if ptt[i] != ptt[i + 1]
            )
            continue
        for i in range(len(ptt) - 1):
            p1 = ptt[i]
            p2 = ptt[i + 1]
            cuts = sp.get(i)
            if not cuts:
                if p1 != p2:
                    edges.append((p1, p2, side, kind, ci))
                continue
            verts = [p1] + [canon(pt) for _, pt in sorted(cuts)] + [p2]
            for k in range(len(verts) - 1):
                if verts[k] != verts[k + 1]:
                    edges.append((verts[k], verts[k + 1], side, kind, ci))
    return edges, node_points


# ---------------------------------------------------------------------------
# edge classification + selection
# ---------------------------------------------------------------------------

class _Edge:
    __slots__ = ("u", "v", "a_dir", "b_dir", "a_line", "b_line", "loc_a", "loc_b")

    def __init__(self, u, v):
        self.u = u
        self.v = v
        self.a_dir = 0   # ring membership of side A: +1 fwd, -1 rev, ±2 both
        self.b_dir = 0
        self.a_line = False
        self.b_line = False
        self.loc_a = None  # midpoint location vs side A areas
        self.loc_b = None


def _edge_key(u, v):
    return (u, v) if u <= v else (v, u)


def _collect_edges(a: _Input, b: _Input):
    raw, node_points = _node_chains([(0, a), (1, b)])
    emap: dict[tuple, _Edge] = {}
    for u, v, side, kind, _ci in raw:
        key = _edge_key(u, v)
        e = emap.get(key)
        if e is None:
            e = _Edge(key[0], key[1])
            emap[key] = e
        fwd = 1 if (u, v) == key else -1
        if side == 0:
            if kind == "ring":
                e.a_dir = fwd if e.a_dir == 0 else (2 if e.a_dir != fwd else e.a_dir)
            else:
                e.a_line = True
        else:
            if kind == "ring":
                e.b_dir = fwd if e.b_dir == 0 else (2 if e.b_dir != fwd else e.b_dir)
            else:
                e.b_line = True
    # classify midpoints against the OTHER side's areas — batched: ALL
    # midpoints needing a side locate in one matrix pass per side
    edges = list(emap.values())
    mx = np.array([(e.u[0] + e.v[0]) * 0.5 for e in edges])
    my = np.array([(e.u[1] + e.v[1]) * 0.5 for e in edges])
    need_b: list[int] = []
    need_a: list[int] = []
    for i, e in enumerate(edges):
        if e.a_dir or e.a_line:
            if e.b_dir:
                e.loc_b = BOUNDARY
            else:
                need_b.append(i)
        if e.b_dir or e.b_line:
            if e.a_dir:
                e.loc_a = BOUNDARY
            else:
                need_a.append(i)
    if need_b:
        locs = b.locate_areal_batch(mx[need_b], my[need_b])
        for i, loc in zip(need_b, locs):
            edges[i].loc_b = int(loc)
    if need_a:
        locs = a.locate_areal_batch(mx[need_a], my[need_a])
        for i, loc in zip(need_a, locs):
            edges[i].loc_a = int(loc)
    return emap, raw, node_points


def _assemble_lines(raw, node_points, want) -> list[np.ndarray]:
    """Result lines: per-chain runs of selected sub-edges, broken at node
    points, never merged across chains; shared edges emitted once
    (OverlayNG LineBuilder node-to-node edges)."""
    consumed: set = set()
    out: list[np.ndarray] = []
    run: list = []
    cur_chain = None

    def flush():
        nonlocal run
        if len(run) >= 2:
            out.append(np.array(run, dtype=np.float64))
        run = []

    for u, v, side, kind, ci in raw:
        key = _edge_key(u, v)
        if ci != cur_chain:
            flush()
            cur_chain = ci
        if key in consumed or not want(key):
            flush()
            continue
        consumed.add(key)
        if run and run[-1] != u:
            flush()
        if not run:
            run = [u, v]
        else:
            run.append(v)
        if v in node_points:
            flush()
    flush()
    return out


def _select_area_edges(emap, op: str):
    """Directed result-boundary edges (interior on the left) + residual
    collinear line pieces for the intersection op."""
    out = []        # directed edges (u → v)
    lines = []      # undirected residual 1-dim pieces
    for e in emap.values():
        a_on = e.a_dir != 0
        b_on = e.b_dir != 0
        if a_on and b_on:
            same = (e.a_dir == e.b_dir) or e.a_dir == 2 or e.b_dir == 2
            if op == INTERSECTION:
                if same:
                    out.append(_directed(e, e.a_dir if e.a_dir != 2 else e.b_dir))
                else:
                    lines.append((e.u, e.v))
            elif op == UNION:
                if same:
                    out.append(_directed(e, e.a_dir if e.a_dir != 2 else e.b_dir))
                # opposite-direction shared edges are interior to the union
            elif op == DIFFERENCE:
                if not same:
                    out.append(_directed(e, e.a_dir))
            # SYMDIFFERENCE: shared edges never bound the result —
            # same-direction borders A∩B (excluded) and exterior;
            # opposite-direction has result interior on both sides
        elif a_on:
            keep = {
                INTERSECTION: e.loc_b == INTERIOR,
                UNION: e.loc_b == EXTERIOR,
                DIFFERENCE: e.loc_b == EXTERIOR,
                SYMDIFFERENCE: e.loc_b in (EXTERIOR, INTERIOR),
            }[op]
            if keep:
                d = e.a_dir
                if op == SYMDIFFERENCE and e.loc_b == INTERIOR:
                    d = -d
                out.append(_directed(e, d))
        elif b_on:
            keep = {
                INTERSECTION: e.loc_a == INTERIOR,
                UNION: e.loc_a == EXTERIOR,
                DIFFERENCE: e.loc_a == INTERIOR,
                SYMDIFFERENCE: e.loc_a in (EXTERIOR, INTERIOR),
            }[op]
            if keep:
                d = e.b_dir
                if op in (DIFFERENCE, SYMDIFFERENCE) and e.loc_a == INTERIOR:
                    d = -d
                out.append(_directed(e, d))
    return out, lines


def _directed(e: _Edge, d: int):
    return (e.u, e.v) if d >= 0 else (e.v, e.u)


# ---------------------------------------------------------------------------
# ring assembly
# ---------------------------------------------------------------------------

def _assemble_rings(directed_edges):
    """Walk faces with interior on the left: at each node continue with the
    outgoing edge that is clockwise-closest to the reverse of the incoming
    direction (OverlayNG MaximalEdgeRing linking analog)."""
    out_map: dict[tuple, list] = {}
    for u, v in directed_edges:
        out_map.setdefault(u, []).append((u, v))
    for node, lst in out_map.items():
        lst.sort(key=lambda ed: math.atan2(ed[1][1] - ed[0][1], ed[1][0] - ed[0][0]))
    used = set()
    rings = []
    for start in directed_edges:
        if start in used:
            continue
        ring = [start[0]]
        cur = start
        ok = True
        while True:
            used.add(cur)
            ring.append(cur[1])
            nxt = _next_edge(out_map, cur)
            if nxt is None:
                ok = False
                break
            if nxt == start:
                break  # face closed
            if nxt in used:
                ok = False
                break
            cur = nxt
        if ok and len(ring) >= 4 and ring[0] == ring[-1]:
            # split self-touching maximal rings into minimal rings at
            # repeated nodes (OverlayNG MaximalEdgeRing → minimal rings)
            rings.extend(_split_minimal(ring))
    return rings


def _split_minimal(ring: list) -> list[np.ndarray]:
    out = []
    path: list = []
    index: dict = {}
    for v in ring[:-1]:
        if v in index:
            i = index[v]
            loop = path[i:] + [v]
            if len(loop) >= 4:
                out.append(np.array(loop, dtype=np.float64))
            for w in path[i + 1 :]:
                index.pop(w, None)
            del path[i + 1 :]
        else:
            index[v] = len(path)
            path.append(v)
    if len(path) >= 3:
        out.append(np.array(path + [path[0]], dtype=np.float64))
    return out


def _next_edge(out_map, incoming):
    u, v = incoming
    cands = out_map.get(v)
    if not cands:
        return None
    # angle of reversed incoming direction at node v
    back = math.atan2(u[1] - v[1], u[0] - v[0])
    # choose outgoing with angle closest BELOW back (rotating clockwise)
    best = None
    best_delta = None
    for ed in cands:
        ang = math.atan2(ed[1][1] - ed[0][1], ed[1][0] - ed[0][0])
        delta = (back - ang) % (2 * math.pi)
        if delta == 0.0:
            delta = 2 * math.pi  # never go straight back unless forced
        if best_delta is None or delta < best_delta:
            best_delta = delta
            best = ed
    return best


def _rings_to_polygons(rings) -> list[Geom]:
    """CCW rings = shells, CW = holes; holes assigned to smallest container."""
    shells = []
    holes = []
    for r in rings:
        (shells if is_ccw(r) else holes).append(r)
    polys = [{"shell": s, "holes": [], "prep": PreparedPolygon(Geom(POLYGON, rings=[s]))} for s in shells]
    # sort candidate shells by area so the smallest container wins
    from .measures import _ring_signed_area2

    for h in holes:
        # pick an interior-ish probe: midpoint of first edge nudged? use a vertex
        # then fall back over vertices until containment is decisive
        best = None
        best_area = None
        for p in polys:
            loc = p["prep"].locate(h[:-1, 0], h[:-1, 1])
            if (loc != EXTERIOR).all() and (loc == INTERIOR).any():
                area = abs(_ring_signed_area2(p["shell"]))
                if best is None or area < best_area:
                    best = p
                    best_area = area
        if best is not None:
            best["holes"].append(h)  # orientation immaterial (normalize on compare)
    out = []
    for p in polys:
        rings_out = [p["shell"]] + p["holes"]
        out.append(Geom(POLYGON, rings=rings_out))
    return out


# ---------------------------------------------------------------------------
# line merging (maximal chains through degree-2 nodes)
# ---------------------------------------------------------------------------

def merge_lines(segments) -> list[np.ndarray]:
    """Merge undirected segments into maximal polylines (LineMerger.cs)."""
    adj: dict[tuple, list] = {}
    for u, v in segments:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    unused = set()
    for u, v in segments:
        unused.add((u, v) if u <= v else (v, u))

    def take(u, v):
        unused.discard((u, v) if u <= v else (v, u))

    lines = []
    # start at nodes with degree != 2 first, then cycles
    starts = [n for n, nbrs in adj.items() if len(nbrs) != 2]
    for phase in (0, 1):
        nodes = starts if phase == 0 else list(adj.keys())
        for n in nodes:
            for nb in list(adj.get(n, ())):
                key = (n, nb) if n <= nb else (nb, n)
                if key not in unused:
                    continue
                chain = [n, nb]
                take(n, nb)
                cur, prev = nb, n
                while True:
                    nbrs = adj.get(cur, ())
                    if len(nbrs) != 2:
                        break
                    nxt = nbrs[0] if nbrs[0] != prev else nbrs[1]
                    key2 = (cur, nxt) if cur <= nxt else (nxt, cur)
                    if key2 not in unused:
                        break
                    chain.append(nxt)
                    take(cur, nxt)
                    prev, cur = cur, nxt
                lines.append(np.array(chain, dtype=np.float64))
    return lines


# ---------------------------------------------------------------------------
# result building
# ---------------------------------------------------------------------------

def build_geometry(parts: list[Geom], empty_dim: int = -1) -> Geom:
    parts = [p for p in parts if p is not None and not p.is_empty]
    if not parts:
        if empty_dim == 0:
            return Geom(POINT, coords=np.empty((0, 2)))
        if empty_dim == 1:
            return Geom(LINESTRING, coords=np.empty((0, 2)))
        if empty_dim == 2:
            return Geom(POLYGON)
        return Geom(GEOMETRYCOLLECTION)
    if len(parts) == 1:
        return parts[0]
    types = {p.gtype for p in parts}
    if types == {POINT}:
        return Geom(MULTIPOINT, parts=parts)
    if types == {LINESTRING}:
        return Geom(MULTILINESTRING, parts=parts)
    if types == {POLYGON}:
        return Geom(MULTIPOLYGON, parts=parts)
    return Geom(GEOMETRYCOLLECTION, parts=parts)


def _result_dim(op: str, da: int, db: int) -> int:
    if op == INTERSECTION:
        return min(da, db)
    if op == UNION or op == SYMDIFFERENCE:
        return max(da, db)
    return da


def overlay(ga: Geom, gb: Geom, op: str) -> Geom:
    op = op.lower()
    # large-input clipping for bounded-result ops (OverlayNG's RingClipper /
    # RobustClipEnvelopeComputer optimization): intersection of a 100k-vertex
    # geometry with a small one nodes only the local linework
    if op in (INTERSECTION, DIFFERENCE):
        from .clip import maybe_clip_inputs

        ga, gb = maybe_clip_inputs(ga, gb, op)
    a = _Input(ga)
    b = _Input(gb)
    # result dimension uses TYPE-based dims so empty inputs type correctly
    # (OverlayUtil.ResultDimension / CreateEmptyResult); dimension -1 of an
    # empty GeometryCollection propagates → GEOMETRYCOLLECTION EMPTY
    da = ga.dimension()
    db = gb.dimension()
    empty_dim = _result_dim(op, da, db)
    if a.dim < 0 and b.dim < 0:
        return build_geometry([], empty_dim)
    if a.dim < 0:
        if op in (INTERSECTION, DIFFERENCE):
            return build_geometry([], empty_dim)
        return build_geometry(_copy_parts(gb), empty_dim)
    if b.dim < 0:
        if op == INTERSECTION:
            return build_geometry([], empty_dim)
        return build_geometry(_copy_parts(ga), empty_dim)

    emap, raw, node_points = _collect_edges(a, b)

    polys: list[Geom] = []
    line_parts: list[np.ndarray] = []
    point_parts: list[tuple[float, float]] = []

    has_area = a.areas or b.areas
    if has_area:
        directed, resid_lines = _select_area_edges(emap, op)
        rings = _assemble_rings(directed)
        polys = _rings_to_polygons(rings)
        covered = _coverage_of(polys)
        resid_keys = (
            {_edge_key(u, v) for u, v in resid_lines} if op == INTERSECTION else set()
        )

        def want_line(key):
            """Auxiliary 1-dim components (collapse linework / GC lines)
            carried through the area×area op with point-set semantics."""
            if key in resid_keys:
                return True
            e = emap[key]
            if not (e.a_line or e.b_line):
                return False
            on_a = bool(e.a_line or e.a_dir)
            on_b = bool(e.b_line or e.b_dir)
            in_b = on_b or (e.loc_b in (INTERIOR, BOUNDARY))
            in_a = on_a or (e.loc_a in (INTERIOR, BOUNDARY))
            if op == INTERSECTION:
                return on_a and on_b or (on_a and in_b) or (on_b and in_a)
            if op == UNION:
                return True
            if op == DIFFERENCE:
                return on_a and not in_b
            return (on_a and not in_b) or (on_b and not in_a)  # symdifference

        pieces = _assemble_lines(raw, node_points, want_line)
        for l in pieces:
            mx = (l[0] + l[1]) * 0.5
            if not _seg_covered(((mx[0], mx[1]), (mx[0], mx[1])), covered):
                line_parts.append(l)
        if op == INTERSECTION:
            point_parts.extend(_touch_points(emap, a, b, polys, line_parts))
    else:
        polys, line_parts, point_parts = _lineal_overlay(
            emap, raw, node_points, a, b, op
        )

    parts: list[Geom] = list(polys)
    parts.extend(Geom(LINESTRING, coords=l) for l in line_parts if len(l) >= 2)
    parts.extend(
        Geom(POINT, coords=np.array([[x, y]], dtype=np.float64)) for x, y in point_parts
    )
    # isolated input points participate in every op
    parts.extend(_point_results(a, b, op, parts))
    return build_geometry(parts, empty_dim)


def _copy_parts(g: Geom) -> list[Geom]:
    return [p for p in g.flatten()]


def _coverage_of(polys: list[Geom]):
    return [PreparedPolygon(p) for p in polys]


def _seg_covered(seg, coverage) -> bool:
    mx = (seg[0][0] + seg[1][0]) * 0.5
    my = (seg[0][1] + seg[1][1]) * 0.5
    for pp in coverage:
        if int(pp.locate(np.array([mx]), np.array([my]))[0]) != EXTERIOR:
            return True
    return False


def _touch_points(emap, a, b, polys, line_parts):
    """Isolated boundary-touch nodes for area×area intersection."""
    # nodes where both boundaries pass but no result edge/line covers
    node_sides: dict[tuple, set] = {}
    for e in emap.values():
        for n in (e.u, e.v):
            s = node_sides.setdefault(n, set())
            if e.a_dir or e.a_line:
                s.add("a")
            if e.b_dir or e.b_line:
                s.add("b")
    cand = [n for n, s in node_sides.items() if {"a", "b"} <= s]
    cover = _coverage_of(polys)
    out = []
    for n in cand:
        x, y = n
        covered = any(
            int(pp.locate(np.array([x]), np.array([y]))[0]) != EXTERIOR for pp in cover
        )
        if not covered:
            covered = any(_on_polyline(x, y, l) for l in line_parts)
        if not covered:
            out.append(n)
    return sorted(set(out))


def _lineal_overlay(emap, raw, node_points, a: _Input, b: _Input, op: str):
    """Both sides lineal (or puntal handled separately)."""
    point_parts: list[tuple[float, float]] = []

    def want(key):
        e = emap[key]
        on_a = e.a_line or e.a_dir
        on_b = e.b_line or e.b_dir
        return {
            INTERSECTION: bool(on_a and on_b),
            UNION: True,
            DIFFERENCE: bool(on_a and not on_b),
            SYMDIFFERENCE: bool(on_a) != bool(on_b),
        }[op]

    line_parts = _assemble_lines(raw, node_points, want)
    if op == INTERSECTION:
        # isolated crossing/touch points not covered by shared segments
        nodes_a = set()
        nodes_b = set()
        for e in emap.values():
            tgt = [nodes_a] if (e.a_line or e.a_dir) else []
            if e.b_line or e.b_dir:
                tgt.append(nodes_b)
            for n in (e.u, e.v):
                for t in tgt:
                    t.add(n)
        shared_nodes = nodes_a & nodes_b
        for n in sorted(shared_nodes):
            if not any(_on_polyline(n[0], n[1], l) for l in line_parts):
                point_parts.append(n)
    return [], line_parts, point_parts


def _point_results(a: _Input, b: _Input, op: str, existing_parts) -> list[Geom]:
    """Contributions of isolated point features."""
    out = []

    def covered_by_existing(x, y):
        for p in existing_parts:
            if p.gtype == POLYGON:
                if int(PreparedPolygon(p).locate(np.array([x]), np.array([y]))[0]) != EXTERIOR:
                    return True
            elif p.gtype == LINESTRING and _on_polyline(x, y, p.coords):
                return True
            elif p.gtype == POINT and p.coords is not None and len(p.coords):
                if p.coords[0, 0] == x and p.coords[0, 1] == y:
                    return True
        return False

    for x, y in a.points:
        loc_b = b.locate_full(x, y)
        keep = {
            INTERSECTION: loc_b != EXTERIOR,
            UNION: True,
            DIFFERENCE: loc_b == EXTERIOR,
            SYMDIFFERENCE: loc_b == EXTERIOR,
        }[op]
        if keep and not covered_by_existing(x, y):
            out.append(Geom(POINT, coords=np.array([[x, y]], dtype=np.float64)))
    for x, y in b.points:
        loc_a = a.locate_full(x, y)
        keep = {
            INTERSECTION: loc_a != EXTERIOR,
            UNION: True,
            DIFFERENCE: False,
            SYMDIFFERENCE: loc_a == EXTERIOR,
        }[op]
        if keep and not covered_by_existing(x, y) and not any(
            p.gtype == POINT and p.coords[0, 0] == x and p.coords[0, 1] == y for p in out
        ):
            out.append(Geom(POINT, coords=np.array([[x, y]], dtype=np.float64)))
    return out
