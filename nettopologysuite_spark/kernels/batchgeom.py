"""Columnar geometry batches + vectorized pairwise ``intersects``.

The refine phase of the distributed joins produces candidate pairs
(left geometry × right geometry). Evaluating them pair-by-pair in Python is
the classic UDF anti-pattern; this module evaluates ALL candidates of one
right geometry in whole-array numpy passes:

  intersects(A, B)  =  any vertex of A in/on B
                     ∨ any vertex of B in/on A
                     ∨ any segment of A touches/crosses any segment of B

which is exact for every point/line/polygon(/multi) combination: if the two
boundaries meet, the segment test fires (proper crossings and endpoint
touches both, ``Algorithm/RobustLineIntersector.cs`` case analysis); if they
do not meet, each connected component of one lies wholly inside or wholly
outside the other, so its vertices decide membership. This batches the same
short-circuit structure as the reference's prepared predicates
(``Geometries/Prepared/PreparedPolygonIntersects.cs:38-60``: PIP first,
then segment intersection).

``GeomBatch.from_wkb`` fills UNIFORM simple WKB batches (same-layout
little-endian points / linestrings / single-ring polygons — the shape
synthetic tiles and rects take) from ``geom.uniform_wkb_coords``, zero
per-row Python; every other batch takes the per-row parser.

The join refines call one entry point, ``batch_predicate``: it batches
intersects, covers, contains, touches and crosses in these passes (the
covers, interior/interior and line-probe compositions) and leaves every
other predicate, and mixed or ambiguous rows, to the exact relate kernel.
"""

from __future__ import annotations

import numpy as np

from .geom import (
    LINESTRING,
    MULTIPOLYGON,
    POINT,
    POLYGON,
    Geom,
    uniform_wkb_coords,
    wkb_loads,
)
from .pip import EXTERIOR, PreparedPolygon

_SEG_CHUNK = 1 << 18  # bound pairwise-matrix memory (entries per chunk)


def _ranges_concat(starts: np.ndarray, counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized concatenation of integer ranges.

    Returns (idx, owner): idx = concat(arange(starts[i], starts[i]+counts[i]))
    and owner[j] = i for every element drawn from range i.
    """
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    owner = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    shift = np.concatenate(([0], counts[:-1])).cumsum()
    idx = np.repeat(starts - shift, counts) + np.arange(total, dtype=np.int64)
    return idx, owner


class GeomBatch:
    """Columnar decomposition of a batch of geometries.

    Parallel arrays (all float64 / int64):
      vx, vy           all vertices;     v_start (n+1) row offsets
      sax..sby         ALL segments (linestring parts + polygon rings);
                       s_start (n+1)
      pax..pby         polygon-ring segments only (even-odd area test);
                       p_start (n+1); p_leaf labels each segment with its
                       POLYGON LEAF id — parity is evaluated PER LEAF and
                       OR-ed (even-odd across a whole multipolygon would
                       cancel on overlapping parts)
    """

    __slots__ = ("n", "vx", "vy", "v_start", "sax", "say", "sbx", "sby",
                 "s_start", "pax", "pay", "pbx", "pby", "p_start", "p_leaf",
                 "pure_poly", "pure_line")

    def __init__(self, geoms: list[Geom | None]):
        n = len(geoms)
        self.n = n
        self.pure_poly = np.zeros(n, dtype=bool)
        self.pure_line = np.zeros(n, dtype=bool)
        v_chunks: list[np.ndarray] = []
        s_a: list[np.ndarray] = []
        s_b: list[np.ndarray] = []
        p_a: list[np.ndarray] = []
        p_b: list[np.ndarray] = []
        p_leaf_chunks: list[np.ndarray] = []
        v_start = np.zeros(n + 1, dtype=np.int64)
        s_start = np.zeros(n + 1, dtype=np.int64)
        p_start = np.zeros(n + 1, dtype=np.int64)
        nv = ns = npg = 0
        leaf_ctr = 0
        for i, g in enumerate(geoms):
            if g is not None and not g.is_empty:
                leaves = g.flatten()
                self.pure_poly[i] = all(l.gtype == POLYGON for l in leaves)
                self.pure_line[i] = all(l.gtype == LINESTRING for l in leaves)
                for leaf in leaves:
                    if leaf.gtype == POINT or leaf.gtype == LINESTRING:
                        c = leaf.coords
                        if c is None or len(c) == 0:
                            continue
                        v_chunks.append(c)
                        nv += len(c)
                        if leaf.gtype == LINESTRING and len(c) >= 2:
                            s_a.append(c[:-1]); s_b.append(c[1:])
                            ns += len(c) - 1
                    elif leaf.gtype == POLYGON:
                        for r in leaf.rings:
                            if len(r) == 0:
                                continue
                            v_chunks.append(r)
                            nv += len(r)
                            if len(r) >= 2:
                                s_a.append(r[:-1]); s_b.append(r[1:])
                                p_a.append(r[:-1]); p_b.append(r[1:])
                                p_leaf_chunks.append(
                                    np.full(len(r) - 1, leaf_ctr, dtype=np.int64)
                                )
                                ns += len(r) - 1
                                npg += len(r) - 1
                        leaf_ctr += 1
            v_start[i + 1] = nv
            s_start[i + 1] = ns
            p_start[i + 1] = npg

        def _cat(chunks, col):
            if not chunks:
                return np.empty(0, dtype=np.float64)
            return np.ascontiguousarray(np.concatenate(chunks)[:, col], dtype=np.float64)

        self.vx = _cat(v_chunks, 0); self.vy = _cat(v_chunks, 1)
        self.sax = _cat(s_a, 0); self.say = _cat(s_a, 1)
        self.sbx = _cat(s_b, 0); self.sby = _cat(s_b, 1)
        self.pax = _cat(p_a, 0); self.pay = _cat(p_a, 1)
        self.pbx = _cat(p_b, 0); self.pby = _cat(p_b, 1)
        self.p_leaf = (
            np.concatenate(p_leaf_chunks) if p_leaf_chunks
            else np.empty(0, dtype=np.int64)
        )
        self.v_start = v_start
        self.s_start = s_start
        self.p_start = p_start

    # -- constructors ------------------------------------------------------
    @classmethod
    def from_wkb(cls, blobs) -> "GeomBatch":
        """Decode a batch of WKB blobs; uniform simple batches
        (``uniform_wkb_coords``) fill the arrays from one decoded buffer,
        everything else takes the per-row parser."""
        uniform = uniform_wkb_coords(blobs)
        if uniform is None:
            return cls([wkb_loads(bytes(b)) if b else None for b in blobs])
        return cls._fill_uniform(*uniform)

    @classmethod
    def _fill_uniform(cls, gtype: int, xy: np.ndarray) -> "GeomBatch":
        n, npts, _ = xy.shape
        out = cls.__new__(cls)
        out.n = n
        out.vx = np.ascontiguousarray(xy[:, :, 0].reshape(-1))
        out.vy = np.ascontiguousarray(xy[:, :, 1].reshape(-1))
        out.v_start = np.arange(n + 1, dtype=np.int64) * npts
        out.sax = np.ascontiguousarray(xy[:, :-1, 0].reshape(-1))
        out.say = np.ascontiguousarray(xy[:, :-1, 1].reshape(-1))
        out.sbx = np.ascontiguousarray(xy[:, 1:, 0].reshape(-1))
        out.sby = np.ascontiguousarray(xy[:, 1:, 1].reshape(-1))
        out.s_start = np.arange(n + 1, dtype=np.int64) * (npts - 1)
        if gtype == POLYGON:
            out.pax, out.pay = out.sax, out.say
            out.pbx, out.pby = out.sbx, out.sby
            out.p_start = out.s_start
            out.p_leaf = np.repeat(np.arange(n, dtype=np.int64), npts - 1)
            out.pure_poly = np.ones(n, dtype=bool)
            out.pure_line = np.zeros(n, dtype=bool)
        else:
            z = np.empty(0, dtype=np.float64)
            out.pax = out.pay = out.pbx = out.pby = z
            out.p_start = np.zeros(n + 1, dtype=np.int64)
            out.p_leaf = np.empty(0, dtype=np.int64)
            out.pure_poly = np.zeros(n, dtype=bool)
            out.pure_line = np.full(n, gtype == LINESTRING)
        return out


class PreparedRight:
    """Build-once probe side for batch_intersects (one right geometry)."""

    __slots__ = ("geom", "preps", "rvx", "rvy", "rax", "ray", "rbx", "rby",
                 "lnax", "lnay", "lnbx", "lnby", "point_xy", "empty",
                 "pure_poly", "pgax", "pgay", "pgbx", "pgby")

    def __init__(self, g: Geom):
        self.geom = g
        self.empty = g.is_empty
        leaves = [] if self.empty else g.flatten()
        self.preps = [
            PreparedPolygon(l) for l in leaves if l.gtype in (POLYGON, MULTIPOLYGON)
        ]
        self.pure_poly = bool(leaves) and all(l.gtype == POLYGON for l in leaves)
        c = g.all_coords() if not self.empty else np.empty((0, 2))
        self.rvx = np.ascontiguousarray(c[:, 0]) if len(c) else np.empty(0)
        self.rvy = np.ascontiguousarray(c[:, 1]) if len(c) else np.empty(0)
        a_, b_ = [], []
        la_, lb_ = [], []  # LINE-part segments only (see pass-1 note)
        pa_, pb_ = [], []  # polygon-RING segments only (DE-9IM passes)
        for leaf in leaves:
            if leaf.gtype == LINESTRING and leaf.coords is not None and len(leaf.coords) >= 2:
                a_.append(leaf.coords[:-1]); b_.append(leaf.coords[1:])
                la_.append(leaf.coords[:-1]); lb_.append(leaf.coords[1:])
            elif leaf.gtype == POLYGON:
                for r in leaf.rings:
                    if len(r) >= 2:
                        a_.append(r[:-1]); b_.append(r[1:])
                        pa_.append(r[:-1]); pb_.append(r[1:])
        z = np.empty(0, dtype=np.float64)
        if a_:
            a = np.concatenate(a_); b = np.concatenate(b_)
            self.rax = np.ascontiguousarray(a[:, 0]); self.ray = np.ascontiguousarray(a[:, 1])
            self.rbx = np.ascontiguousarray(b[:, 0]); self.rby = np.ascontiguousarray(b[:, 1])
        else:
            self.rax = self.ray = self.rbx = self.rby = z
        if la_:
            a = np.concatenate(la_); b = np.concatenate(lb_)
            self.lnax = np.ascontiguousarray(a[:, 0]); self.lnay = np.ascontiguousarray(a[:, 1])
            self.lnbx = np.ascontiguousarray(b[:, 0]); self.lnby = np.ascontiguousarray(b[:, 1])
        else:
            self.lnax = self.lnay = self.lnbx = self.lnby = z
        if pa_:
            a = np.concatenate(pa_); b = np.concatenate(pb_)
            self.pgax = np.ascontiguousarray(a[:, 0]); self.pgay = np.ascontiguousarray(a[:, 1])
            self.pgbx = np.ascontiguousarray(b[:, 0]); self.pgby = np.ascontiguousarray(b[:, 1])
        else:
            self.pgax = self.pgay = self.pgbx = self.pgby = z
        self.point_xy = np.array(
            [l.coords[0] for l in leaves
             if l.gtype == POINT and l.coords is not None and len(l.coords)],
            dtype=np.float64,
        ).reshape(-1, 2)


def _on_seg_any(qx, qy, x1, y1, x2, y2):
    """(nq,) bool: query point lies on ANY of the segments. Chunked."""
    nq, ns = len(qx), len(x1)
    out = np.zeros(nq, dtype=bool)
    if nq == 0 or ns == 0:
        return out
    step = max(1, _SEG_CHUNK // max(ns, 1))
    for s in range(0, nq, step):
        ax = qx[s:s + step][:, None]; ay = qy[s:s + step][:, None]
        d = (x2 - x1)[None, :] * (ay - y1[None, :]) - (y2 - y1)[None, :] * (ax - x1[None, :])
        on = (
            (d == 0.0)
            & (ax >= np.minimum(x1, x2)[None, :]) & (ax <= np.maximum(x1, x2)[None, :])
            & (ay >= np.minimum(y1, y2)[None, :]) & (ay <= np.maximum(y1, y2)[None, :])
        )
        out[s:s + step] = on.any(axis=1)
    return out


def batch_intersects(gb: GeomBatch, lefts: np.ndarray, right: Geom | PreparedRight) -> np.ndarray:
    """Vectorized intersects(left_i, right) for every left index in ``lefts``.

    ``lefts`` may contain repeats (candidate pairs keep their order); the
    result aligns with ``lefts``. All passes are whole-array numpy — no
    per-pair Python.
    """
    pr = right if isinstance(right, PreparedRight) else PreparedRight(right)
    nl = len(lefts)
    res = np.zeros(nl, dtype=bool)
    if nl == 0 or pr.empty:
        return res
    lefts = np.asarray(lefts, dtype=np.int64)

    # ---- pass 1: any left vertex in/on right --------------------------------
    vcnt = gb.v_start[lefts + 1] - gb.v_start[lefts]
    vidx, vowner = _ranges_concat(gb.v_start[lefts], vcnt)
    if len(vidx):
        lvx = gb.vx[vidx]; lvy = gb.vy[vidx]
        cov = np.zeros(len(vidx), dtype=bool)
        for prep in pr.preps:
            cov |= prep.locate(lvx, lvy) != EXTERIOR
        if len(pr.rax) and not pr.preps:
            # right is lines-only: vertex-on-right-segment
            cov |= _on_seg_any(lvx, lvy, pr.rax, pr.ray, pr.rbx, pr.rby)
        elif len(pr.lnax):
            # mixed right (polygon + line parts): the prepared-polygon test
            # above missed line parts, and pass 3 only sees SEGMENT-bearing
            # left leaves — a point leaf inside a collection contributes no
            # segment, so every vertex must probe the right's LINE segments
            cov |= _on_seg_any(lvx, lvy, pr.lnax, pr.lnay, pr.lnbx, pr.lnby)
        for px, py in pr.point_xy:
            cov |= (lvx == px) & (lvy == py)
        res[vowner[cov]] = True

    # ---- pass 2: any right vertex in/on left --------------------------------
    pend = ~res
    if pend.any() and len(pr.rvx):
        sub = np.flatnonzero(pend)
        ls = lefts[sub]
        # 2a. right vertex ON any left segment (all segments, any dimension)
        scnt = gb.s_start[ls + 1] - gb.s_start[ls]
        sidx, sowner = _ranges_concat(gb.s_start[ls], scnt)
        if len(sidx):
            x1 = gb.sax[sidx]; y1 = gb.say[sidx]
            x2 = gb.sbx[sidx]; y2 = gb.sby[sidx]
            hit_seg = np.zeros(len(sidx), dtype=bool)
            for qx, qy in zip(pr.rvx, pr.rvy):
                d = (x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1)
                hit_seg |= (
                    (d == 0.0)
                    & (qx >= np.minimum(x1, x2)) & (qx <= np.maximum(x1, x2))
                    & (qy >= np.minimum(y1, y2)) & (qy <= np.maximum(y1, y2))
                )
            res[sub[np.unique(sowner[hit_seg])]] = True
        # 2b. right vertex strictly inside a polygonal left: even-odd parity
        #     PER POLYGON LEAF, OR-ed across leaves — global parity over a
        #     multi-part left would cancel on overlapping parts
        pend2 = ~res
        sub2 = np.flatnonzero(pend2)
        ls2 = lefts[sub2]
        pcnt = gb.p_start[ls2 + 1] - gb.p_start[ls2]
        pidx, powner = _ranges_concat(gb.p_start[ls2], pcnt)
        if len(pidx):
            x1 = gb.pax[pidx]; y1 = gb.pay[pidx]
            x2 = gb.pbx[pidx]; y2 = gb.pby[pidx]
            # parity keyed by (owner, leaf) — a repeated left index in
            # ``lefts`` puts the same leaf under two owners, so the leaf
            # result propagates back through its segments per owner
            okey = powner * np.int64(gb.p_leaf.max() + 1 if len(gb.p_leaf) else 1) \
                + gb.p_leaf[pidx]
            ukey, key_inv = np.unique(okey, return_inverse=True)
            inside_any = np.zeros(len(ukey), dtype=bool)
            with np.errstate(divide="ignore", invalid="ignore"):
                for qx, qy in zip(pr.rvx, pr.rvy):
                    straddle = (y1 > qy) != (y2 > qy)
                    xint = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
                    crossed = straddle & (qx < xint)
                    cnt = np.bincount(key_inv[crossed], minlength=len(ukey))
                    inside_any |= (cnt & 1).astype(bool)
            seg_inside = inside_any[key_inv]
            res[sub2[np.unique(powner[seg_inside])]] = True

    # 2c. left vertex parity is covered by pass 1 (PreparedPolygon);
    #     lines/points have no interior to test.

    # ---- pass 3: segment × segment touch/cross ------------------------------
    pend = ~res
    if pend.any() and len(pr.rax):
        sub = np.flatnonzero(pend)
        ls = lefts[sub]
        scnt = gb.s_start[ls + 1] - gb.s_start[ls]
        sidx, sowner = _ranges_concat(gb.s_start[ls], scnt)
        if len(sidx):
            ax1 = gb.sax[sidx]; ay1 = gb.say[sidx]
            ax2 = gb.sbx[sidx]; ay2 = gb.sby[sidx]
            bx1 = pr.rax; by1 = pr.ray; bx2 = pr.rbx; by2 = pr.rby
            nrs = len(bx1)
            step = max(1, _SEG_CHUNK // nrs)
            touch_seg = np.zeros(len(sidx), dtype=bool)
            for s in range(0, len(sidx), step):
                sl = slice(s, s + step)
                A1x = ax1[sl][:, None]; A1y = ay1[sl][:, None]
                A2x = ax2[sl][:, None]; A2y = ay2[sl][:, None]
                B1x = bx1[None, :]; B1y = by1[None, :]
                B2x = bx2[None, :]; B2y = by2[None, :]
                d1 = (B2x - B1x) * (A1y - B1y) - (B2y - B1y) * (A1x - B1x)
                d2 = (B2x - B1x) * (A2y - B1y) - (B2y - B1y) * (A2x - B1x)
                d3 = (A2x - A1x) * (B1y - A1y) - (A2y - A1y) * (B1x - A1x)
                d4 = (A2x - A1x) * (B2y - A1y) - (A2y - A1y) * (B2x - A1x)
                proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
                    ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
                )
                t = proper
                t |= (
                    (d1 == 0)
                    & (A1x >= np.minimum(B1x, B2x)) & (A1x <= np.maximum(B1x, B2x))
                    & (A1y >= np.minimum(B1y, B2y)) & (A1y <= np.maximum(B1y, B2y))
                )
                t |= (
                    (d2 == 0)
                    & (A2x >= np.minimum(B1x, B2x)) & (A2x <= np.maximum(B1x, B2x))
                    & (A2y >= np.minimum(B1y, B2y)) & (A2y <= np.maximum(B1y, B2y))
                )
                t |= (
                    (d3 == 0)
                    & (B1x >= np.minimum(A1x, A2x)) & (B1x <= np.maximum(A1x, A2x))
                    & (B1y >= np.minimum(A1y, A2y)) & (B1y <= np.maximum(A1y, A2y))
                )
                t |= (
                    (d4 == 0)
                    & (B2x >= np.minimum(A1x, A2x)) & (B2x <= np.maximum(A1x, A2x))
                    & (B2y >= np.minimum(A1y, A2y)) & (B2y <= np.maximum(A1y, A2y))
                )
                touch_seg[sl] = t.any(axis=1)
            res[sub[np.unique(sowner[touch_seg])]] = True

    return res


# ---------------------------------------------------------------------------
# vectorized covers / contains (one polygonal container, a batch of rows)
# ---------------------------------------------------------------------------

def _proper_cross_per_seg(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """(n_a,) bool: a-segment i properly (strictly) crosses ANY b-segment.

    The strict case of ``Algorithm/RobustLineIntersector.cs`` (all four
    orientations nonzero with opposite signs) — the only configuration that
    takes a covered boundary outside the covering geometry. Chunked."""
    na, nb = len(ax1), len(bx1)
    out = np.zeros(na, dtype=bool)
    if na == 0 or nb == 0:
        return out
    step = max(1, _SEG_CHUNK // nb)
    B1x = bx1[None, :]; B1y = by1[None, :]
    B2x = bx2[None, :]; B2y = by2[None, :]
    for s in range(0, na, step):
        sl = slice(s, s + step)
        A1x = ax1[sl][:, None]; A1y = ay1[sl][:, None]
        A2x = ax2[sl][:, None]; A2y = ay2[sl][:, None]
        d1 = (B2x - B1x) * (A1y - B1y) - (B2y - B1y) * (A1x - B1x)
        d2 = (B2x - B1x) * (A2y - B1y) - (B2y - B1y) * (A2x - B1x)
        d3 = (A2x - A1x) * (B1y - A1y) - (A2y - A1y) * (B1x - A1x)
        d4 = (A2x - A1x) * (B2y - A1y) - (A2y - A1y) * (B2x - A1x)
        proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
            ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
        )
        out[sl] = proper.any(axis=1)
    return out


def _batch_covers_rights(
    gb: GeomBatch,
    rights: np.ndarray,
    left: Geom | PreparedRight,
    contains: bool = False,
    geom_of=None,
) -> np.ndarray:
    """Vectorized covers(left, gb[i]) — or contains — for every right index
    in ``rights`` (ONE polygonal left, a batch of rights).

    Vertex coverage + strict-crossing + midpoint probes, the
    ``Geometries/Prepared/AbstractPreparedPolygonContains.cs:150-200``
    structure:

      covers(a, b)   = all b vertices in/on a's polygonal leaves
                     ∧ no strict proper crossing (a segs × b segs)
                     ∧ all b segment midpoints in/on a
      contains(a, b) = covers ∧ (some b vertex interior ∨ some midpoint
                       interior ∨ polygonal-b interior-point probe)

    The interior-point residue (covers holds yet every probed point sits ON
    a's boundary — b's boundary embedded in a's) decodes the few affected
    rights via ``geom_of(idx)``; it is empty for any pair whose containment
    is strict anywhere. Requires a polygonal left.

    The midpoint of a DIAGONAL edge that b shares with a's boundary can
    round an ulp outside a, which reads as not covered (a regular polygon
    against itself). ``batch_predicate`` sends rows sharing such an edge to
    the relate kernel (``_shares_segment``); call it, not this pass.
    """
    from .pip import INTERIOR
    from .predicates import interior_point

    pl = left if isinstance(left, PreparedRight) else PreparedRight(left)
    n = len(rights)
    res = np.zeros(n, dtype=bool)
    if n == 0 or pl.empty or not pl.preps:
        return res
    rights = np.asarray(rights, dtype=np.int64)

    # ---- pass 1: ALL b vertices in/on a; empty b → not covered ----------
    vcnt = gb.v_start[rights + 1] - gb.v_start[rights]
    ok = vcnt > 0
    has_int = np.zeros(n, dtype=bool)
    vidx, vowner = _ranges_concat(gb.v_start[rights], vcnt)
    if len(vidx):
        bx = gb.vx[vidx]; by = gb.vy[vidx]
        cov = np.zeros(len(vidx), dtype=bool)
        inter = np.zeros(len(vidx), dtype=bool)
        for prep in pl.preps:
            loc = prep.locate(bx, by)
            cov |= loc != EXTERIOR
            inter |= loc == INTERIOR
        ok &= np.bincount(vowner[~cov], minlength=n) == 0
        if contains:
            has_int |= np.bincount(vowner[inter], minlength=n) > 0

    # ---- pass 2: no strict proper crossing, a segs × b segs -------------
    scnt = gb.s_start[rights + 1] - gb.s_start[rights]
    pend = ok & (scnt > 0)
    if pend.any() and len(pl.rax):
        sub = np.flatnonzero(pend)
        sidx, sowner = _ranges_concat(gb.s_start[rights[sub]], scnt[sub])
        crossed = _proper_cross_per_seg(
            gb.sax[sidx], gb.say[sidx], gb.sbx[sidx], gb.sby[sidx],
            pl.rax, pl.ray, pl.rbx, pl.rby,
        )
        bad = np.bincount(sowner[crossed], minlength=len(sub)) > 0
        ok[sub[bad]] = False

    # ---- pass 3: all b segment midpoints in/on a ------------------------
    pend = ok & (scnt > 0)
    if pend.any():
        sub = np.flatnonzero(pend)
        sidx, sowner = _ranges_concat(gb.s_start[rights[sub]], scnt[sub])
        mx = (gb.sax[sidx] + gb.sbx[sidx]) * 0.5
        my = (gb.say[sidx] + gb.sby[sidx]) * 0.5
        cov = np.zeros(len(sidx), dtype=bool)
        inter = np.zeros(len(sidx), dtype=bool)
        for prep in pl.preps:
            loc = prep.locate(mx, my)
            cov |= loc != EXTERIOR
            inter |= loc == INTERIOR
        bad = np.bincount(sowner[~cov], minlength=len(sub)) > 0
        ok[sub[bad]] = False
        if contains:
            hit = np.bincount(sowner[inter], minlength=len(sub)) > 0
            has_int[sub[hit]] = True

    if not contains:
        return ok

    res = ok & has_int
    # ---- interior-point residue (polygonal b, boundary-only contact) ----
    pcnt = gb.p_start[rights + 1] - gb.p_start[rights]
    residue = np.flatnonzero(ok & ~has_int & (pcnt > 0))
    if len(residue) and geom_of is not None:
        for k in residue:
            ip = interior_point(geom_of(int(rights[k])))
            if ip is None:
                continue
            px = np.array([ip[0]]); py = np.array([ip[1]])
            res[k] = any(
                prep.locate(px, py)[0] == INTERIOR for prep in pl.preps
            )
    return res


# ---------------------------------------------------------------------------
# vectorized interior/interior test (the DE-9IM II entry for areal pairs)
# ---------------------------------------------------------------------------

def _batch_interiors_intersect(
    gb: GeomBatch,
    lefts: np.ndarray,
    other: Geom | PreparedRight,
    geom_of=None,
) -> np.ndarray:
    """Vectorized int(gb[i]) ∩ int(other) ≠ ∅ for PURE-POLYGONAL pairs —
    the II entry of the DE-9IM, which decides touches (= intersects ∧ ¬II)
    for the join predicates without running the per-pair relate kernel
    (``Operation/RelateNG/TopologyComputer.cs`` area reasoning, batched).

    Jordan evidence in whole-array passes (valid Simple-Features inputs):

      A. any gb vertex strictly INTERIOR to other            (prepared PIP)
      B. any gb ring-segment midpoint strictly interior      (prepared PIP)
      C. any strict proper crossing, gb rings × other rings  (orientation)
      D. any other probe (ring vertices, ring midpoints, and other's own
         interior point) strictly inside a gb row    (parity & ¬on-segment)
      E. residue: rows with no strict evidence probe their OWN interior
         point against other — non-empty only when a row's boundary is
         embedded in other's (equal / hole-filling pairs), mirroring the
         ``_batch_covers_rights`` residue.

    Exact except for the measure-zero configuration where boundaries cross
    transversally ONLY through shared vertices with every vertex/midpoint
    probe landing exactly on the other boundary — the noded-midpoint case
    of the scalar relate kernel (``kernels/relate.py``), which
    ``evaluate_predicate`` still answers exactly. The join workloads'
    snapped rectangles and octagons never produce it (corners properly
    cross or a midpoint lands interior); property-tested against the
    scalar kernel through ``batch_predicate``, which also sends rows sharing
    a diagonal edge with other to the relate kernel (their midpoints round
    off the shared edge, as in ``_batch_covers_rights``).
    """
    from .pip import INTERIOR
    from .predicates import interior_point

    pr = other if isinstance(other, PreparedRight) else PreparedRight(other)
    n = len(lefts)
    res = np.zeros(n, dtype=bool)
    if n == 0 or pr.empty or not pr.preps:
        return res
    lefts = np.asarray(lefts, dtype=np.int64)

    # ---- pass A: gb vertices strictly interior to other -----------------
    vcnt = gb.v_start[lefts + 1] - gb.v_start[lefts]
    vidx, vowner = _ranges_concat(gb.v_start[lefts], vcnt)
    if len(vidx):
        lvx = gb.vx[vidx]; lvy = gb.vy[vidx]
        inter = np.zeros(len(vidx), dtype=bool)
        for prep in pr.preps:
            inter |= prep.locate(lvx, lvy) == INTERIOR
        res[vowner[inter]] = True

    # ---- pass B: gb ring midpoints strictly interior to other -----------
    pend = ~res
    if pend.any():
        sub = np.flatnonzero(pend)
        ls = lefts[sub]
        pcnt = gb.p_start[ls + 1] - gb.p_start[ls]
        pidx, powner = _ranges_concat(gb.p_start[ls], pcnt)
        if len(pidx):
            mx = (gb.pax[pidx] + gb.pbx[pidx]) * 0.5
            my = (gb.pay[pidx] + gb.pby[pidx]) * 0.5
            inter = np.zeros(len(pidx), dtype=bool)
            for prep in pr.preps:
                inter |= prep.locate(mx, my) == INTERIOR
            res[sub[np.unique(powner[inter])]] = True

    # ---- pass C: strict proper crossing, gb rings × other rings ---------
    pend = ~res
    if pend.any() and len(pr.pgax):
        sub = np.flatnonzero(pend)
        ls = lefts[sub]
        pcnt = gb.p_start[ls + 1] - gb.p_start[ls]
        pidx, powner = _ranges_concat(gb.p_start[ls], pcnt)
        if len(pidx):
            crossed = _proper_cross_per_seg(
                gb.pax[pidx], gb.pay[pidx], gb.pbx[pidx], gb.pby[pidx],
                pr.pgax, pr.pgay, pr.pgbx, pr.pgby,
            )
            res[sub[np.unique(powner[crossed])]] = True

    # ---- pass D: other's probes strictly inside gb rows -----------------
    # ring vertices + ring midpoints + other's interior point; a probe in
    # int(other) strictly inside a row IS II, a boundary probe strictly
    # inside a row implies int(other) reaches in locally (valid input).
    # Each probe is located against every pending row's rings at once:
    # exactly on a ring segment, else inside by even-odd parity per
    # polygon leaf, OR-ed over the row's leaves.
    sub = np.flatnonzero(~res)
    ls = lefts[sub]
    pidx, powner = _ranges_concat(gb.p_start[ls], gb.p_start[ls + 1] - gb.p_start[ls])
    if len(pidx):
        probes = [np.stack([pr.rvx, pr.rvy], axis=1)] if len(pr.rvx) else []
        if len(pr.pgax):
            probes.append(np.stack([
                (pr.pgax + pr.pgbx) * 0.5, (pr.pgay + pr.pgby) * 0.5,
            ], axis=1))
        ip = interior_point(pr.geom)
        if ip is not None:
            probes.append(np.array([[ip[0], ip[1]]]))
        x1 = gb.pax[pidx]; y1 = gb.pay[pidx]
        x2 = gb.pbx[pidx]; y2 = gb.pby[pidx]
        # parity per (pending row, leaf): a row index may repeat in lefts
        okey = powner * np.int64(gb.p_leaf.max() + 1) + gb.p_leaf[pidx]
        ukey, seg_leaf = np.unique(okey, return_inverse=True)
        hit = np.zeros(len(sub), dtype=bool)
        for qx, qy in (np.concatenate(probes) if probes else ()):
            d = (x2 - x1) * (qy - y1) - (y2 - y1) * (qx - x1)
            on_seg = (
                (d == 0.0)
                & (qx >= np.minimum(x1, x2)) & (qx <= np.maximum(x1, x2))
                & (qy >= np.minimum(y1, y2)) & (qy <= np.maximum(y1, y2))
            )
            on_b = np.bincount(powner[on_seg], minlength=len(sub)) > 0
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (qy - y1) * (x2 - x1) / (y2 - y1)
                crossed = ((y1 > qy) != (y2 > qy)) & (qx < xint)
            leaf_in = (np.bincount(seg_leaf[crossed], minlength=len(ukey)) & 1).astype(bool)
            inside = np.bincount(powner[leaf_in[seg_leaf]], minlength=len(sub)) > 0
            hit |= inside & ~on_b
            if hit.all():
                break
        res[sub[hit]] = True

    # ---- pass E: per-row interior-point residue -------------------------
    residue = np.flatnonzero(~res)
    if len(residue) and geom_of is not None:
        for k in residue:
            g = geom_of(int(lefts[k]))
            ip = interior_point(g) if g is not None else None
            if ip is None:
                continue
            px = np.array([ip[0]]); py = np.array([ip[1]])
            res[k] = any(
                prep.locate(px, py)[0] == INTERIOR for prep in pr.preps
            )
    return res


# ---------------------------------------------------------------------------
# vectorized within-distance
# ---------------------------------------------------------------------------

def _pt_seg_within(qx, qy, x1, y1, x2, y2, d2: float):
    """(nq, ns) → (nq,) bool: point i within sqrt(d2) of ANY segment j.

    Division-free 3-case form (endpoint / endpoint / perpendicular), the
    exact arithmetic ``Operation/Distance/IndexedFacetDistance.cs`` reduces
    to for segment facets — and the SAME IEEE expression tree the SQL
    oracles generate, so both engines agree bit-for-bit on ties. Chunked.
    """
    nq, ns = len(qx), len(x1)
    out = np.zeros(nq, dtype=bool)
    if nq == 0 or ns == 0:
        return out
    ex = x2 - x1; ey = y2 - y1
    len2 = ex * ex + ey * ey
    step = max(1, _SEG_CHUNK // ns)
    for s in range(0, nq, step):
        px = qx[s:s + step][:, None]; py = qy[s:s + step][:, None]
        rx = px - x1[None, :]; ry = py - y1[None, :]
        dot = rx * ex[None, :] + ry * ey[None, :]
        da2 = rx * rx + ry * ry
        sx = px - x2[None, :]; sy = py - y2[None, :]
        db2 = sx * sx + sy * sy
        cross = rx * ey[None, :] - ry * ex[None, :]
        hit = np.where(
            dot <= 0.0, da2 <= d2,
            np.where(dot >= len2[None, :], db2 <= d2,
                     cross * cross <= d2 * len2[None, :]),
        )
        out[s:s + step] = hit.any(axis=1)
    return out


def batch_within_distance(
    gb: GeomBatch, lefts: np.ndarray, right: Geom | PreparedRight, dist: float
) -> np.ndarray:
    """Vectorized distance(left_i, right) ≤ dist for every left index.

    distance ≤ d  ⟺  intersects ∨ some left vertex within d of a right
    facet ∨ some right vertex within d of a left facet — exact for any
    point/line/polygon mix (the min distance between disjoint geometries is
    attained at a vertex of one against a facet of the other; point
    geometries carry vertex facets only). Passes are whole-array; the
    intersects pass reuses ``batch_intersects``.
    """
    pr = right if isinstance(right, PreparedRight) else PreparedRight(right)
    res = batch_intersects(gb, lefts, pr)
    lefts = np.asarray(lefts, dtype=np.int64)
    d2 = float(dist) * float(dist)
    pend = ~res
    if not pend.any() or pr.empty:
        return res
    sub = np.flatnonzero(pend)
    ls = lefts[sub]
    # left vertices within d of right segments / right point-features
    vcnt = gb.v_start[ls + 1] - gb.v_start[ls]
    vidx, vowner = _ranges_concat(gb.v_start[ls], vcnt)
    if len(vidx):
        lvx = gb.vx[vidx]; lvy = gb.vy[vidx]
        near = _pt_seg_within(lvx, lvy, pr.rax, pr.ray, pr.rbx, pr.rby, d2)
        for px, py in pr.point_xy:
            near |= (lvx - px) ** 2 + (lvy - py) ** 2 <= d2
        res[sub[np.unique(vowner[near])]] = True
    # right vertices within d of left segments
    pend2 = ~res
    sub2 = np.flatnonzero(pend2)
    if len(sub2) and len(pr.rvx):
        ls2 = lefts[sub2]
        scnt = gb.s_start[ls2 + 1] - gb.s_start[ls2]
        sidx, sowner = _ranges_concat(gb.s_start[ls2], scnt)
        if len(sidx):
            x1 = gb.sax[sidx]; y1 = gb.say[sidx]
            x2 = gb.sbx[sidx]; y2 = gb.sby[sidx]
            ex = x2 - x1; ey = y2 - y1
            len2 = ex * ex + ey * ey
            near_seg = np.zeros(len(sidx), dtype=bool)
            for qx, qy in zip(pr.rvx, pr.rvy):
                rx = qx - x1; ry = qy - y1
                dot = rx * ex + ry * ey
                da2 = rx * rx + ry * ry
                sx = qx - x2; sy = qy - y2
                db2 = sx * sx + sy * sy
                cross = rx * ey - ry * ex
                near_seg |= np.where(
                    dot <= 0.0, da2 <= d2,
                    np.where(dot >= len2, db2 <= d2, cross * cross <= d2 * len2),
                )
            res[sub2[np.unique(sowner[near_seg])]] = True
    # left point-features against right vertices are covered by pass 1
    # (every left vertex probed all right segments AND right points).
    return res


def _pt_seg_dist2_min(qx, qy, x1, y1, x2, y2):
    """(nq,) double: min squared distance from point i to ANY segment —
    the same division-free-branch / divided-perpendicular expression tree
    the SQL oracles generate (dot ≤ 0 → |p−a|²; dot ≥ len² → |p−b|²; else
    cross²/len²), so LEAST/np.min agree bit-for-bit. Chunked."""
    nq, ns = len(qx), len(x1)
    out = np.full(nq, np.inf)
    if nq == 0 or ns == 0:
        return out
    ex = x2 - x1; ey = y2 - y1
    len2 = ex * ex + ey * ey
    step = max(1, _SEG_CHUNK // ns)
    for s in range(0, nq, step):
        px = qx[s:s + step][:, None]; py = qy[s:s + step][:, None]
        rx = px - x1[None, :]; ry = py - y1[None, :]
        dot = rx * ex[None, :] + ry * ey[None, :]
        da2 = rx * rx + ry * ry
        sx = px - x2[None, :]; sy = py - y2[None, :]
        db2 = sx * sx + sy * sy
        cross = rx * ey[None, :] - ry * ex[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            d2 = np.where(
                dot <= 0.0, da2,
                np.where(dot >= len2[None, :], db2,
                         cross * cross / len2[None, :]),
            )
        out[s:s + step] = d2.min(axis=1)
    return out


def batch_distance2(
    gb: GeomBatch, lefts: np.ndarray, right: Geom | PreparedRight
) -> np.ndarray:
    """Vectorized squared distance(left_i, right) for every left index —
    0.0 when they intersect, else the min over the vertex/facet feature
    sweep (both directions), which is exact for disjoint geometries (the
    closest pair is always vertex-to-facet). The value tree matches the
    SQL oracle generators term for term."""
    pr = right if isinstance(right, PreparedRight) else PreparedRight(right)
    touching = batch_intersects(gb, lefts, pr)
    lefts = np.asarray(lefts, dtype=np.int64)
    n = len(lefts)
    res = np.zeros(n, dtype=np.float64)
    pend = ~touching
    if not pend.any() or pr.empty:
        return res
    sub = np.flatnonzero(pend)
    ls = lefts[sub]
    best = np.full(len(sub), np.inf)
    # left vertices × right facets / right point features
    vcnt = gb.v_start[ls + 1] - gb.v_start[ls]
    vidx, vowner = _ranges_concat(gb.v_start[ls], vcnt)
    if len(vidx):
        lvx = gb.vx[vidx]; lvy = gb.vy[vidx]
        d2 = _pt_seg_dist2_min(lvx, lvy, pr.rax, pr.ray, pr.rbx, pr.rby)
        for px, py in pr.point_xy:
            d2 = np.minimum(d2, (lvx - px) ** 2 + (lvy - py) ** 2)
        np.minimum.at(best, vowner, d2)
    # right vertices × left segments
    scnt = gb.s_start[ls + 1] - gb.s_start[ls]
    sidx, sowner = _ranges_concat(gb.s_start[ls], scnt)
    if len(sidx) and len(pr.rvx):
        x1 = gb.sax[sidx]; y1 = gb.say[sidx]
        x2 = gb.sbx[sidx]; y2 = gb.sby[sidx]
        ex = x2 - x1; ey = y2 - y1
        len2 = ex * ex + ey * ey
        with np.errstate(divide="ignore", invalid="ignore"):
            for qx, qy in zip(pr.rvx, pr.rvy):
                rx = qx - x1; ry = qy - y1
                dot = rx * ex + ry * ey
                da2 = rx * rx + ry * ry
                sx = qx - x2; sy = qy - y2
                db2 = sx * sx + sy * sy
                cross = rx * ey - ry * ex
                d2 = np.where(
                    dot <= 0.0, da2,
                    np.where(dot >= len2, db2, cross * cross / len2),
                )
                np.minimum.at(best, sowner, d2)
    res[sub] = best
    return res


# ---------------------------------------------------------------------------
# mixed-dimension DE-9IM probes: line rows × one polygonal left
# ---------------------------------------------------------------------------

def _seg_contact_counts(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Per a-segment: (#b-segments touched in ANY way, any collinear
    overlap). The same case analysis as ``batch_intersects`` pass 3, kept
    as a COUNT so callers can recognize multi-contact segments. Chunked."""
    na, nb = len(ax1), len(bx1)
    cnt = np.zeros(na, dtype=np.int64)
    coll = np.zeros(na, dtype=bool)
    if na == 0 or nb == 0:
        return cnt, coll
    step = max(1, _SEG_CHUNK // nb)
    B1x = bx1[None, :]; B1y = by1[None, :]
    B2x = bx2[None, :]; B2y = by2[None, :]
    for s in range(0, na, step):
        sl = slice(s, s + step)
        A1x = ax1[sl][:, None]; A1y = ay1[sl][:, None]
        A2x = ax2[sl][:, None]; A2y = ay2[sl][:, None]
        d1 = (B2x - B1x) * (A1y - B1y) - (B2y - B1y) * (A1x - B1x)
        d2 = (B2x - B1x) * (A2y - B1y) - (B2y - B1y) * (A2x - B1x)
        d3 = (A2x - A1x) * (B1y - A1y) - (A2y - A1y) * (B1x - A1x)
        d4 = (A2x - A1x) * (B2y - A1y) - (A2y - A1y) * (B2x - A1x)
        t = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
            ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
        )
        t |= (
            (d1 == 0)
            & (A1x >= np.minimum(B1x, B2x)) & (A1x <= np.maximum(B1x, B2x))
            & (A1y >= np.minimum(B1y, B2y)) & (A1y <= np.maximum(B1y, B2y))
        )
        t |= (
            (d2 == 0)
            & (A2x >= np.minimum(B1x, B2x)) & (A2x <= np.maximum(B1x, B2x))
            & (A2y >= np.minimum(B1y, B2y)) & (A2y <= np.maximum(B1y, B2y))
        )
        t |= (
            (d3 == 0)
            & (B1x >= np.minimum(A1x, A2x)) & (B1x <= np.maximum(A1x, A2x))
            & (B1y >= np.minimum(A1y, A2y)) & (B1y <= np.maximum(A1y, A2y))
        )
        t |= (
            (d4 == 0)
            & (B2x >= np.minimum(A1x, A2x)) & (B2x <= np.maximum(A1x, A2x))
            & (B2y >= np.minimum(A1y, A2y)) & (B2y <= np.maximum(A1y, A2y))
        )
        # collinear-and-overlapping: all four orientations zero with
        # overlapping extents (the t test above already requires overlap
        # for the d==0 cases; collinear is the subset with d1==d2==0)
        c = (d1 == 0) & (d2 == 0) & t
        cnt[sl] = t.sum(axis=1)
        coll[sl] = c.any(axis=1)
    return cnt, coll


def batch_line_im_probes(
    gb: GeomBatch,
    rows: np.ndarray,
    left: Geom | PreparedRight,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decisive DE-9IM evidence for LINE rows against ONE polygonal left —
    the probes that decide touches / crosses for the poly × line dimension
    pair without the per-pair relate kernel:

      ii[k]    int(left) ∩ int(line_k) ≠ ∅, established
      ei[k]    ext(left) ∩ int(line_k) ≠ ∅, established
      amb[k]   the vectorized passes cannot CERTIFY a negative — the row
               must fall back to the exact relate kernel

    Evidence passes (whole-array):
      1. line vertex strictly INTERIOR → ii; strictly EXTERIOR → ei
         (an endpoint inside an OPEN set drags the adjacent open segment
         in with it, so whole-vertex probes are valid for 1-D interiors)
      2. strict proper crossing line-seg × ring-seg → ii AND ei (a proper
         boundary crossing has interior on one side, exterior on the other)
      3. segment midpoints: INTERIOR → ii, EXTERIOR → ei
      4. negatives are certified only for rows where every segment contacts
         at most ONE ring segment and none collinearly: with ≤ 1 boundary
         contact and non-interior endpoints a segment cannot dip into (or
         out of) the region unseen; multi-contact or collinear rows set
         ``amb`` instead (the sub-segment-noding cases of
         ``kernels/relate.py``).

    Mirrors the evidence structure of ``_batch_covers_rights`` /
    ``_batch_interiors_intersect`` (vertex + crossing + midpoint passes,
    AbstractPreparedPolygonContains.cs:150-200) extended with the
    explicit ambiguity escape so callers stay bit-exact.
    """
    from .pip import INTERIOR

    pl = left if isinstance(left, PreparedRight) else PreparedRight(left)
    n = len(rows)
    ii = np.zeros(n, dtype=bool)
    ei = np.zeros(n, dtype=bool)
    amb = np.zeros(n, dtype=bool)
    if n == 0:
        return ii, ei, amb
    if pl.empty or not pl.preps:
        # no polygonal left: nothing interior; everything with length is
        # exterior-side — callers shouldn't be here, mark ambiguous
        amb[:] = True
        return ii, ei, amb
    rows = np.asarray(rows, dtype=np.int64)

    def _locate_all(xs, ys):
        loc_int = np.zeros(len(xs), dtype=bool)
        loc_ext = np.ones(len(xs), dtype=bool)
        for prep in pl.preps:
            loc = prep.locate(xs, ys)
            loc_int |= loc == INTERIOR
            loc_ext &= loc == EXTERIOR
        return loc_int, loc_ext

    # ---- pass 1: vertices -------------------------------------------------
    vcnt = gb.v_start[rows + 1] - gb.v_start[rows]
    vidx, vowner = _ranges_concat(gb.v_start[rows], vcnt)
    if len(vidx):
        l_int, l_ext = _locate_all(gb.vx[vidx], gb.vy[vidx])
        ii[vowner[l_int]] = True
        ei[vowner[l_ext]] = True

    # ---- pass 2: proper crossings -----------------------------------------
    scnt = gb.s_start[rows + 1] - gb.s_start[rows]
    sidx, sowner = _ranges_concat(gb.s_start[rows], scnt)
    if len(sidx) and len(pl.pgax):
        crossed = _proper_cross_per_seg(
            gb.sax[sidx], gb.say[sidx], gb.sbx[sidx], gb.sby[sidx],
            pl.pgax, pl.pgay, pl.pgbx, pl.pgby,
        )
        hit = np.unique(sowner[crossed])
        ii[hit] = True
        ei[hit] = True

    # ---- pass 3: midpoints ------------------------------------------------
    if len(sidx):
        mx = (gb.sax[sidx] + gb.sbx[sidx]) * 0.5
        my = (gb.say[sidx] + gb.sby[sidx]) * 0.5
        m_int, m_ext = _locate_all(mx, my)
        ii[sowner[m_int]] = True
        ei[sowner[m_ext]] = True

    # ---- pass 4: ambiguity for undecided negatives ------------------------
    need = ~(ii & ei)
    if need.any() and len(sidx) and len(pl.pgax):
        nsub = np.flatnonzero(need)
        in_need = np.isin(sowner, nsub)
        cnt, coll = _seg_contact_counts(
            gb.sax[sidx[in_need]], gb.say[sidx[in_need]],
            gb.sbx[sidx[in_need]], gb.sby[sidx[in_need]],
            pl.pgax, pl.pgay, pl.pgbx, pl.pgby,
        )
        risky = (cnt >= 2) | coll
        amb[np.unique(sowner[in_need][risky])] = True
        # zero-length degenerate rows (no segments at all but >1 vertices
        # cannot happen for valid lines; a row with NO segments is a
        # degenerate empty/point-like line): mark ambiguous
    amb[(scnt == 0) & (vcnt > 0)] = True
    amb &= ~(ii & ei)  # fully-decided rows never need escalation
    return ii, ei, amb


# ---------------------------------------------------------------------------
# one batched predicate: predicate(container, row) for the WKB join refines
# ---------------------------------------------------------------------------

_BATCHED = ("covers", "contains", "touches", "crosses")


def _shares_segment(gb: GeomBatch, rows: np.ndarray, pc: PreparedRight) -> np.ndarray:
    """Per row: some DIAGONAL segment of the row equals (in either
    direction) a segment of the container. The midpoint of a shared edge
    lies on both boundaries, but on a diagonal with non-representable
    coordinates the computed midpoint falls an ulp to either side, so the
    midpoint probes of the covers / II passes cannot classify it. An
    axis-parallel midpoint keeps the shared ordinate exactly and stays on
    the edge."""
    out = np.zeros(len(rows), dtype=bool)
    scnt = gb.s_start[rows + 1] - gb.s_start[rows]
    sidx, sowner = _ranges_concat(gb.s_start[rows], scnt)
    diag = (gb.sax[sidx] != gb.sbx[sidx]) & (gb.say[sidx] != gb.sby[sidx])
    sidx, sowner = sidx[diag], sowner[diag]
    nb = len(pc.rax)
    if not len(sidx) or not nb:
        return out
    bx1 = pc.rax[None, :]; by1 = pc.ray[None, :]
    bx2 = pc.rbx[None, :]; by2 = pc.rby[None, :]
    same = np.zeros(len(sidx), dtype=bool)
    step = max(1, _SEG_CHUNK // nb)
    for s in range(0, len(sidx), step):
        k = sidx[s:s + step]
        ax1 = gb.sax[k][:, None]; ay1 = gb.say[k][:, None]
        ax2 = gb.sbx[k][:, None]; ay2 = gb.sby[k][:, None]
        eq = ((ax1 == bx1) & (ay1 == by1) & (ax2 == bx2) & (ay2 == by2)) | (
            (ax1 == bx2) & (ay1 == by2) & (ax2 == bx1) & (ay2 == by1))
        same[s:s + step] = eq.any(axis=1)
    out[sowner[same]] = True
    return out


def batch_predicate(
    gb: GeomBatch,
    idx: np.ndarray,
    container: PreparedRight,
    predicate: str,
    geom_of,
) -> np.ndarray:
    """predicate(container, gb[i]) for every row index in ``idx`` — the one
    batched predicate behind every WKB join refine. As in NTS each
    predicate has one meaning (``relate`` plus its DE-9IM pattern); the
    container plays the prepared role of ``Geometries/Prepared`` and the
    rows are probed in whole-array passes:

    - ``intersects``          → ``batch_intersects``
    - ``covers``/``contains`` against a pure-polygonal container →
      ``_batch_covers_rights``
    - ``touches``/``crosses`` against a pure-polygonal container:

      - pure-polygonal rows: touches = intersects ∧ ¬II
        (``_batch_interiors_intersect``), crosses = False (dimension rule);
      - pure-line rows: touches = intersects ∧ ¬II and crosses = II ∧ EI
        decide through ``batch_line_im_probes``.

    Everything else — overlaps, equals and equalstopo, mixed or point rows,
    probe-ambiguous lines, rows sharing a diagonal edge with the container
    (``_shares_segment``), a non-polygonal or mixed container — is answered
    by the exact relate kernel, ``evaluate_predicate(predicate,
    container.geom, geom_of(i))``; a row whose ``geom_of`` is None stays
    False. The touches and crosses answers are symmetric, so callers may
    put either side of a pair in the container role.
    """
    from .predicates import evaluate_predicate

    idx = np.asarray(idx, dtype=np.int64)
    if predicate == "intersects":
        return batch_intersects(gb, idx, container)
    out = np.zeros(len(idx), dtype=bool)
    scalar = np.ones(len(idx), dtype=bool)  # rows left to the relate kernel
    if container.pure_poly and predicate in _BATCHED:
        batched = ~_shares_segment(gb, idx, container)
        if predicate in ("covers", "contains"):
            k = np.flatnonzero(batched)
            out[k] = _batch_covers_rights(gb, idx[k], container,
                                          contains=predicate == "contains", geom_of=geom_of)
            scalar[k] = False
        else:
            poly = np.flatnonzero(gb.pure_poly[idx] & batched)
            if predicate == "touches":
                hit = poly[batch_intersects(gb, idx[poly], container)]
                out[hit] = ~_batch_interiors_intersect(gb, idx[hit], container,
                                                       geom_of=geom_of)
            # crosses(areal, areal) ≡ False by the dimension rule
            line = np.flatnonzero(gb.pure_line[idx])
            scalar[poly] = scalar[line] = False
            if len(line):
                ii, ei, amb = batch_line_im_probes(gb, idx[line], container)
                dec = line[~amb]
                if predicate == "touches":
                    out[dec] = batch_intersects(gb, idx[dec], container) & ~ii[~amb]
                else:
                    out[dec] = ii[~amb] & ei[~amb]
                scalar[line[amb]] = True
    for k in np.flatnonzero(scalar):
        g = geom_of(int(idx[k]))
        if g is not None:
            out[k] = evaluate_predicate(predicate, container.geom, g)
    return out
