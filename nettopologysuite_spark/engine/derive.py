"""Deterministic synthetic-geometry derivation — single source of truth.

The sandbox provides no real spatial tables, so geometry inputs are derived
*deterministically* from the integer keys of the driver's parquet tables via
LCG-style modular arithmetic. Every derivation here is expressed BOTH as
numpy (engine kernels) and as an ANSI-SQL fragment (DuckDB correctness
oracle). All arithmetic is exact: products stay under 2^63 and the float
results carry ≤ 27 significand bits, so Spark, numpy and DuckDB produce
bit-identical doubles.

The synthetic workload shape mirrors the reference's perf fixtures: uniform
random points in a [0,100)² extent (``test/.../IndexedPointInAreaPerfTest.cs:30-35``
uses ``rand.NextDouble()*100``) probed against a small pack of convex
polygons (``Utilities/GeometricShapeFactory.cs`` circles/rects analog).
"""

from __future__ import annotations

import numpy as np

from ..kernels.geom import Geom, polygon

# LCG multipliers (Knuth/xxhash-style odd constants); modulus 2^20 keeps the
# derived coordinate exactly representable after * 100.0 (27-bit values).
_AX = 2654435761
_AY = 2246822519
_CY = 1013904223
_MOD = 1048576  # 2^20
EXTENT = 100.0


def point_exprs_sql(id_col: str) -> tuple[str, str]:
    """(x, y) SQL expressions deriving the point from an integer id column —
    valid in both Spark SQL and DuckDB, bit-identical results."""
    # CAST(... AS DOUBLE) everywhere: DuckDB would otherwise type a literal
    # like 1048576.0 as DECIMAL and silently round the derived coordinates.
    mod = f"CAST({_MOD} AS DOUBLE)"
    ext = f"CAST({int(EXTENT)} AS DOUBLE)"
    # reduce the id mod 2^20 BEFORE multiplying: (id % m) * a ≡ id * a (mod m)
    # and stays < 2^52 — no int64 overflow even at 10^12-row doc ids (Spark
    # non-ANSI would wrap silently while DuckDB raises; this keeps both exact)
    rid = f"({id_col} % {_MOD})"
    return (
        f"(CAST(({rid} * {_AX}) % {_MOD} AS DOUBLE) / {mod} * {ext})",
        f"(CAST((({rid} * {_AY}) + {_CY}) % {_MOD} AS DOUBLE) / {mod} * {ext})",
    )


def points_sql(table: str, id_col: str, pid_alias: str = "pid") -> str:
    """SQL producing (pid, x, y) from an integer id column — valid in both
    Spark SQL and DuckDB, bit-identical results."""
    xe, ye = point_exprs_sql(id_col)
    return (
        f"SELECT {id_col} AS {pid_alias}, {xe} AS x, {ye} AS y FROM {table}"
    )


def points_numpy(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Same derivation as :func:`points_sql`, in numpy."""
    ids = np.asarray(ids, dtype=np.int64) % _MOD  # pre-reduce: no overflow
    hx = (ids * _AX) % _MOD
    hy = (ids * _AY + _CY) % _MOD
    x = hx.astype(np.float64) / float(_MOD) * EXTENT
    y = hy.astype(np.float64) / float(_MOD) * EXTENT
    return x, y


# ---------------------------------------------------------------------------
# Polygon packs derived from the nation table (25 keys, 0..24)
# ---------------------------------------------------------------------------

# convex CCW octagon template with integer vertices (kept integer after
# scaling so every half-plane cross product is exact in double)
OCTAGON = [(4, 0), (3, 3), (0, 4), (-3, 3), (-4, 0), (-3, -3), (0, -4), (3, -3)]


def nation_center(nk: int) -> tuple[int, int]:
    return 10 + (nk % 5) * 20, 10 + (nk // 5) * 20


def nation_octagon_vertices(nk: int) -> np.ndarray:
    """Integer-vertex convex octagon for nation key nk (CCW, open ring)."""
    cx, cy = nation_center(nk)
    s = 1 + (nk % 2)
    return np.array([(cx + s * tx, cy + s * ty) for tx, ty in OCTAGON], dtype=np.float64)


def nation_octagon_geom(nk: int) -> Geom:
    return polygon(nation_octagon_vertices(nk))


def nation_octagon_sql_pred(x: str, y: str, nk: str) -> str:
    """SQL predicate: point ({x},{y}) covered by nation {nk}'s octagon
    (boundary inclusive) — the exact half-plane formula the PreparedConvex
    kernel evaluates, so results are bit-identical."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    terms = []
    n = len(OCTAGON)
    for i in range(n):
        x1, y1 = OCTAGON[i]
        x2, y2 = OCTAGON[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        # cross = dx*( y - y1v ) - dy*( x - x1v ); vertex = center + s*template
        terms.append(
            f"(({s} * {dx}) * ({y} - {cy} - {s} * {y1}) - "
            f"({s} * {dy}) * ({x} - {cx} - {s} * {x1}) >= 0.0)"
        )
    return "(" + " AND ".join(terms) + ")"


def nation_rect(nk: int) -> tuple[float, float, float, float]:
    """Axis-aligned rectangle (minx, miny, maxx, maxy) for nation key nk."""
    cx, cy = nation_center(nk)
    w = 3 + (nk % 4)
    h = 2 + (nk % 3)
    return (cx - w, cy - h, cx + w, cy + h)


def nation_rect_geom(nk: int) -> Geom:
    minx, miny, maxx, maxy = nation_rect(nk)
    return polygon([(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy)])


def nation_rect_sql_pred(x: str, y: str, nk: str) -> str:
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    w = f"(3 + ({nk} % 4))"
    h = f"(2 + ({nk} % 3))"
    return (
        f"({x} >= {cx} - {w} AND {x} <= {cx} + {w} "
        f"AND {y} >= {cy} - {h} AND {y} <= {cy} + {h})"
    )


def event_rect_dims(pid: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pid = np.asarray(pid, dtype=np.int64)
    return (1 + pid % 3).astype(np.float64), (1 + pid % 2).astype(np.float64)


def rect_octagon_sql_pred(x: str, y: str, w: str, h: str, nk: str) -> str:
    """SQL predicate: the axis-aligned rect (center ({x},{y}), half-extents
    {w},{h}) INTERSECTS nation {nk}'s octagon (boundary-inclusive).

    Separating-axis test over the 6 distinct edge-normal axes of the pair:
    the rect contributes (1,0),(0,1); the octagon template's edges
    contribute (3,1),(1,3),(1,-3),(3,-1) (template vertex (4,0)→(3,3) has
    direction (-1,3) ⇒ normal (3,1), etc.). Octagon half-projection is 4s
    on the unit axes and 12s on the slope-3 axes (template vertices dot the
    axis max at 12). All arithmetic is exact: coordinates carry ≤27
    significand bits, centers/scales are integers, multipliers ≤3 — so
    Spark/numpy/DuckDB agree bit-for-bit, including touch cases."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    dx = f"({x} - {cx})"
    dy = f"({y} - {cy})"
    conds = [
        f"ABS({dx}) <= 4 * {s} + {w}",
        f"ABS({dy}) <= 4 * {s} + {h}",
        f"ABS(3 * {dx} + {dy}) <= 12 * {s} + 3 * {w} + {h}",
        f"ABS({dx} + 3 * {dy}) <= 12 * {s} + {w} + 3 * {h}",
        f"ABS({dx} - 3 * {dy}) <= 12 * {s} + {w} + 3 * {h}",
        f"ABS(3 * {dx} - {dy}) <= 12 * {s} + 3 * {w} + {h}",
    ]
    return "(" + " AND ".join(conds) + ")"


def rect_in_octagon_sql_pred(x: str, y: str, w: str, h: str, nk: str) -> str:
    """SQL predicate: nation {nk}'s octagon CONTAINS the axis-aligned rect
    (center ({x},{y}), half-extents {w},{h}).

    All four rect corners inside every closed half-plane of the convex
    octagon — per CCW edge (direction (dx,dy), inside = cross ≥ 0) the
    corner minimizing the cross product shifts it by exactly
    s·(|dx|·h + |dy|·w), so the containment test is one inequality per
    edge. For a positive-area rect inside a convex polygon with no
    axis-aligned edges this is equivalent to OGC contains (the rect cannot
    embed in the boundary), and the arithmetic is exact in double
    (coordinates ≤27 significand bits, integer multipliers ≤8), so
    Spark's kernel and DuckDB agree bit-for-bit including touch cases."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    terms = []
    n = len(OCTAGON)
    for i in range(n):
        x1, y1 = OCTAGON[i]
        x2, y2 = OCTAGON[(i + 1) % n]
        dx, dy = x2 - x1, y2 - y1
        terms.append(
            f"(({s} * {dx}) * ({y} - {cy} - {s} * {y1}) - "
            f"({s} * {dy}) * ({x} - {cx} - {s} * {x1}) >= "
            f"{s} * ({abs(dx)} * {h} + {abs(dy)} * {w}))"
        )
    return "(" + " AND ".join(terms) + ")"


def rect_octagon_withindist_sql_pred(x: str, y: str, w: str, h: str,
                                     nk: str, d: int) -> str:
    """SQL predicate: distance(rect, octagon) ≤ {d} — boundary-inclusive,
    for the axis-aligned rect (center ({x},{y}), half-extents {w},{h}) and
    nation {nk}'s octagon.

    Exact decomposition: SAT-intersects (distance 0) ∨ some rect corner
    within d of an octagon edge (division-free 3-case point-segment form:
    endpoint / endpoint / cross² ≤ d²·len²) ∨ some octagon vertex within d
    of a rect edge (same 3-case form, rect segments in WKB ring order).
    Interior-interior closest pairs cannot occur (no octagon edge is
    axis-parallel), so the feature sweep is complete. Every subexpression
    is the same IEEE double tree the ``batch_within_distance`` kernel
    evaluates — same operands, same order — so Spark and DuckDB agree
    bit-for-bit including ties."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    d2 = d * d
    terms = [rect_octagon_sql_pred(x, y, w, h, nk)]
    n = len(OCTAGON)
    # rect corners × octagon edges (3-case exact point-segment test)
    corners = [(f"({x} - {w})", f"({y} - {h})"), (f"({x} + {w})", f"({y} - {h})"),
               (f"({x} + {w})", f"({y} + {h})"), (f"({x} - {w})", f"({y} + {h})")]
    for i in range(n):
        x1t, y1t = OCTAGON[i]
        x2t, y2t = OCTAGON[(i + 1) % n]
        ex_t, ey_t = x2t - x1t, y2t - y1t
        len2_t = ex_t * ex_t + ey_t * ey_t  # template; scales by s²
        ax = f"({cx} + {s} * {x1t})"
        ay = f"({cy} + {s} * {y1t})"
        bx = f"({cx} + {s} * {x2t})"
        by = f"({cy} + {s} * {y2t})"
        ex = f"({s} * {ex_t})"
        ey = f"({s} * {ey_t})"
        len2 = f"({len2_t} * {s} * {s})"
        for qx, qy in corners:
            rx = f"({qx} - {ax})"; ry = f"({qy} - {ay})"
            sx = f"({qx} - {bx})"; sy = f"({qy} - {by})"
            dot = f"({rx} * {ex} + {ry} * {ey})"
            cross = f"({rx} * {ey} - {ry} * {ex})"
            terms.append(
                f"(CASE WHEN {dot} <= 0.0 THEN {rx} * {rx} + {ry} * {ry} <= {d2} "
                f"WHEN {dot} >= {len2} THEN {sx} * {sx} + {sy} * {sy} <= {d2} "
                f"ELSE {cross} * {cross} <= {d2} * {len2} END)"
            )
    # octagon vertices × rect edges (3-case form, WKB ring order/direction:
    # (x-w,y-h) → (x+w,y-h) → (x+w,y+h) → (x-w,y+h) → close)
    ring = [(f"({x} - {w})", f"({y} - {h})"), (f"({x} + {w})", f"({y} - {h})"),
            (f"({x} + {w})", f"({y} + {h})"), (f"({x} - {w})", f"({y} + {h})"),
            (f"({x} - {w})", f"({y} - {h})")]
    for tx, ty in OCTAGON:
        qx = f"({cx} + {s} * {tx})"
        qy = f"({cy} + {s} * {ty})"
        for k in range(4):
            ax, ay = ring[k]
            bx, by = ring[k + 1]
            ex = f"({bx} - {ax})"; ey = f"({by} - {ay})"
            len2 = f"({ex} * {ex} + {ey} * {ey})"
            rx = f"({qx} - {ax})"; ry = f"({qy} - {ay})"
            sx = f"({qx} - {bx})"; sy = f"({qy} - {by})"
            dot = f"({rx} * {ex} + {ry} * {ey})"
            cross = f"({rx} * {ey} - {ry} * {ex})"
            terms.append(
                f"(CASE WHEN {dot} <= 0.0 THEN {rx} * {rx} + {ry} * {ry} <= {d2} "
                f"WHEN {dot} >= {len2} THEN {sx} * {sx} + {sy} * {sy} <= {d2} "
                f"ELSE {cross} * {cross} <= {d2} * {len2} END)"
            )
    return "(" + " OR ".join(terms) + ")"


def rect_octagon_dist2_sql(x: str, y: str, w: str, h: str, nk: str) -> str:
    """SQL expression: squared facet distance between the axis-aligned rect
    and nation {nk}'s octagon — 0.0 when they intersect (SAT pred), else
    LEAST over the same vertex/facet feature sweep ``batch_distance2``
    evaluates, each term the identical IEEE double tree (3-case
    point-segment: endpoint |p−a|² / endpoint |p−b|² / perpendicular
    cross²·len²⁻¹), so Spark and DuckDB produce bit-identical values and
    rank orders."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    terms = []
    n = len(OCTAGON)

    def pt_seg(qx, qy, ax, ay, bx, by, ex, ey, len2):
        rx = f"({qx} - {ax})"; ry = f"({qy} - {ay})"
        sx = f"({qx} - {bx})"; sy = f"({qy} - {by})"
        dot = f"({rx} * {ex} + {ry} * {ey})"
        cross = f"({rx} * {ey} - {ry} * {ex})"
        return (
            f"(CASE WHEN {dot} <= 0.0 THEN {rx} * {rx} + {ry} * {ry} "
            f"WHEN {dot} >= {len2} THEN {sx} * {sx} + {sy} * {sy} "
            f"ELSE {cross} * {cross} / {len2} END)"
        )

    corners = [(f"({x} - {w})", f"({y} - {h})"), (f"({x} + {w})", f"({y} - {h})"),
               (f"({x} + {w})", f"({y} + {h})"), (f"({x} - {w})", f"({y} + {h})")]
    for i in range(n):
        x1t, y1t = OCTAGON[i]
        x2t, y2t = OCTAGON[(i + 1) % n]
        ex_t, ey_t = x2t - x1t, y2t - y1t
        ax = f"({cx} + {s} * {x1t})"; ay = f"({cy} + {s} * {y1t})"
        bx = f"({cx} + {s} * {x2t})"; by = f"({cy} + {s} * {y2t})"
        ex = f"({s} * {ex_t})"; ey = f"({s} * {ey_t})"
        len2 = f"({ex_t * ex_t + ey_t * ey_t} * {s} * {s})"
        for qx, qy in corners:
            terms.append(pt_seg(qx, qy, ax, ay, bx, by, ex, ey, len2))
    ring = corners + [corners[0]]
    for tx, ty in OCTAGON:
        qx = f"({cx} + {s} * {tx})"; qy = f"({cy} + {s} * {ty})"
        for kseg in range(4):
            ax, ay = ring[kseg]
            bx, by = ring[kseg + 1]
            ex = f"({bx} - {ax})"; ey = f"({by} - {ay})"
            len2 = f"({ex} * {ex} + {ey} * {ey})"
            terms.append(pt_seg(qx, qy, ax, ay, bx, by, ex, ey, len2))
    sat = rect_octagon_sql_pred(x, y, w, h, nk)
    return (
        f"(CASE WHEN {sat} THEN 0.0 ELSE LEAST({', '.join(terms)}) END)"
    )


_OCT_NORMALS = [(3, 1), (1, 3), (1, -3), (3, -1)]  # edge normals of OCTAGON


def _oct_radius(ax: int, ay: int) -> int:
    """max |(ax,ay)·t| over the template vertices (octagon half-projection
    per unit scale)."""
    return max(abs(ax * tx + ay * ty) for tx, ty in OCTAGON)


def seg_octagon_sql_pred(x1: str, y1: str, x2: str, y2: str, nk: str,
                         seg_normal: tuple[int, int]) -> str:
    """SQL predicate: the segment ({x1},{y1})→({x2},{y2}) INTERSECTS nation
    {nk}'s octagon (boundary-inclusive). Separating-axis test over the
    octagon's 4 edge normals plus the segment's own normal (which the caller
    supplies as constant integers — our derived segments have fixed
    directions). Exact: all multipliers ≤ 4, coordinates ≤ 27 significand
    bits."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    conds = []
    axes = list(_OCT_NORMALS)
    if seg_normal not in axes and (-seg_normal[0], -seg_normal[1]) not in axes:
        axes.append(seg_normal)
    for ax, ay in axes:
        rad = _oct_radius(ax, ay)
        octc = f"({ax} * {cx} + {ay} * {cy})"
        p1 = f"({ax} * ({x1}) + {ay} * ({y1}))"
        p2 = f"({ax} * ({x2}) + {ay} * ({y2}))"
        conds.append(
            f"(GREATEST({p1}, {p2}) >= {octc} - {rad} * {s} "
            f"AND LEAST({p1}, {p2}) <= {octc} + {rad} * {s})"
        )
    return "(" + " AND ".join(conds) + ")"


def hseg_octagon_strict_sql_pred(x1: str, x2: str, y: str, nk: str) -> str:
    """SQL predicate: the OPEN horizontal segment ({x1},{y})→({x2},{y})
    (caller guarantees x1 < x2) meets nation {nk}'s octagon INTERIOR — the
    II entry of the DE-9IM for the poly×line pair. Strict separating-axis
    form of :func:`seg_octagon_sql_pred`: the relative interiors of two
    convex sets intersect iff NO candidate axis (octagon edge normals +
    the segment's normal) properly separates them, i.e. every axis
    projection overlaps with POSITIVE length. Every octagon normal has
    ax > 0, so with x1 < x2 the projection extremes are closed-form (no
    GREATEST/LEAST). All products integer × dyadic — exact doubles."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    s = f"(1 + ({nk} % 2))"
    conds = []
    for ax, ay in _OCT_NORMALS:
        assert ax > 0
        rad = _oct_radius(ax, ay)
        octc = f"({ax} * {cx} + {ay} * {cy})"
        pmin = f"({ax} * ({x1}) + {ay} * ({y}))"
        pmax = f"({ax} * ({x2}) + {ay} * ({y}))"
        conds.append(
            f"({pmax} > {octc} - {rad} * {s} AND {pmin} < {octc} + {rad} * {s})"
        )
    # the segment's own normal (0, 1): projection is the single value y
    rad = _oct_radius(0, 1)
    conds.append(
        f"(({y}) > {cy} - {rad} * {s} AND ({y}) < {cy} + {rad} * {s})"
    )
    return "(" + " AND ".join(conds) + ")"


def snapped_rect_corners_sql(pid: str, x: str, y: str) -> tuple[str, str, str, str]:
    """(x1, y1, x2, y2) SQL expressions of the INTEGER-SNAPPED event rect:
    lower-left = floor of the LCG point, extents 1+pid%3 × 1+pid%2. Integer
    corners make edge-to-edge contact (touches) common and exactly
    representable — valid in both Spark SQL and DuckDB."""
    x1 = f"CAST(FLOOR({x}) AS DOUBLE)"
    y1 = f"CAST(FLOOR({y}) AS DOUBLE)"
    return (x1, y1, f"({x1} + (1 + {pid} % 3))", f"({y1} + (1 + {pid} % 2))")


def snapped_rect_corners(pid: np.ndarray, x: np.ndarray, y: np.ndarray):
    """numpy twin of :func:`snapped_rect_corners_sql`."""
    pid = np.asarray(pid, dtype=np.int64)
    x1 = np.floor(np.asarray(x, dtype=np.float64))
    y1 = np.floor(np.asarray(y, dtype=np.float64))
    return x1, y1, x1 + (1 + pid % 3), y1 + (1 + pid % 2)


def rect_rings(x1, y1, x2, y2) -> np.ndarray:
    """(n, 5, 2) closed rings (x1,y1)→(x2,y1)→(x2,y2)→(x1,y2)→(x1,y1) of
    the axis-aligned rects with the given corner arrays."""
    return np.stack([np.stack([x1, x2, x2, x1, x1], axis=1),
                     np.stack([y1, y1, y2, y2, y1], axis=1)], axis=2)


def rects_touch_sql_pred(ax1: str, ay1: str, ax2: str, ay2: str,
                         bx1: str, by1: str, bx2: str, by2: str) -> str:
    """SQL predicate: axis-aligned rects a and b TOUCH (boundaries meet,
    interiors disjoint) — closed form: the envelope intersection is
    non-empty but degenerate in at least one axis. Exact on the snapped
    integer corners."""
    ox1 = f"GREATEST({ax1}, {bx1})"
    oy1 = f"GREATEST({ay1}, {by1})"
    ox2 = f"LEAST({ax2}, {bx2})"
    oy2 = f"LEAST({ay2}, {by2})"
    return (
        f"({ox1} <= {ox2} AND {oy1} <= {oy2} "
        f"AND ({ox1} = {ox2} OR {oy1} = {oy2}))"
    )


def nation_rect_corners_sql(nk: str) -> tuple[str, str, str, str]:
    """(x1, y1, x2, y2) SQL expressions of :func:`nation_rect` — integer
    corners, valid in both Spark SQL and DuckDB."""
    cx = f"(10 + ({nk} % 5) * 20)"
    cy = f"(10 + (CAST(FLOOR({nk} / 5) AS BIGINT)) * 20)"
    w = f"(3 + ({nk} % 4))"
    h = f"(2 + ({nk} % 3))"
    return (f"CAST({cx} - {w} AS DOUBLE)", f"CAST({cy} - {h} AS DOUBLE)",
            f"CAST({cx} + {w} AS DOUBLE)", f"CAST({cy} + {h} AS DOUBLE)")


def nation_radius(nk: int) -> float:
    return float(5 + (nk % 3) * 2)


def nation_radius_sql(nk: str) -> str:
    return f"(5 + ({nk} % 3) * 2)"


def sql_double(v: float) -> str:
    """A float constant as portable SQL that both Spark and DuckDB type as
    DOUBLE (bare float literals become DECIMAL in DuckDB)."""
    if v == int(v):
        return f"CAST({int(v)} AS DOUBLE)"
    num = v * 1048576.0
    if num == int(num):
        return f"(CAST({int(num)} AS DOUBLE) / CAST(1048576 AS DOUBLE))"
    return f"CAST('{v!r}' AS DOUBLE)"


def morton_sql_expr(ix: str, iy: str, level: int) -> str:
    """Bit-interleave (Z-order) as pure integer arithmetic — matches
    kernels.cells.morton_encode; valid in Spark SQL and DuckDB."""
    terms = []
    for b in range(level):
        p2 = 1 << b
        terms.append(f"(CAST(FLOOR({ix} / {p2}) AS BIGINT) % 2) * {1 << (2 * b)}")
        terms.append(f"(CAST(FLOOR({iy} / {p2}) AS BIGINT) % 2) * {1 << (2 * b + 1)}")
    return "(" + " + ".join(terms) + ")"
