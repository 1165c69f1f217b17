"""Editable triangle mesh + constrained Delaunay triangulation.

The mesh mirrors the reference's ``Triangulate/Tri/Tri.cs`` conventions:
vertices CCW, edge i runs from vertex i to vertex next(i), the adjacent
tri across edge i is ``adj[i]``, and the edge opposite vertex v is
``next(v)`` (Tri.cs:679-682).

``constrained_delaunay`` builds the unique (up to cocircular ties)
constrained Delaunay triangulation of a point set with required edges:
plain Delaunay first (``triangulate.delaunay_triangulation``, exact
in-circle), then each missing constraint is recovered by flipping the
edges that cross it, then all non-constrained edges are re-legalized by
in-circle flips. This is the same end state as the reference's
ear-clip + ``TriDelaunayImprover`` pipeline
(``Triangulate/Polygon/ConstrainedDelaunayTriangulator.cs:63-98``), reached
from the opposite direction.
"""

from __future__ import annotations

import math

import numpy as np

from .triangulate import _in_circumcircle, _orient, delaunay_triangulation


def _next(i: int) -> int:
    return (i + 1) % 3


class Tri:
    __slots__ = ("v", "adj", "alive")

    def __init__(self, a: int, b: int, c: int):
        self.v = [a, b, c]
        self.adj: list[Tri | None] = [None, None, None]
        self.alive = True

    # -- Tri.cs accessor analogs -----------------------------------------
    def index_of_adjacent(self, tri: "Tri") -> int:
        for i in range(3):
            if self.adj[i] is tri:
                return i
        return -1

    def edge(self, i: int) -> tuple[int, int]:
        return self.v[i], self.v[_next(i)]

    def has_edge(self, a: int, b: int) -> int:
        """Edge index of (a, b) in either direction, or -1."""
        for i in range(3):
            u, w = self.edge(i)
            if (u == a and w == b) or (u == b and w == a):
                return i
        return -1

    def remove(self):
        """Detach from neighbors (Tri.cs Remove)."""
        for i in range(3):
            n = self.adj[i]
            if n is not None:
                j = n.index_of_adjacent(self)
                if j >= 0:
                    n.adj[j] = None
                self.adj[i] = None
        self.alive = False


class TriMesh:
    def __init__(self, pts: np.ndarray, tris: list[Tri]):
        self.pts = pts
        self.tris = tris

    def length(self, t: Tri, i: int) -> float:
        a, b = t.edge(i)
        return math.hypot(
            self.pts[b, 0] - self.pts[a, 0], self.pts[b, 1] - self.pts[a, 1]
        )

    def live(self) -> list[Tri]:
        return [t for t in self.tris if t.alive]


def _build_mesh(pts: np.ndarray, triples: list[tuple[int, int, int]]) -> TriMesh:
    tris = [Tri(*t) for t in triples]
    edge_owner: dict[tuple[int, int], tuple[Tri, int]] = {}
    for t in tris:
        for i in range(3):
            a, b = t.edge(i)
            other = edge_owner.get((b, a))
            if other is not None:
                ot, oi = other
                t.adj[i] = ot
                ot.adj[oi] = t
            edge_owner[(a, b)] = (t, i)
    return TriMesh(pts, tris)


def _flip(mesh: TriMesh, t: Tri, i: int) -> tuple[Tri, Tri]:
    """Flip the edge i of t shared with its neighbor; returns the two new
    tris. Orientation is preserved (both inputs CCW → both outputs CCW)."""
    n = t.adj[i]
    j = n.index_of_adjacent(t)
    a, b = t.edge(i)          # shared edge a→b in t, b→a in n
    p = t.v[(i + 2) % 3]      # apex of t
    q = n.v[(j + 2) % 3]      # apex of n
    t2 = Tri(p, a, q)
    n2 = Tri(q, b, p)
    # external neighbors: t edges (next, prev of i), n edges likewise
    t_after = t.adj[_next(i)]        # edge b→p
    t_before = t.adj[(i + 2) % 3]    # edge p→a
    n_after = n.adj[_next(j)]        # edge a→q
    n_before = n.adj[(j + 2) % 3]    # edge q→b

    def _link(tri: Tri, idx: int, nb: Tri | None, old: Tri):
        tri.adj[idx] = nb
        if nb is not None:
            k = nb.index_of_adjacent(old)
            if k >= 0:
                nb.adj[k] = tri

    # t2 = (p, a, q): edge0 p→a, edge1 a→q, edge2 q→p
    _link(t2, 0, t_before, t)
    _link(t2, 1, n_after, n)
    # n2 = (q, b, p): edge0 q→b, edge1 b→p, edge2 p→q
    _link(n2, 0, n_before, n)
    _link(n2, 1, t_after, t)
    t2.adj[2] = n2
    n2.adj[2] = t2
    t.alive = False
    n.alive = False
    mesh.tris.append(t2)
    mesh.tris.append(n2)
    return t2, n2


def _segments_cross(p, a, b, c, d) -> bool:
    """Proper crossing of open segments ab × cd (shared endpoints → False)."""
    d1 = _orient(p[c][0], p[c][1], p[d][0], p[d][1], p[a][0], p[a][1])
    d2 = _orient(p[c][0], p[c][1], p[d][0], p[d][1], p[b][0], p[b][1])
    d3 = _orient(p[a][0], p[a][1], p[b][0], p[b][1], p[c][0], p[c][1])
    d4 = _orient(p[a][0], p[a][1], p[b][0], p[b][1], p[d][0], p[d][1])
    return ((d1 > 0) != (d2 > 0)) and ((d3 > 0) != (d4 > 0)) and (
        d1 != 0 or d2 != 0) and (d3 != 0 or d4 != 0)


def constrained_delaunay(
    pts: np.ndarray, constraints: set[frozenset[int]]
) -> TriMesh:
    """CDT of ``pts`` containing every constraint edge (vertex-id pairs)."""
    mesh = _build_mesh(pts, delaunay_triangulation(pts))
    p = mesh.pts
    for con in sorted(constraints, key=lambda c: tuple(sorted(c))):
        a, b = sorted(con)
        if a == b:
            continue
        # flip crossing edges until the constraint edge exists
        guard = 0
        while not any(
            t.alive and t.has_edge(a, b) >= 0 for t in mesh.tris
        ):
            guard += 1
            if guard > 10000:
                raise RuntimeError("constraint recovery did not converge")
            flipped = False
            for t in list(mesh.tris):
                if not t.alive:
                    continue
                for i in range(3):
                    u, w = t.edge(i)
                    if {u, w} & {a, b}:
                        continue
                    if t.adj[i] is None:
                        continue
                    if frozenset((u, w)) in constraints:
                        continue
                    if _segments_cross(p, u, w, a, b):
                        # flippable only if the union quad is strictly convex
                        n = t.adj[i]
                        j = n.index_of_adjacent(t)
                        apx_t = t.v[(i + 2) % 3]
                        apx_n = n.v[(j + 2) % 3]
                        o1 = _orient(p[apx_t][0], p[apx_t][1], p[apx_n][0],
                                     p[apx_n][1], p[u][0], p[u][1])
                        o2 = _orient(p[apx_t][0], p[apx_t][1], p[apx_n][0],
                                     p[apx_n][1], p[w][0], p[w][1])
                        if (o1 > 0) == (o2 > 0):
                            continue  # non-convex quad — try another edge
                        _flip(mesh, t, i)
                        flipped = True
                        break
                if flipped:
                    break
            if not flipped:
                raise RuntimeError("constraint edge unrecoverable")
    _legalize(mesh, constraints)
    mesh.tris = [t for t in mesh.tris if t.alive]
    return mesh


def _legalize(mesh: TriMesh, constraints: set[frozenset[int]]):
    """Restore the Delaunay property on every non-constrained edge."""
    p = mesh.pts
    changed = True
    rounds = 0
    while changed and rounds < 200:
        changed = False
        rounds += 1
        for t in list(mesh.tris):
            if not t.alive:
                continue
            for i in range(3):
                n = t.adj[i]
                if n is None or not n.alive:
                    continue
                a, b = t.edge(i)
                if frozenset((a, b)) in constraints:
                    continue
                j = n.index_of_adjacent(t)
                q = n.v[(j + 2) % 3]
                va, vb, vc = t.v
                if _in_circumcircle(
                    p[va, 0], p[va, 1], p[vb, 0], p[vb, 1],
                    p[vc, 0], p[vc, 1], p[q, 0], p[q, 1],
                ):
                    apx_t = t.v[(i + 2) % 3]
                    o1 = _orient(p[apx_t][0], p[apx_t][1], p[q][0], p[q][1],
                                 p[a][0], p[a][1])
                    o2 = _orient(p[apx_t][0], p[apx_t][1], p[q][0], p[q][1],
                                 p[b][0], p[b][1])
                    if (o1 > 0) == (o2 > 0):
                        continue
                    _flip(mesh, t, i)
                    changed = True
                    break
