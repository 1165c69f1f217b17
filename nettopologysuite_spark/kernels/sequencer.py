"""LineSequencer (Operation/Linemerge/LineSequencer.cs semantics).

Orders a set of linestrings into sequences so that consecutive lines share
endpoints (reversing lines as needed), one Euler path per connected
component (sequenceable iff each component has ≤ 2 odd-degree nodes). The
whole sequence is oriented to preserve the direction of as many input lines
as possible (ties keep the traversal order).
"""

from __future__ import annotations

import numpy as np

from .geom import LINESTRING, MULTILINESTRING, Geom


def _endpoints(c: np.ndarray) -> tuple[tuple, tuple]:
    return (
        (float(c[0, 0]), float(c[0, 1])),
        (float(c[-1, 0]), float(c[-1, 1])),
    )


def sequence_lines(lines: list[Geom]) -> Geom | None:
    """MULTILINESTRING of the sequenced lines (each input line once,
    possibly reversed), or None when no sequence exists."""
    segs = []
    for g in lines:
        for leaf in g.flatten():
            if leaf.gtype == LINESTRING and leaf.coords is not None and len(leaf.coords) >= 2:
                segs.append(leaf.coords)
    if not segs:
        return None
    # graph: node -> list of (edge index, forward?)
    adj: dict[tuple, list[tuple[int, bool]]] = {}
    for ei, c in enumerate(segs):
        a, b = _endpoints(c)
        adj.setdefault(a, []).append((ei, True))
        adj.setdefault(b, []).append((ei, False))
    # connected components over edges
    comp = [-1] * len(segs)
    ncomp = 0
    for ei in range(len(segs)):
        if comp[ei] >= 0:
            continue
        stack = [ei]
        comp[ei] = ncomp
        while stack:
            e = stack.pop()
            for node in _endpoints(segs[e]):
                for fe, _f in adj[node]:
                    if comp[fe] < 0:
                        comp[fe] = ncomp
                        stack.append(fe)
        ncomp += 1
    ordered: list[tuple[int, bool]] = []  # (edge, forward)
    for ci in range(ncomp):
        edges = [ei for ei in range(len(segs)) if comp[ei] == ci]
        nodes: dict[tuple, int] = {}
        for ei in edges:
            for node in _endpoints(segs[ei]):
                nodes[node] = nodes.get(node, 0) + 1
        odd = sorted(n for n, d in nodes.items() if d % 2 == 1)
        if len(odd) > 2:
            return None  # component not sequenceable (Euler's theorem)
        start = odd[0] if odd else min(nodes)
        visited = [False] * len(segs)
        path: list[tuple[int, bool]] = []

        # Hierholzer with orientation-preserving edge preference
        def walk(node):
            stack = [(node, None)]
            out: list[tuple[int, bool]] = []
            while stack:
                cur, via = stack[-1]
                nxt = None
                cands = sorted(adj[cur], key=lambda t: (not t[1], t[0]))
                for ei2, fwd in cands:
                    if comp[ei2] == ci and not visited[ei2]:
                        nxt = (ei2, fwd)
                        break
                if nxt is None:
                    stack.pop()
                    if via is not None:
                        out.append(via)
                else:
                    ei2, fwd = nxt
                    visited[ei2] = True
                    a, b = _endpoints(segs[ei2])
                    stack.append((b if fwd else a, (ei2, fwd)))
            out.reverse()
            return out

        path = walk(start)
        # orient: keep the direction that preserves more input lines
        n_fwd = sum(1 for _e, f in path if f)
        if n_fwd * 2 < len(path):
            path = [(e, not f) for e, f in reversed(path)]
        ordered.extend(path)
    parts = []
    for ei, fwd in ordered:
        c = segs[ei] if fwd else segs[ei][::-1].copy()
        parts.append(Geom(LINESTRING, coords=c.copy()))
    return Geom(MULTILINESTRING, parts=parts)
