"""KdTree with snap tolerance (Index/KdTree/KdTree.cs:1-496 semantics).

The reference's KdTree is an insertion-order 2-d tree whose Insert snaps a
new point onto an existing node within the tolerance (incrementing its
count) — the coordinate-level near-duplicate primitive. Query returns the
nodes inside an envelope.
"""

from __future__ import annotations

import math


class KdNode:
    __slots__ = ("x", "y", "data", "count", "left", "right")

    def __init__(self, x: float, y: float, data=None):
        self.x = x
        self.y = y
        self.data = data
        self.count = 1
        self.left: KdNode | None = None
        self.right: KdNode | None = None

    @property
    def point(self) -> tuple[float, float]:
        return (self.x, self.y)


class KdTree:
    def __init__(self, tolerance: float = 0.0):
        self.root: KdNode | None = None
        self.tolerance = float(tolerance)
        self._n = 0

    def __len__(self) -> int:
        return self._n

    # -- insert ----------------------------------------------------------
    def insert(self, x: float, y: float, data=None) -> KdNode:
        if self.root is None:
            self.root = KdNode(x, y, data)
            self._n += 1
            return self.root
        if self.tolerance > 0.0:
            match = self._best_match(x, y)
            if match is not None:
                match.count += 1
                return match
        return self._insert_exact(x, y, data)

    def _best_match(self, x: float, y: float) -> KdNode | None:
        """Nearest existing node within tolerance (KdTree.FindBestMatchNode:
        traversal prunes by the splitting plane expanded by the tolerance)."""
        best: list = [None, self.tolerance]  # node, best distance (<= tol)

        def visit(node: KdNode | None, odd: bool):
            if node is None:
                return
            d = math.hypot(node.x - x, node.y - y)
            if d <= best[1] and (best[0] is None or d < best[1]):
                best[0], best[1] = node, d
            split = node.x if not odd else node.y
            q = x if not odd else y
            if q - self.tolerance <= split:
                visit(node.left, not odd)
            if q + self.tolerance >= split:
                visit(node.right, not odd)

        visit(self.root, False)
        return best[0]

    def _insert_exact(self, x: float, y: float, data) -> KdNode:
        node = self.root
        odd = False
        while True:
            # exact duplicates snap regardless of tolerance
            if node.x == x and node.y == y:
                node.count += 1
                return node
            split = node.x if not odd else node.y
            q = x if not odd else y
            if q < split:
                if node.left is None:
                    node.left = KdNode(x, y, data)
                    self._n += 1
                    return node.left
                node = node.left
            else:
                if node.right is None:
                    node.right = KdNode(x, y, data)
                    self._n += 1
                    return node.right
                node = node.right
            odd = not odd

    # -- queries ----------------------------------------------------------
    def query(self, minx: float, miny: float, maxx: float, maxy: float) -> list[KdNode]:
        out: list[KdNode] = []

        def visit(node: KdNode | None, odd: bool):
            if node is None:
                return
            split = node.x if not odd else node.y
            lo, hi = (minx, maxx) if not odd else (miny, maxy)
            if lo <= split:
                visit(node.left, not odd)
            if minx <= node.x <= maxx and miny <= node.y <= maxy:
                out.append(node)
            if hi >= split:
                visit(node.right, not odd)

        visit(self.root, False)
        return out

    def all_nodes(self) -> list[KdNode]:
        out: list[KdNode] = []

        def visit(node: KdNode | None):
            if node is None:
                return
            visit(node.left)
            out.append(node)
            visit(node.right)

        visit(self.root)
        return out


def snap_cluster(points, tolerance: float) -> list[tuple[float, float, int]]:
    """Cluster points by KdTree snap insertion (insertion order matters, as
    in the reference): returns (x, y, count) per surviving node."""
    tree = KdTree(tolerance)
    for x, y in points:
        tree.insert(float(x), float(y))
    return [(n.x, n.y, n.count) for n in tree.all_nodes()]
