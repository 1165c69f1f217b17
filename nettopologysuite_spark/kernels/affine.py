"""Affine transformations (Geometries/Utilities/AffineTransformation.cs).

A 2×3 matrix [[m00 m01 m02], [m10 m11 m12]] applied to every coordinate —
pure numpy. Composition follows the reference: ``compose(A, B)`` applies B
first, then A (AffineTransformation.Compose semantics).
"""

from __future__ import annotations

import math

import numpy as np

from .geom import Geom


class AffineTransformation:
    __slots__ = ("m",)

    def __init__(self, m00=1.0, m01=0.0, m02=0.0, m10=0.0, m11=1.0, m12=0.0):
        self.m = np.array([[m00, m01, m02], [m10, m11, m12]], dtype=np.float64)

    # -- factories ---------------------------------------------------------
    @staticmethod
    def translation(dx: float, dy: float) -> "AffineTransformation":
        return AffineTransformation(1, 0, dx, 0, 1, dy)

    @staticmethod
    def scale_about(sx: float, sy: float, cx: float = 0.0, cy: float = 0.0) -> "AffineTransformation":
        return AffineTransformation(sx, 0, cx - sx * cx, 0, sy, cy - sy * cy)

    @staticmethod
    def rotation(theta: float, cx: float = 0.0, cy: float = 0.0) -> "AffineTransformation":
        c, s = math.cos(theta), math.sin(theta)
        return AffineTransformation(
            c, -s, cx - cx * c + cy * s, s, c, cy - cx * s - cy * c
        )

    @staticmethod
    def reflection(x0: float, y0: float, x1: float, y1: float) -> "AffineTransformation":
        """Reflection about the line (x0,y0)→(x1,y1)."""
        dx, dy = x1 - x0, y1 - y0
        ll = dx * dx + dy * dy
        c = (dx * dx - dy * dy) / ll
        s = 2 * dx * dy / ll
        t = AffineTransformation.translation(-x0, -y0)
        r = AffineTransformation(c, s, 0, s, -c, 0)
        back = AffineTransformation.translation(x0, y0)
        return back.compose_with(r).compose_with(t)

    # -- ops ----------------------------------------------------------------
    def compose_with(self, other: "AffineTransformation") -> "AffineTransformation":
        """this ∘ other (other applied first)."""
        a = np.vstack([self.m, [0, 0, 1]])
        b = np.vstack([other.m, [0, 0, 1]])
        out = AffineTransformation()
        out.m = (a @ b)[:2]
        return out

    def apply_coords(self, pts: np.ndarray) -> np.ndarray:
        if pts is None or len(pts) == 0:
            return pts
        return pts @ self.m[:, :2].T + self.m[:, 2]

    def transform(self, g: Geom) -> Geom:
        if g.coords is not None:
            return Geom(g.gtype, coords=self.apply_coords(g.coords))
        if g.rings:
            return Geom(g.gtype, rings=[self.apply_coords(r) for r in g.rings])
        return Geom(g.gtype, parts=[self.transform(p) for p in g.parts])
