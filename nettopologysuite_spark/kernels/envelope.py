"""Vectorized envelope (bounding-box) ops.

Semantics follow the reference ``Geometries/Envelope.cs:1-934``
(Intersects/Contains/ExpandBy as closed-interval box algebra); here the
envelope is a struct of four float64 arrays so every op is a numpy
broadcast over whole batches.
"""

from __future__ import annotations

import numpy as np

from .geom import uniform_wkb_coords, wkb_loads


def envelopes_of_wkb(blobs) -> np.ndarray:
    """(n, 4) array [minx, miny, maxx, maxy]; NaN rows for empty geoms.

    Uniform batches (``uniform_wkb_coords``: same-layout points, or
    linestrings / single-ring polygons of one vertex count, e.g. synthetic
    rects or grid tiles) take min/max over one decoded buffer, no per-row
    parse.
    """
    uniform = uniform_wkb_coords(blobs)
    if uniform is not None:
        _, xy = uniform
        return np.concatenate([xy.min(axis=1), xy.max(axis=1)], axis=1)
    out = np.full((len(blobs), 4), np.nan, dtype=np.float64)
    for i, b in enumerate(blobs):
        if not b:
            continue
        g = wkb_loads(bytes(b))
        out[i] = g.envelope()
    return out
