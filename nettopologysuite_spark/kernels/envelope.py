"""Vectorized envelope (bounding-box) ops.

Semantics follow the reference ``Geometries/Envelope.cs:1-934``
(Intersects/Contains/ExpandBy as closed-interval box algebra); here the
envelope is a struct of four float64 arrays so every op is a numpy
broadcast over whole batches.
"""

from __future__ import annotations

import numpy as np

from .geom import wkb_loads


def envelopes_of_wkb(blobs) -> np.ndarray:
    """(n, 4) array [minx, miny, maxx, maxy]; NaN rows for empty geoms.

    Fast path: batches of UNIFORM little-endian simple WKBs (points, or
    single-ring polygons/linestrings of equal vertex count — e.g. synthetic
    rects or grid tiles) are decoded as one numpy buffer, no per-row parse.
    """
    n = len(blobs)
    out = np.full((n, 4), np.nan, dtype=np.float64)
    if n == 0:
        return out
    first = blobs[0]
    L = len(first) if first else 0
    if (
        n >= 16 and L > 0
        and all(b is not None and len(b) == L for b in blobs)
    ):
        buf = np.frombuffer(b"".join(bytes(b) for b in blobs), dtype=np.uint8)
        buf = buf.reshape(n, L)
        # all headers identical? (endianness AND the full 4-byte type code)
        if L >= 5 and (buf[:, 0] == 1).all() and (buf[:, 1:5] == buf[0, 1:5]).all():
            gtype = int.from_bytes(bytes(first[1:5]), "little")
            if gtype == 1 and L == 21:  # POINT
                xy = buf[:, 5:21].copy().view("<f8").reshape(n, 2)
                out[:, 0] = xy[:, 0]
                out[:, 1] = xy[:, 1]
                out[:, 2] = xy[:, 0]
                out[:, 3] = xy[:, 1]
                return out
            if gtype == 2 and L >= 9 and (L - 9) % 16 == 0:  # LINESTRING
                npts = int.from_bytes(bytes(first[5:9]), "little")
                if L == 9 + 16 * npts and npts > 0 and (
                    buf[:, 5:9] == buf[0, 5:9]
                ).all():
                    xy = buf[:, 9:].copy().view("<f8").reshape(n, npts, 2)
                    out[:, 0] = xy[:, :, 0].min(axis=1)
                    out[:, 1] = xy[:, :, 1].min(axis=1)
                    out[:, 2] = xy[:, :, 0].max(axis=1)
                    out[:, 3] = xy[:, :, 1].max(axis=1)
                    return out
            if gtype == 3 and L >= 13 and (L - 13) % 16 == 0:  # POLYGON, 1 ring
                nrings = int.from_bytes(bytes(first[5:9]), "little")
                npts = int.from_bytes(bytes(first[9:13]), "little")
                if nrings == 1 and L == 13 + 16 * npts and npts > 0 and (
                    buf[:, 5:13] == buf[0, 5:13]
                ).all():
                    xy = buf[:, 13:].copy().view("<f8").reshape(n, npts, 2)
                    out[:, 0] = xy[:, :, 0].min(axis=1)
                    out[:, 1] = xy[:, :, 1].min(axis=1)
                    out[:, 2] = xy[:, :, 0].max(axis=1)
                    out[:, 3] = xy[:, :, 1].max(axis=1)
                    return out
    for i, b in enumerate(blobs):
        if not b:
            continue
        g = wkb_loads(bytes(b))
        out[i] = g.envelope()
    return out
