"""The uniform-WKB batch codec (``geom.uniform_wkb_coords`` / ``uniform_wkb``)
and its two readers: ``GeomBatch.from_wkb`` and ``envelopes_of_wkb`` must
agree with the per-row parser on every batch, whether or not the batch takes
the single-buffer path."""

import ast
import math
import struct
from pathlib import Path

import numpy as np
import pytest

from nettopologysuite_spark.engine import derive
from nettopologysuite_spark.kernels.batchgeom import GeomBatch, batch_distance2
from nettopologysuite_spark.kernels.envelope import envelopes_of_wkb
from nettopologysuite_spark.kernels.geom import (
    LINESTRING,
    POINT,
    POLYGON,
    Geom,
    linestring,
    point,
    polygon,
    uniform_wkb,
    uniform_wkb_coords,
    wkb_dumps,
    wkb_loads,
)

ROOT = Path(__file__).resolve().parent.parent

_RNG = np.random.default_rng(12)
_XY = _RNG.uniform(-50, 50, (20, 2)).round(3)


def _points(n=20):
    return [wkb_dumps(point(x, y)) for x, y in _XY[:n]]


def _lines(npts):
    return [wkb_dumps(linestring([(x + k, y - k * k) for k in range(npts)]))
            for x, y in _XY]


def _rects():
    return [wkb_dumps(polygon([(x, y), (x + 2, y), (x + 2, y + 1), (x, y + 1), (x, y)]))
            for x, y in _XY]


def _holed(x, y):
    return wkb_dumps(polygon(
        [(x, y), (x + 4, y), (x + 4, y + 4), (x, y + 4), (x, y)],
        [[(x + 1, y + 1), (x + 2, y + 1), (x + 2, y + 2), (x + 1, y + 2), (x + 1, y + 1)]],
    ))


def _with_row(blobs, i, blob):
    blobs = list(blobs)
    blobs[i] = blob
    return blobs


# name -> (blobs, takes the single-buffer path)
CASES = {
    "points": (_points(), True),
    "lines_2pt": (_lines(2), True),
    "lines_3pt": (_lines(3), True),
    "rects": (_rects(), True),
    "point_empty_in_points": (_with_row(_points(), 7, wkb_dumps(Geom(POINT))), False),
    "fewer_than_16_rows": (_points(10), False),
    "mixed_lengths": (_rects()[:10] + _lines(3)[10:], False),
    "big_endian_points": ([struct.pack(">BIdd", 0, POINT, x, y) for x, y in _XY], False),
    "holed_polygon_in_rects": (_with_row(_rects(), 3, _holed(1.0, 2.0)), False),
    "all_holed_polygons": ([_holed(x, y) for x, y in _XY], False),
    "none_row_in_points": (_with_row(_points(), 0, None), False),
}


def _per_row(blobs):
    return [wkb_loads(bytes(b)) if b else None for b in blobs]


@pytest.mark.parametrize("name", sorted(CASES))
def test_uniform_path_taken_only_for_uniform_batches(name):
    blobs, uniform = CASES[name]
    assert (uniform_wkb_coords(blobs) is not None) == uniform


@pytest.mark.parametrize("name", sorted(CASES))
def test_geom_batch_from_wkb_matches_per_row(name):
    blobs, _ = CASES[name]
    fast = GeomBatch.from_wkb(blobs)
    slow = GeomBatch(_per_row(blobs))
    for field in GeomBatch.__slots__:
        a, b = getattr(fast, field), getattr(slow, field)
        if field == "n":
            assert a == b
            continue
        assert a.dtype == b.dtype, field
        assert np.array_equal(a, b, equal_nan=a.dtype.kind == "f"), field


@pytest.mark.parametrize("name", sorted(CASES))
def test_envelopes_of_wkb_match_per_row(name):
    blobs, _ = CASES[name]
    expect = np.array([g.envelope() if g is not None else (math.nan,) * 4
                       for g in _per_row(blobs)])
    assert np.array_equal(envelopes_of_wkb(blobs), expect, equal_nan=True)


@pytest.mark.parametrize("gtype,npts", [(POINT, 1), (LINESTRING, 2), (LINESTRING, 3), (POLYGON, 5)])
def test_uniform_wkb_round_trips(gtype, npts):
    xy = _RNG.uniform(-1e6, 1e6, (17, npts, 2))
    blobs = uniform_wkb(gtype, xy)
    assert blobs == [wkb_dumps(wkb_loads(b)) for b in blobs]
    back = uniform_wkb_coords(blobs)
    assert back[0] == gtype and np.array_equal(back[1], xy)


def _old_rect_buffer(x1, y1, x2, y2):
    # the hand-built 93-byte entry buffer the codec replaced
    n = len(x1)
    buf = np.zeros((n, 93), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 3
    buf[:, 5] = 1
    buf[:, 9] = 5
    coords = np.empty((n, 10), dtype=np.float64)
    coords[:, 0::2] = np.stack([x1, x2, x2, x1, x1], axis=1)
    coords[:, 1::2] = np.stack([y1, y1, y2, y2, y1], axis=1)
    buf[:, 13:] = coords.view(np.uint8).reshape(n, 80)
    return [r.tobytes() for r in buf]


def _old_seg_buffer(xs, ys, w):
    # the hand-built 41-byte entry buffer the codec replaced
    n = len(xs)
    buf = np.zeros((n, 41), dtype=np.uint8)
    buf[:, 0] = 1
    buf[:, 1] = 2
    buf[:, 5] = 2
    coords = np.empty((n, 4), dtype=np.float64)
    coords[:, 0] = xs - w
    coords[:, 1] = ys
    coords[:, 2] = xs + w
    coords[:, 3] = ys
    buf[:, 9:] = coords.view(np.uint8).reshape(n, 32)
    return [r.tobytes() for r in buf]


def test_uniform_wkb_reproduces_the_entry_buffers():
    pid = np.arange(40, dtype=np.int64)
    xs, ys = derive.points_numpy(pid)
    w, h = derive.event_rect_dims(pid)
    corners = (xs - w, ys - h, xs + w, ys + h)
    assert uniform_wkb(POLYGON, derive.rect_rings(*corners)) == _old_rect_buffer(*corners)
    snapped = derive.snapped_rect_corners(pid, xs, ys)
    assert uniform_wkb(POLYGON, derive.rect_rings(*snapped)) == _old_rect_buffer(*snapped)
    wi = 1 + pid % 3
    segs = np.stack([np.stack([xs - wi, xs + wi], axis=1),
                     np.stack([ys, ys], axis=1)], axis=2)
    assert uniform_wkb(LINESTRING, segs) == _old_seg_buffer(xs, ys, wi)


def test_batch_distance2_point_empty_row_is_inf():
    blobs, _ = CASES["point_empty_in_points"]
    right = polygon([(100, 100), (101, 100), (101, 101), (100, 101), (100, 100)])
    lefts = np.arange(len(blobs))
    d2 = batch_distance2(GeomBatch.from_wkb(blobs), lefts, right)
    assert d2[7] == np.inf
    assert np.array_equal(d2, batch_distance2(GeomBatch(_per_row(blobs)), lefts, right))


# --- the byte layout lives in kernels/geom.py only -------------------------

_REINTERPRET_EXEMPT = {
    "nettopologysuite_spark/kernels/geom.py",  # the WKB codec itself
    "nettopologysuite_spark/engine/media.py",  # PPM/BMP image decoders
}


def _byte_reinterpretations(path: Path) -> list[int]:
    """Line numbers of ``frombuffer(...)`` and ``.view(<dtype>)`` calls."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and (
            (isinstance(node.func, ast.Attribute) and node.func.attr == "frombuffer")
            or (isinstance(node.func, ast.Name) and node.func.id == "frombuffer")
            or (isinstance(node.func, ast.Attribute) and node.func.attr == "view"
                and node.args)
        )
    ]


def test_byte_reinterpretation_only_in_the_wkb_codec():
    files = sorted((ROOT / "nettopologysuite_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    offenders = {
        rel: lines
        for f in files
        if (rel := f.relative_to(ROOT).as_posix()) not in _REINTERPRET_EXEMPT
        and (lines := _byte_reinterpretations(f))
    }
    assert offenders == {}
