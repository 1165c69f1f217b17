"""Degenerate inputs to the cluster operators: empty input, one row,
repeated ids, NaN / ±inf / NULL coordinates, a NULL id, ``min_pts=1`` and
all-noise inputs must neither crash ``dbscan``, ``cluster_within`` or
``kmeans`` nor change their documented rows.

``dbscan`` answers from the driver when its ε-pair table fits
``graph.LOCAL_MAX_EDGES`` and distributed above it; every case runs on
both paths, which must return identical rows, and against a brute-force
reference of the documented rules: a point with a NULL id or a NULL or
non-finite coordinate is within ε of nothing (itself included), and rows
sharing an id are one point set whose neighbour ids count once each."""

import math

import numpy as np
import pytest

from nettopologysuite_spark.engine import graph
from nettopologysuite_spark.engine.cluster import cluster_within, dbscan, kmeans

NAN, INF = float("nan"), float("inf")
EPS = 0.5


def _blobs():
    rng = np.random.default_rng(5)
    pts = np.concatenate([rng.normal((2, 2), 0.3, (25, 2)),
                          rng.normal((6, 3), 0.4, (20, 2)),
                          rng.uniform(0, 9, (15, 2))])
    return [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]


# name → (rows, min_pts)
CASES = {
    "empty": ([], 2),
    "one_row": ([(1, 0.0, 0.0)], 2),
    # id 1 has three rows: two copies at the origin and one beside id 4,
    # so id 1 reaches {1, 2, 3, 4} (a core) and 2, 3 and 4 reach three
    # ids each (borders: id 1's copies count once)
    "repeated_ids": ([(1, 0.0, 0.0), (1, 0.0, 0.0), (2, 0.1, 0.0),
                      (3, 0.3, 0.0), (1, 5.0, 5.0), (4, 5.2, 5.0)], 4),
    "non_finite": ([(1, 0.0, 0.0), (2, 0.1, 0.0), (3, NAN, 0.0),
                    (4, INF, 0.0), (5, -INF, 1.0), (6, INF, INF),
                    (7, 0.2, NAN), (8, 1e300, 0.0), (9, 1e300, 0.0)], 2),
    "null_coordinate": ([(1, 0.0, 0.0), (2, 0.1, 0.0), (3, None, 0.0),
                         (4, 0.2, None)], 2),
    # k-means' smallest id has no x: it must neither seed nor crash
    "null_coordinate_seed": ([(1, None, 0.0), (2, 1.0, 0.0), (3, 5.0, 5.0)], 2),
    # the NULL-id point at 0.5 would make 1 and 2 cores if it counted
    "null_id": ([(None, 0.0, 0.0), (1, 0.1, 0.0), (None, 0.5, 0.0),
                 (2, 0.9, 0.0)], 2),
    "min_pts_1": ([(1, 0.0, 0.0), (2, 0.25, 0.0), (3, 9.0, 9.0),
                   (4, NAN, 0.0)], 1),
    "all_noise": ([(i, 3.0 * i, 0.0) for i in range(6)], 2),
    "blobs": (_blobs(), 4),
}


def _id_pairs(rows):
    """Unordered id pairs within EPS (self-pairs included), each once."""
    ok = [(i, x, y) for i, x, y in rows
          if None not in (i, x, y) and math.isfinite(x) and math.isfinite(y)]
    return {(min(p, q), max(p, q))
            for p, px, py in ok for q, qx, qy in ok
            if (px - qx) * (px - qx) + (py - qy) * (py - qy) <= EPS * EPS}


def _components(nodes, edges):
    """Min-id label of every node of the undirected graph."""
    label = {v: v for v in nodes}
    changed = True
    while changed:
        changed = False
        for p, q in edges:
            m = min(label[p], label[q])
            for v in (p, q):
                if label[v] != m:
                    label[v], changed = m, True
    return label


def _ref_dbscan(rows, min_pts):
    pairs = _id_pairs(rows)
    nbrs = {}
    for p, q in pairs:
        nbrs.setdefault(p, set()).add(q)
        nbrs.setdefault(q, set()).add(p)
    core = {v for v, s in nbrs.items() if len(s) >= min_pts}
    label = _components(core, [(p, q) for p, q in pairs
                               if p != q and p in core and q in core])
    out = []
    for i, _, _ in rows:
        if i in core:
            out.append((i, label[i], True))
        else:
            cands = [label[q] for q in nbrs.get(i, ()) if q in core]
            out.append((i, min(cands) if cands else None, False))
    return sorted(out, key=repr)


def _df(spark, rows):
    return spark.createDataFrame(rows, "pid long, x double, y double")


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(CASES))
def test_dbscan_paths_agree(spark, monkeypatch, name):
    rows, min_pts = CASES[name]
    df = _df(spark, rows)
    local = _rows(dbscan(df, EPS, min_pts))
    # no pair table fits a negative bound: every call takes the
    # distributed path, down to its connected components
    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", -1)
    distributed = _rows(dbscan(df, EPS, min_pts))
    assert local == distributed
    assert local == _ref_dbscan(rows, min_pts)


@pytest.mark.parametrize("name", sorted(CASES))
def test_cluster_within_degenerate(spark, name):
    rows, _ = CASES[name]
    pairs = _id_pairs(rows)
    label = _components({i for i, _, _ in rows if i is not None}, pairs)
    want = sorted(((i, label.get(i)) for i, _, _ in rows), key=repr)
    assert _rows(cluster_within(_df(spark, rows), EPS)) == want


@pytest.mark.parametrize("name", sorted(CASES))
def test_kmeans_degenerate(spark, name):
    """One row per input point, cluster ids within 0..k−1; a NULL id is
    assigned but never seeds a centre, so both clusters stay in use when
    two non-NULL ids exist; nor does a point with a NULL coordinate, which
    has no distance to any centre and lands in cluster 0."""
    rows, _ = CASES[name]
    got = _rows(kmeans(_df(spark, rows), k=2))
    ids = sorted((i for i, _, _ in rows), key=repr)
    assert sorted((i for i, _ in got), key=repr) == ids
    assert {c for _, c in got} <= {0, 1}
    if name == "null_id":
        assert dict(got)[1] == 0 and dict(got)[2] == 1
    if name == "null_coordinate_seed":
        assert dict(got) == {1: 0, 2: 0, 3: 1}
