"""connected_components against a brute-force BFS — once through the
driver solve and once with the driver bound at 0, which forces the
contraction levels, their recursion and (on a path) the star rounds."""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from nettopologysuite_spark.engine import graph  # noqa: E402


def _bfs_labels(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for start in adj:
        if start in out:
            continue
        seen, stack = {start}, [start]
        while stack:
            for v in adj[stack.pop()]:
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        lo = min(seen)
        out.update((v, lo) for v in seen)
    return out


def _path():
    # sequential ids: each contraction level shrinks a path by two edges
    # only, so the quotient stalls and goes to star rounds
    return [(f"n-{i:03d}", f"n-{i + 1:03d}") for i in range(80)]


def _cliques_and_chain():
    cliques = [(a, b) for base in (100, 200, 300)
               for a in range(base, base + 5) for b in range(a + 1, base + 5)]
    return cliques + [(400 + i, 401 + i) for i in range(12)] + [(304, 400)]


def _random_graph():
    rng = np.random.default_rng(1234)
    a = rng.integers(0, 400, 350)
    b = rng.integers(0, 400, 350)
    return [(int(x), int(y)) for x, y in zip(a, b)]


def _duplicates():
    # both orientations, repeats and self-loops (9 and 50 only have one)
    return [(1, 2), (2, 1), (1, 2), (3, 2), (3, 3), (9, 9), (50, 50),
            (7, 5), (5, 7), (6, 5)]


GRAPHS = {
    "path": (_path, "a string, b string"),
    "cliques_chain": (_cliques_and_chain, "a long, b long"),
    "random": (_random_graph, "a long, b long"),
    "duplicates": (_duplicates, "a long, b long"),
}


@pytest.mark.parametrize("local_max", [None, 0], ids=["driver", "distributed"])
@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_connected_components_matches_bfs(spark, monkeypatch, name, local_max):
    if local_max is not None:
        monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", local_max)
    make, schema = GRAPHS[name]
    rows = make()
    edges = spark.createDataFrame(rows, schema)
    out = graph.connected_components(edges)
    assert out.schema.simpleString() == (
        "struct<node:%s,label:%s>" % ((edges.schema["a"].dataType.simpleString(),) * 2)
    )
    got = [(r["node"], r["label"]) for r in out.collect()]
    assert len(got) == len({n for n, _ in got}), "node emitted twice"
    assert dict(got) == _bfs_labels(rows)


@pytest.mark.parametrize("local_max", [None, 0], ids=["driver", "distributed"])
def test_connected_components_empty(spark, monkeypatch, local_max):
    """Zero edges → an empty (node, label) frame typed from the input."""
    if local_max is not None:
        monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", local_max)
    for schema, typ in (("a long, b long", "bigint"),
                        ("a string, b string", "string")):
        out = graph.connected_components(spark.createDataFrame([], schema))
        assert out.schema.simpleString() == f"struct<node:{typ},label:{typ}>"
        assert out.collect() == []


def test_min_roots_long_path_and_random():
    """The vectorized driver solve against BFS on a shuffled 100k-node path
    (worst case for hooking) and on a sparse random graph."""
    rng = np.random.default_rng(5)
    n = 100_000
    perm = rng.permutation(n)
    u, v = perm[:-1], perm[1:]
    assert (graph._min_roots(u, v, n) == 0).all()

    u = rng.integers(0, 3000, 2000)
    v = rng.integers(0, 3000, 2000)
    want = _bfs_labels(zip(u.tolist(), v.tolist()))
    root = graph._min_roots(u, v, 3000)
    assert {i: int(root[i]) for i in want} == want
    isolated = set(range(3000)) - set(want)
    assert all(root[i] == i for i in isolated)
