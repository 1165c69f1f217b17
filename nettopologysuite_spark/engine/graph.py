"""Connected components over a Spark edge table — the one CC operator the
engine's clustering queries share (near-duplicate clusters, DBSCAN,
ST_ClusterWithin, raster polygonize).

One rule at every level, chosen from a measured size instead of caller
options (the driver-vs-distributed choice *To Partition, or Not to
Partition* argues for joins):

1. collect at most ``LOCAL_MAX_EDGES + 1`` edges (one bounded job; a
   quotient graph, whose edge count is already known, skips it when it
   is larger);
2. all of them fit → one exact solve on the driver (numpy min-hooking +
   pointer jumping over the collected edge list);
3. otherwise two rounds of min-label propagation collapse every dense
   neighbourhood to its minimum and the edges contract to the label
   quotient graph, which is checkpointed;
4. the quotient graph recurses through the same rule while it shrinks
   below ``STALL_RATIO`` of its input; a quotient that stalls (an already
   local-minimum-free structure, e.g. a long path) runs alternating
   large-star / small-star rounds instead (Kiveris et al., "Connected
   Components in MapReduce and Beyond": O(log n) rounds on any shape).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .session import local_frame

#: largest edge count solved on the driver; above it the graph contracts
#: on the cluster first (200k id pairs are a few MB of driver memory)
LOCAL_MAX_EDGES = 200_000
#: a contraction level that keeps at least this share of its input edges
#: has stalled — the quotient goes to star rounds instead of recursing
STALL_RATIO = 0.7


def connected_components(edges: DataFrame) -> DataFrame:
    """(a, b) undirected edges → (node, label) with label = the minimum
    node id of the node's component, one row per node that appears in
    ``edges``.

    Each undirected edge must appear at least once, in either
    orientation; duplicates and self-loops are allowed (a node whose only
    edge is a self-loop labels itself). ``a`` and ``b`` share one orderable,
    non-NULL type, which the output keeps. ``edges`` is read several times, so
    callers hand in a frame that is cheap to re-read (cached,
    checkpointed, or derived from one).
    """
    return _components(edges)


def _components(edges: DataFrame, n: int | None = None) -> DataFrame:
    """``n``: the edge count of ``edges`` when already known."""
    if n is None or n <= LOCAL_MAX_EDGES:
        pdf = edges.select("a", "b").limit(LOCAL_MAX_EDGES + 1).toPandas()
        if len(pdf) <= LOCAL_MAX_EDGES:
            return _solve_local(edges, pdf)
        n = edges.count()  # only the stall test below needs it
    node_map, quotient = _contract(edges)
    n_q = quotient.count()  # materialized by the checkpoint — cheap
    if n_q > LOCAL_MAX_EDGES and n_q >= STALL_RATIO * n:
        roots = _star_rounds(quotient)
    else:
        roots = _components(quotient, n_q)
    # nodes absent from ``roots`` are their own component minimum
    return node_map.join(
        roots.select(F.col("node").alias("l"), "label"), "l", "left"
    ).select("node", F.coalesce(F.col("label"), F.col("l")).alias("label"))


def _solve_local(edges: DataFrame, pdf: pd.DataFrame) -> DataFrame:
    """Exact driver-side solve of ``edges``, collected whole as ``pdf``:
    ids factorized in sorted order so that the smallest code of a
    component is its minimum id."""
    typ = edges.schema["a"].dataType
    schema = StructType([StructField("node", typ), StructField("label", typ)])
    n = len(pdf)
    codes, ids = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True), sort=True
    )
    ids = np.asarray(ids)
    root = _min_roots(codes[:n], codes[n:], len(ids))
    return local_frame(
        edges.sparkSession, pd.DataFrame({"node": ids, "label": ids[root]}), schema
    )


def _min_roots(u, v, k: int):
    """Component minimum of every node 0..k−1 of the edge list (u, v):
    each pass hooks the larger root of every cross-tree edge under the
    smaller one, then pointer jumping flattens the forest again. A parent
    is never larger than its child, so every root is its tree's minimum."""
    parent = np.arange(k)
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            return parent
        np.minimum.at(parent, np.maximum(ru, rv)[cross],
                      np.minimum(ru, rv)[cross])
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _contract(edges: DataFrame):
    """Two rounds of min-label propagation, then the label quotient graph.

    Round 1: l1(u) = min(u, Γ(u)). Round 2: l2(u) = min over v ∈ Γ(u) of
    l1(v) — this already includes l1(u), since every neighbour v has
    l1(v) ≤ u and the smallest neighbour has l1(v) ≤ v. Labels stay inside
    their component, so contracting edges to label pairs is exact.

    Returns (node_map (node, l), quotient (a, b) with a < b, distinct,
    checkpointed). Self-loop-only nodes keep a node_map row labelled by
    themselves.
    """
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    l1 = sym.groupBy("a").agg(F.min("b").alias("_mn")).select(
        "a", F.least(F.col("a"), F.col("_mn")).alias("l")
    ).localCheckpoint(eager=True)
    l2 = (
        sym.join(l1.select(F.col("a").alias("b"), F.col("l").alias("_nl")), "b")
        .groupBy("a").agg(F.min("_nl").alias("l"))
        .localCheckpoint(eager=True)
    )
    la = l2.select("a", F.col("l").alias("_la"))
    lb = l2.select(F.col("a").alias("b"), F.col("l").alias("_lb"))
    quotient = (
        edges.join(la, "a").join(lb, "b")
        .select(F.least("_la", "_lb").alias("a"),
                F.greatest("_la", "_lb").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return l2.withColumnRenamed("a", "node"), quotient


def _star_rounds(edges: DataFrame) -> DataFrame:
    """Alternating large-star / small-star rounds over self-loop-free
    edges until a full cycle leaves the edge set unchanged.

    Per half-round over the symmetrized adjacency, m(u) = min(Γ(u) ∪ {u});
    large-star rewires every greater neighbour v > u to m(u), small-star
    rewires every v ≤ u (and u itself) to m(u). The fixpoint is one star
    per component centred on its minimum, so → (node, label) for every
    non-minimum node; component minima have no row.
    """
    def half_round(cur: DataFrame, large: bool) -> DataFrame:
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = sym.groupBy("a").agg(F.min("b").alias("_mn")) \
            .select("a", F.least(F.col("a"), F.col("_mn")).alias("_m"))
        sel = sym.filter(F.col("b") > F.col("a")) if large \
            else sym.filter(F.col("b") <= F.col("a"))
        out = sel.join(m, "a").select(F.col("b").alias("a"), F.col("_m").alias("b"))
        if not large:
            out = out.union(m.select("a", F.col("_m").alias("b")))
        return out.filter(F.col("a") != F.col("b")).distinct() \
            .localCheckpoint(eager=True)  # truncate per-round lineage

    cur = edges
    while True:
        new = half_round(half_round(cur, large=True), large=False)
        if new.exceptAll(cur).isEmpty() and cur.exceptAll(new).isEmpty():
            return new.groupBy("a").agg(F.min("b").alias("label")) \
                .withColumnRenamed("a", "node")
        cur = new
