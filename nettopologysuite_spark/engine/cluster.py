"""Density-based spatial clustering (DBSCAN) — the PostGIS
``ST_ClusterDBSCAN`` analog, distributed.

DBSCAN(eps, minPts): a point is CORE when ≥ ``min_pts`` points (itself
included) lie within ``eps``; core points within ``eps`` of each other
share a cluster (transitively); a non-core point within ``eps`` of a core
point is a BORDER member of that core's cluster (ties → the minimum
cluster label, which makes the assignment deterministic — PostGIS leaves
it arbitrary); everything else is noise (NULL cluster).

Shape (every Spark stage native, zero Python):

1. eps-grid cells (``floor(x/eps)``, ``floor(y/eps)``) — any eps-neighbor
   pair is in the same or an adjacent cell.
2. Each unordered within-eps pair once (``_eps_pairs_half``) from ONE
   equi-join: the left side explodes to its own cell and 4 forward
   neighbours (a 5-row native explode, ``a <= b`` in the own cell), the
   right side keeps its own cell; the exact ``dist² ≤ eps²`` refine stays
   in whole-stage codegen. The pair table is written to one eager
   checkpoint whose ``observe`` counts it at no extra job.
3. Size rule — the one ``graph.connected_components`` applies (*To
   Partition, or Not to Partition*): up to ``graph.LOCAL_MAX_EDGES``
   pairs, one collect and an exact numpy solve on the driver (degrees,
   core flags, core–core components by ``graph._min_roots``, the border
   rule) whose (id, cluster, is_core) rows go back as a local relation.
4. Above the bound, the same steps on the cluster over the checkpoint:
   degrees by one groupBy, labels by ``graph.connected_components`` over
   the core–core edges (contraction levels and star rounds — a giant
   percolation cluster at high density cannot make the round count
   explode), borders by one join + groupBy min.
5. Either way the assignments left-join back to the points. Label = min
   core id in the component.

At 100 TB the candidate join shuffles on eps-cell ids (partition-pruned
when storage is curve-ordered); dense hot cells are the same skew problem
as the PIP join and take the same salting (``pip_join_points_sortmerge``)
if a workload needs it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from . import graph
from .lsh import _observed
from .session import local_frame


def kmeans(points: DataFrame, k: int, max_iters: int = 10,
           id_col: str = "pid", x: str = "x", y: str = "y") -> DataFrame:
    """Deterministic Lloyd k-means over 2-D points — the PostGIS
    ``ST_ClusterKMeans`` analog. → (id, cluster_id) with stable cluster
    ids 0..k−1 (the init order).

    Determinism (PostGIS leaves seeding unspecified; this pins it):
    * init: the k points with the smallest ids among those with both
      coordinates (one tiny sorted limit; NULL ids last);
    * assignment: argmin of squared distance, ties to the LOWER cluster
      id (strict < on a running minimum);
    * update: centroid of the assigned set; an emptied cluster, or one
      whose points all have a NULL coordinate, keeps its previous center.

    Distributed shape: centers live in a k-row broadcast; each iteration
    is ONE map over the points (k distance expressions folded into a
    least/argmin projection — no explode, no crossJoin) plus ONE k-row
    groupBy. Convergence is checked on the k-row center table (driver
    collect of k scalars — bounded, never data-sized). Iterative
    algorithm → rows-only driver check; the pytest gate pins argmin
    optimality, monotone inertia, and centroid fixpoints instead.
    """
    import math

    pts = points.select(
        F.col(id_col).alias("_id"), F.col(x).alias("_x"), F.col(y).alias("_y")
    )
    # every Lloyd iteration is one full pass over the points; cache the
    # projected (id, x, y) table so the iterations scan memory instead of
    # re-reading parquet + re-deriving coordinates each round (guide §5:
    # persist exactly the reused frame; released before returning)
    pts = pts.persist()
    # a NULL id is no id: such a point is assigned, never a seed; a NULL
    # coordinate is no position, so its point never seeds either
    init = (
        pts.where(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .orderBy(F.col("_id").asc_nulls_last()).limit(k).collect()
    )
    centers = [(float(r["_x"]), float(r["_y"])) for r in init]
    if not centers:  # no point with a position: no centre to assign to
        pts.unpersist()
        return points.select(F.col(id_col), F.lit(0).alias("cluster_id"))

    def assign_col(cs):
        # one parsed SQL expression per iteration instead of ~90 py4j
        # Column-API roundtrips (the Lloyd loop rebuilds this every round —
        # driver-side plan construction was a visible fraction of the
        # iteration wall). `D` suffix keeps every centre literal a DOUBLE
        # (a bare decimal literal would parse as DECIMAL); repr() round-
        # trips the exact IEEE value, so the arithmetic is bit-identical.
        # A non-finite centre (NaN input coordinates reach it through avg)
        # has no such literal and goes through a string cast instead.
        def lit(v):
            return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"

        def d2(cx_, cy_):
            cx_, cy_ = lit(cx_), lit(cy_)
            return (f"((_x - {cx_}) * (_x - {cx_}) "
                    f"+ (_y - {cy_}) * (_y - {cy_}))")

        best_d = d2(*cs[0])
        cur = "0"
        for i, (cx_, cy_) in enumerate(cs[1:], start=1):
            di = d2(cx_, cy_)
            cur = f"(CASE WHEN {di} < {best_d} THEN {i} ELSE {cur} END)"
            best_d = f"least({best_d}, {di})"
        return F.expr(cur)

    for _ in range(max_iters):
        assigned = pts.withColumn("cluster_id", assign_col(centers))
        agg = (
            assigned.groupBy("cluster_id")
            .agg(F.avg("_x").alias("cx"), F.avg("_y").alias("cy"))
            .collect()
        )  # k rows — bounded driver traffic
        new_centers = list(centers)
        for r in agg:
            # a cluster whose points all lack a coordinate averages to
            # NULL and keeps its centre, like an emptied one
            if r["cx"] is not None and r["cy"] is not None:
                new_centers[int(r["cluster_id"])] = (float(r["cx"]), float(r["cy"]))
        moved = max(
            math.hypot(a[0] - b[0], a[1] - b[1])
            for a, b in zip(centers, new_centers)
        )
        centers = new_centers
        if moved == 0.0:
            break
    out = pts.withColumn("cluster_id", assign_col(centers)).select(
        F.col("_id").alias(id_col), "cluster_id"
    )
    # the returned plan re-derives pts from source (one scan) — the cache
    # must not outlive the query
    pts.unpersist()
    return out


def _eps_pairs_half(points: DataFrame, eps: float, id_col: str, x: str,
                    y: str) -> DataFrame:
    """Each UNORDERED within-``eps`` pair exactly once (self-pairs included
    as (a, a)): eps-grid cells with a FORWARD half-neighborhood explode —
    4 forward offsets plus the own cell with an ``a <= b`` tie-break —
    instead of the full 3×3. Every adjacent cell-pair delta is covered by
    exactly one of {(0,1), (1,-1), (1,0), (1,1)} up to role swap, so the
    explode and the equi-join probe volume HALVE versus the 3×3 form
    (guide §2.3: shuffle/join fewer rows) while the produced pair set is
    identical after orientation expansion. Shared candidate stage of
    ``dbscan`` and ``cluster_within``."""
    # a NULL id names no pair (and ``a <= b`` would drop it only from its
    # own cell); a NULL coordinate's cell is NULL and joins nothing
    pts = points.select(
        F.col(id_col).alias("_id"), F.col(x).alias("_x"), F.col(y).alias("_y")
    ).where(F.col("_id").isNotNull()).withColumn(
        "_cx", F.floor(F.col("_x") / F.lit(eps)).cast("long")
    ).withColumn(
        "_cy", F.floor(F.col("_y") / F.lit(eps)).cast("long")
    )
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(dx != 0 or dy != 0).alias("fwd"))
        for dx, dy in ((0, 0), (0, 1), (1, -1), (1, 0), (1, 1))
    ])
    left = (
        pts.select("*", F.explode(offsets).alias("_o"))
        .select(
            F.col("_id").alias("a"), F.col("_x").alias("ax"),
            F.col("_y").alias("ay"), F.col("_o.fwd").alias("_fwd"),
            # an infinite or huge coordinate floors to the long range's
            # end; its neighbour cell past the end is NULL, not an overflow
            F.try_add("_cx", "_o.dx").alias("jx"),
            F.try_add("_cy", "_o.dy").alias("jy"),
        )
    )
    right = pts.select(
        F.col("_id").alias("b"), F.col("_x").alias("bx"),
        F.col("_y").alias("by"), F.col("_cx").alias("jx"),
        F.col("_cy").alias("jy"),
    )
    dx = F.col("ax") - F.col("bx")
    dy = F.col("ay") - F.col("by")
    return (
        left.join(right, ["jx", "jy"])
        .filter(F.col("_fwd") | (F.col("a") <= F.col("b")))
        .filter(dx * dx + dy * dy <= F.lit(eps * eps))
        .select("a", "b")
    )


def cluster_within(points: DataFrame, eps: float, id_col: str = "pid",
                   x: str = "x", y: str = "y") -> DataFrame:
    """PostGIS ``ST_ClusterWithin`` analog: transitive closure of the
    within-``eps`` relation — every point gets (id, cluster_id) with
    cluster_id = min id in its component (singletons label themselves).
    DBSCAN without the density gate: same eps-grid candidate join, then
    ``connected_components`` over ALL within-eps pairs.
    """
    # half-neighborhood candidates: each unordered pair materializes ONCE
    # (half the join volume) into the cheap-to-re-read table the CC reads
    half = _eps_pairs_half(points, eps, id_col, x, y).filter(
        F.col("a") != F.col("b")
    ).localCheckpoint(eager=True)
    lab = graph.connected_components(half)
    return (
        points.select(F.col(id_col).alias("_id"))
        .join(lab.withColumnRenamed("node", "_id"), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("label"), F.col("_id")).alias("cluster_id"),
        )
    )


def dbscan(points: DataFrame, eps: float, min_pts: int,
           id_col: str = "pid", x: str = "x", y: str = "y") -> DataFrame:
    """→ (id, cluster_id nullable, is_core) — one row per input point.

    The ε-pair table materializes once (an eager checkpoint whose
    ``observe`` counts its rows at no extra job). Up to
    ``graph.LOCAL_MAX_EDGES`` pairs — the connected-components operator's
    own driver bound — degrees, cores, components and borders are solved
    exactly on the driver from one collect (``_assign_local``); above it
    they run distributed over the same checkpoint
    (``_assign_distributed``). Both return the same rows.

    A point with a NULL id, or a NULL or non-finite coordinate, is within
    ``eps`` of no point (itself included), so it is noise. Rows sharing an
    id are one point set: its neighbourhood is every id one of its rows
    reaches, each counted once.

    ``eps`` should be a dyadic rational when oracle-exact floor-grid
    parity with an external SQL engine matters (the division then stays
    exact in IEEE doubles).
    """
    size = Observation()
    half = (
        _eps_pairs_half(points, eps, id_col, x, y)
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # adaptive execution prunes an empty input's observed node: no row
    if _observed(size).get("n", 0) <= graph.LOCAL_MAX_EDGES:
        assigned = _assign_local(half, min_pts)
    else:
        assigned = _assign_distributed(half, min_pts)
    return (
        points.select(F.col(id_col).alias("a"))
        .join(assigned, "a", "left")
        .select(
            F.col("a").alias(id_col),
            F.col("cluster_id"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )


def _assign_local(half: DataFrame, min_pts: int) -> DataFrame:
    """(a, cluster_id, is_core) of every core and border point, solved on
    the driver from the collected half-pair table: ids factorized in
    sorted order, so the smallest code of a component is its min id."""
    pdf = half.toPandas()
    n = len(pdf)
    codes, ids = pd.factorize(
        pd.concat([pdf["a"], pdf["b"]], ignore_index=True), sort=True
    )
    ids = np.asarray(ids)
    k = len(ids)
    # each id pair once (a repeated id may reach a neighbour twice), in
    # the half table's form: self-pairs (a, a) once, others one orientation
    key = np.unique(np.minimum(codes[:n], codes[n:]) * k
                    + np.maximum(codes[:n], codes[n:]))
    a, b = key // k, key % k
    loop = a == b
    deg = np.bincount(a, minlength=k) + np.bincount(b[~loop], minlength=k)
    core = deg >= min_pts
    cc = core[a] & core[b] & ~loop
    root = graph._min_roots(a[cc], b[cc], k)
    # border rule: the min component label over a non-core point's core
    # neighbours, both orientations of every pair
    border = np.full(k, k)
    for u, v in ((a, b), (b, a)):
        m = ~core[u] & core[v]
        np.minimum.at(border, u[m], root[v[m]])
    keep = core | (border < k)
    label = np.where(core, root, border)
    typ = half.schema["a"].dataType
    schema = StructType([
        StructField("a", typ), StructField("cluster_id", typ),
        StructField("is_core", BooleanType()),
    ])
    return local_frame(half.sparkSession, pd.DataFrame({
        "a": ids[keep], "cluster_id": ids[label[keep]], "is_core": core[keep],
    }), schema)


def _assign_distributed(half: DataFrame, min_pts: int) -> DataFrame:
    """``_assign_local``'s rows, computed on the cluster: degrees by one
    groupBy over the ordered pairs, the core–core components by
    ``connected_components``, borders by one join + groupBy min."""
    # the full ordered pair multiset derives from the checkpointed half
    pairs = half.union(
        half.filter(F.col("a") != F.col("b"))
        .select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = pairs.groupBy("a").agg(F.count_distinct("b").alias("_deg"))
    core = deg.filter(F.col("_deg") >= min_pts).select("a").persist()

    # each core-core pair once: two cheap semi-joins over the checkpoint
    core_edges = (
        half.join(core, "a", "left_semi")
        .join(core.select(F.col("a").alias("b")), "b", "left_semi")
        .filter(F.col("a") != F.col("b"))
    )
    cc = graph.connected_components(core_edges).select(
        F.col("node").alias("a"), F.col("label").alias("_cl")
    )
    # singleton cores (no core neighbor) label themselves
    core_labels = core.join(cc, "a", "left").select(
        "a", F.coalesce(F.col("_cl"), F.col("a")).alias("cluster_id")
    ).persist()

    border = (
        pairs.join(core_labels.select(F.col("a").alias("b"),
                                      F.col("cluster_id").alias("_bcl")), "b")
        .join(core, "a", "left_anti")
        .groupBy("a")
        .agg(F.min("_bcl").alias("cluster_id"))
    )
    assigned = (
        core_labels.withColumn("is_core", F.lit(True))
        .unionByName(border.withColumn("is_core", F.lit(False)))
        # one row per assigned point — materialized so the persisted
        # intermediates are released before returning and the final
        # action replays a small checkpoint, not the candidate pipeline
        .localCheckpoint(eager=True)
    )
    for df in (core, core_labels):
        df.unpersist()
    return assigned
