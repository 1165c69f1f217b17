"""Density-based spatial clustering (DBSCAN) — the PostGIS
``ST_ClusterDBSCAN`` analog, distributed.

DBSCAN(eps, minPts): a point is CORE when ≥ ``min_pts`` points (itself
included) lie within ``eps``; core points within ``eps`` of each other
share a cluster (transitively); a non-core point within ``eps`` of a core
point is a BORDER member of that core's cluster (ties → the minimum
cluster label, which makes the assignment deterministic — PostGIS leaves
it arbitrary); everything else is noise (NULL cluster).

Distributed shape (every stage native Spark, zero Python):

1. eps-grid cells (``floor(x/eps)``, ``floor(y/eps)``) — any eps-neighbor
   pair is in the same or an adjacent cell.
2. Ordered candidate pairs from ONE equi-join: the left side explodes to
   its 3×3 neighbor cells (a 9-row native explode), the right side keeps
   its own cell — each ordered pair appears exactly once, the exact
   ``dist² ≤ eps²`` refine stays in whole-stage codegen.
3. Degrees / core flags: one groupBy count over the pairs.
4. Cluster labels: ``graph.connected_components`` over the core–core
   edges (an exact driver solve when they fit, contraction levels and
   star rounds above that — a giant percolation cluster at high density
   cannot make the round count explode). Label = min core id in the
   component.
5. Border assignment: min neighbor-core label per non-core point — one
   join + groupBy min.

At 100 TB the candidate join shuffles on eps-cell ids (partition-pruned
when storage is curve-ordered); dense hot cells are the same skew problem
as the PIP join and take the same salting (``pip_join_points_sortmerge``)
if a workload needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components


def kmeans(points: DataFrame, k: int, max_iters: int = 10,
           id_col: str = "pid", x: str = "x", y: str = "y") -> DataFrame:
    """Deterministic Lloyd k-means over 2-D points — the PostGIS
    ``ST_ClusterKMeans`` analog. → (id, cluster_id) with stable cluster
    ids 0..k−1 (the init order).

    Determinism (PostGIS leaves seeding unspecified; this pins it):
    * init: the k points with the smallest ids (one tiny sorted limit);
    * assignment: argmin of squared distance, ties to the LOWER cluster
      id (strict < on a running minimum);
    * update: centroid of the assigned set; an emptied cluster keeps its
      previous center.

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
    init = pts.orderBy("_id").limit(k).collect()
    centers = [(float(r["_x"]), float(r["_y"])) for r in init]

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
    pts = points.select(
        F.col(id_col).alias("_id"), F.col(x).alias("_x"), F.col(y).alias("_y")
    ).withColumn(
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
            (F.col("_cx") + F.col("_o.dx")).alias("jx"),
            (F.col("_cy") + F.col("_o.dy")).alias("jy"),
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
    lab = connected_components(half)
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

    ``eps`` should be a dyadic rational when oracle-exact floor-grid
    parity with an external SQL engine matters (the division then stays
    exact in IEEE doubles).
    """
    pts = points.select(F.col(id_col).alias("_id"))
    # unordered candidates materialize once (half the join volume); the
    # full ordered pair multiset — identical to the former 3x3 join output —
    # derives from the cached narrow table
    half = _eps_pairs_half(points, eps, id_col, x, y).persist()
    pairs = half.union(
        half.filter(F.col("a") != F.col("b"))
        .select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("_deg"))
    core = deg.filter(F.col("_deg") >= min_pts).select("a").persist()

    # each core-core pair once: it derives from the CACHED half-pair table
    # through two cheap semi-joins, so the CC re-reads the cache instead of
    # paying an eager checkpoint write of the (quadratic) core-edge set
    core_edges = (
        half.join(core, "a", "left_semi")
        .join(core.select(F.col("a").alias("b")), "b", "left_semi")
        .filter(F.col("a") != F.col("b"))
    )
    cc = connected_components(core_edges).select(
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
        # one row per assigned point — materialize it so the persisted
        # intermediates can be RELEASED before returning (they previously
        # outlived the query) and the final action replays a small
        # checkpoint instead of the whole candidate pipeline
        .localCheckpoint(eager=True)
    )
    for df in (half, core, core_labels):
        df.unpersist()
    out = (
        pts.select(F.col("_id").alias("a"))
        .join(assigned, "a", "left")
        .select(
            F.col("a").alias(id_col),
            F.col("cluster_id"),
            F.coalesce(F.col("is_core"), F.lit(False)).alias("is_core"),
        )
    )
    return out
