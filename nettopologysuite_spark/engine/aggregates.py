"""Distributed spatial aggregates: union, convex hull, envelope.

The two-phase shape mirrors the reference's CascadedPolygonUnion
(``Operation/Union/CascadedPolygonUnion.cs:125-175``: STRtree-leaf grouping
= partial aggregation, UnionTree = final reduction): per-partition partials
via ``mapInPandas`` (spatially clustered when the input is cell-ordered),
then a single tiny final reduce. Both phases run the corpus-verified
kernels; the shuffle carries one WKB blob per partition.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels.geom import wkb_dumps, wkb_loads
from ..kernels.hull import convex_hull, hull_coords
from ..kernels.union_op import cascaded_union


def distributed_union(df: DataFrame, wkb_col: str = "geom_wkb",
                      fanin: int = 16, reduce_partitions: int | None = None)\
        -> DataFrame:
    """One-row DataFrame (union_wkb binary) = union of all input geometries.

    The final reduction is ADAPTIVE: when the (estimated) partial count is
    ≤ ``fanin`` the final union runs as ONE ``coalesce(1)`` task — no
    shuffle rounds, the cheap path at every scale where one partial per
    input partition fits a task. Beyond that it runs STAGED pairwise tree
    rounds (fan-in ``fanin``) until ≤ ``fanin`` rows remain, then the same
    single-task final — the true CascadedPolygonUnion tree shape
    (``Operation/Union/CascadedPolygonUnion.cs:162-174``). A single-task
    reduce is fine to ~10⁴ partials but becomes the straggler beyond; the
    tree bounds every task to ``fanin`` unions.

    ``reduce_partitions`` overrides the partial-count estimate (default:
    the session's ``defaultParallelism`` — mapInPandas emits ≤ 1 row per
    input partition, and local/cluster partition counts track core count
    for parquet scans; no ``.rdd`` materialization, no job).
    """

    def partial(batches):
        geoms = []
        for pdf in batches:
            geoms.extend(wkb_loads(bytes(b)) for b in pdf[wkb_col] if b is not None)
        if geoms:
            yield pd.DataFrame({"w": [wkb_dumps(cascaded_union(geoms))]})

    partials = df.select(wkb_col).mapInPandas(partial, "w binary")
    n = (df.sparkSession.sparkContext.defaultParallelism
         if reduce_partitions is None else reduce_partitions)

    def reduce_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        geoms = [wkb_loads(bytes(b)) for b in pdf["w"]]
        return pd.DataFrame({"w": [wkb_dumps(cascaded_union(geoms))]})

    level = 0
    while n > fanin:
        n = -(-n // fanin)
        key = F.pmod(F.xxhash64(F.col("w"), F.lit(level)), F.lit(n)).alias("g")
        partials = partials.groupBy(key).applyInPandas(reduce_group, "w binary")
        level += 1

    def final(batches):
        geoms = []
        for pdf in batches:
            geoms.extend(wkb_loads(bytes(b)) for b in pdf["w"])
        if geoms:
            yield pd.DataFrame({"w": [wkb_dumps(cascaded_union(geoms))]})

    return (partials.coalesce(1).mapInPandas(final, "w binary")
            .select(F.col("w").alias("union_wkb")))


def distributed_convex_hull(df: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """One-row DataFrame (hull_wkb binary): hull of partition hulls —
    associativity makes the partial hull lossless (ConvexHull.cs analog)."""
    import numpy as np

    def partial(batches):
        best = []
        for pdf in batches:
            pts = np.stack([pdf[x].to_numpy(float), pdf[y].to_numpy(float)], axis=1)
            if len(pts):
                best.append(hull_coords(pts))
        if best:
            h = hull_coords(np.concatenate(best, axis=0))
            yield pd.DataFrame({"hx": h[:, 0], "hy": h[:, 1]})

    partials = df.select(x, y).mapInPandas(partial, "hx double, hy double")

    def final(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from ..kernels.geom import Geom, MULTIPOINT, POINT

        pts = np.stack([pdf["hx"].to_numpy(), pdf["hy"].to_numpy()], axis=1)
        g = convex_hull(
            Geom(MULTIPOINT, parts=[Geom(POINT, coords=pts[i : i + 1]) for i in range(len(pts))])
        )
        return pd.DataFrame({"hull_wkb": [wkb_dumps(g)]})

    return (
        partials.groupBy(F.lit(1).alias("g"))
        .applyInPandas(final, "hull_wkb binary")
        .select("hull_wkb")
    )
