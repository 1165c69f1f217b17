"""Distributed spatial joins: cell-partitioned candidate generation + exact
vectorized refinement.

Physical strategy (SURVEY.md §7, BASELINE.json north rule):

1. Tile assignment is a native projection (points) or an envelope-cover
   explode (extended geometries) — see ``tiling.py``.
2. Candidate pairs come from an equi-join on ``cell_id``. The polygon pack's
   (cell_id, poly_id) cover relation is tiny and built on the driver as an
   Arrow ``LocalRelation`` (``session.local_frame``) → ``broadcast()`` join
   without a Python worker task and without a shuffle of the big side. At
   100 TB the big side is scanned once, partition-pruned by cell range when
   the storage is curve-ordered.
3. Exact refinement of a point join against a pack whose every polygon is
   convex is one native expression: the cover rows carry each polygon's
   edges, and the half-plane test of ``PreparedConvex`` (the analog of
   NTS's ``RectangleContains.cs`` fast path) runs JVM-side as a
   ``forall`` over them, so the join starts no Python worker. Every other
   refine runs inside a scalar pandas UDF over Arrow batches:
   per-executor lazily-built prepared structures (PreparedPolygon) probe
   whole numpy arrays — the batched analog of
   ``PreparedPolygonIntersects.cs:38-60`` (PIP first, then segments).
4. Pair dedup: a point lies in exactly one cell, so point joins emit
   uniques by construction. Extended-geometry joins use the reference-cell
   rule (pair reported only in the cell containing the envelope-intersection
   corner) — ``_pair_filter``.

Every step is DataFrame + Arrow; zero per-row Python.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels.cells import Grid
from .polygons import PolygonPack
from .session import local_frame
from .tiling import (
    cell_col,
    cell_xy,
    envelope_struct_udf,
    explode_cover_native,
    with_cell_id,
)


# ---------------------------------------------------------------------------
# point-in-polygon join (the hot path)
# ---------------------------------------------------------------------------

# the predicates a candidate join answers: disjoint is not one, its pairs
# are the envelope-disjoint ones that the cell join never generates
_JOIN_PREDICATES = ("intersects", "covers", "contains", "touches", "within",
                    "coveredby", "crosses", "overlaps", "equals", "equalstopo")


def _check_predicate(predicate: str) -> None:
    if predicate not in _JOIN_PREDICATES:
        raise ValueError(f"a candidate join does not answer {predicate!r}")


def _point_predicate(predicate: str, covers, contains, false):
    """predicate(polygon, point) composed from a polygon's covers and
    contains probes — the one map of a predicate onto the prepared probes
    (NTS ``PreparedGeometryFactory``'s one contract): intersects / covers →
    covers, contains → contains, touches → covers ∧ ¬contains; within,
    coveredby, crosses, overlaps and equals(topo) are ``false`` by the
    dimension rule. The probes are thunks returning numpy masks
    (``_probe_points``) or Spark columns (``_convex_refine``), so only the
    ones a predicate needs are built."""
    if predicate in ("intersects", "covers"):
        return covers()
    if predicate == "contains":
        return contains()
    if predicate == "touches":
        return covers() & ~contains()
    return false()


def _probe_points(prep, xs: np.ndarray, ys: np.ndarray, predicate: str) -> np.ndarray:
    """predicate(polygon, point) for point arrays against one pack polygon's
    ``PreparedPolygon`` / ``PreparedConvex``."""
    return _point_predicate(
        predicate,
        lambda: prep.covers_points(xs, ys),
        lambda: prep.contains_points(xs, ys),
        lambda: np.zeros(len(xs), dtype=bool),
    )


def _convex_refine(predicate: str, x: str, y: str) -> Column:
    """predicate(polygon, point) as one native expression over the
    candidate row's ``_edges`` (``_cover_frame``): ``PreparedConvex``'s
    half-plane test, cross = dx·(y − y1) − dy·(x − x1) ≥ 0 on every edge
    for covers, > 0 for contains. dx and dy are the doubles numpy computes
    and the JVM fuses no multiply-add, so every cross product is the one
    the kernel computes. A NULL coordinate gives NULL, which the filter
    drops."""
    px, py = F.col(x), F.col(y)

    def half_planes(strict: bool):
        def inside(e: Column) -> Column:
            # numpy compares a NaN cross product False, Spark orders NaN
            # above every double (NaN >= 0 holds): read NaN as outside
            cross = F.nanvl(e["dx"] * (py - e["y1"]) - e["dy"] * (px - e["x1"]),
                            F.lit(-1.0))
            return cross > 0.0 if strict else cross >= 0.0
        return lambda: F.forall("_edges", inside)

    return _point_predicate(predicate, half_planes(False), half_planes(True),
                            lambda: F.lit(False))


def _point_refine(pack: PolygonPack, predicate: str, x: str, y: str) -> Column:
    """The refine filter of the point joins: native (``_convex_refine``)
    when every pack polygon is convex, else ``pip_refine_udf``."""
    _check_predicate(predicate)
    if pack.convex:
        return _convex_refine(predicate, x, y)
    return pip_refine_udf(pack, predicate)(F.col(x), F.col(y), F.col("poly_id"))


def pip_refine_udf(pack: PolygonPack, predicate: str = "covers"):
    """Boolean pandas UDF (x, y, poly_id) → predicate(poly, point) for any
    predicate of ``_JOIN_PREDICATES`` (``_probe_points``).

    Rows are grouped by poly_id inside each Arrow batch; each polygon's
    prepared structure evaluates its whole group in one vectorized call.
    """
    _check_predicate(predicate)

    @pandas_udf("boolean")
    def _refine(x: pd.Series, y: pd.Series, poly_id: pd.Series) -> pd.Series:
        prepared = pack.prepared()
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        out = np.zeros(len(xs), dtype=bool)
        codes, uniques = pd.factorize(poly_id.to_numpy(object))
        for j, pid in enumerate(uniques):
            sel = codes == j
            out[sel] = _probe_points(prepared[pid], xs[sel], ys[sel], predicate)
        return pd.Series(out)

    return _refine


def _cover_frame(spark: SparkSession, pack: PolygonPack, rows: list[tuple],
                 schema: str, pid_at: int) -> DataFrame:
    """A cover relation of the pack — ``rows`` typed by the DDL ``schema``,
    the poly_id at index ``pid_at`` — as an Arrow ``LocalRelation``, so
    broadcasting it runs no Python worker task. When every pack polygon is
    convex, each row also carries its polygon's ``_edges`` (x1, y1, dx, dy),
    taken from ``PreparedConvex.vx``/``vy`` as ``covers_points`` takes
    them: the candidate join then brings each polygon's half-planes to its
    candidates (``_convex_refine``) with no second join."""
    if pack.convex:
        edges = {}
        for pid, prep in pack.prepared().items():
            x1, y1 = prep.vx[:-1], prep.vy[:-1]
            edges[pid] = list(zip(x1.tolist(), y1.tolist(),
                                  (prep.vx[1:] - x1).tolist(), (prep.vy[1:] - y1).tolist()))
        rows = [r + (edges[r[pid_at]],) for r in rows]
        schema += ", _edges array<struct<x1:double,y1:double,dx:double,dy:double>>"
    return local_frame(spark, rows, schema)


def cover_cells_df(spark: SparkSession, pack: PolygonPack, grid: Grid) -> DataFrame:
    """The (cell_id, poly_id) cover relation of the pack — every cell whose
    box meets a polygon's envelope; the small side of the PIP joins, built
    on the driver (``_cover_frame``)."""
    return _cover_frame(spark, pack, pack.cover_rows(grid), "cell_id long, poly_id string", 1)


def pip_join_points(
    points: DataFrame,
    pack: PolygonPack,
    grid: Grid,
    predicate: str = "covers",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """points(…, x, y) ⋈ pack → rows of points × matching poly_id."""
    spark = points.sparkSession
    pts = with_cell_id(points, grid, x, y)
    cover = cover_cells_df(spark, pack, grid)
    cand = pts.join(F.broadcast(cover), "cell_id")
    return cand.filter(_point_refine(pack, predicate, x, y)).drop("_edges")


def pip_join_points_sortmerge(
    points: DataFrame,
    pack: PolygonPack,
    grid: Grid,
    predicate: str = "covers",
    x: str = "x",
    y: str = "y",
    hot_cell_threshold: int = 50_000,
    *,
    id_col: str,
) -> DataFrame:
    """Shuffle-based variant of the PIP join with explicit hot-cell salting.

    For polygon packs too large to broadcast, both sides shuffle on cell_id.
    Skewed cells (urban-hotspot analog) would then hammer single reducers,
    so cells whose point count exceeds ``hot_cell_threshold`` are salted:
    points get salt = pmod(hash(id_col), k) with k = ceil(count/threshold),
    and the cover rows of hot cells replicate once per salt — output is
    IDENTICAL to the broadcast path (property-tested), each pair still
    produced exactly once. AQE skew-join remains on as backstop.
    """
    spark = points.sparkSession
    pts = with_cell_id(points, grid, x, y)
    # 1. salt factors from a SAMPLED sketch (fixed seed → deterministic),
    #    kept as a DataFrame — no exact count, no collect to the driver.
    #    Correctness never depends on the estimate: both sides derive salt
    #    counts from the SAME relation, so every pair still appears exactly
    #    once; the estimate only tunes skew spreading.
    frac = 0.05
    hot = (
        pts.sample(fraction=frac, seed=7)
        .groupBy("cell_id")
        .count()
        .select(
            "cell_id",
            F.ceil(F.col("count") / F.lit(frac) / F.lit(hot_cell_threshold))
            .cast("int").alias("k"),
        )
        .filter(F.col("k") > 1)
    )
    # 2. salted cover relation built as a DATAFRAME: replicate hot cells
    #    with a native sequence() explode, not a driver loop
    cover = (
        cover_cells_df(spark, pack, grid)
        .join(F.broadcast(hot), "cell_id", "left")
        .withColumn("_k", F.coalesce(F.col("k"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_k") - 1)))
        .withColumn("salt", F.col("_salt").cast("int"))
        .drop("k", "_k", "_salt")
    )
    # 3. salted points (same hot relation → consistent salt domain)
    pts_salted = (
        pts.join(F.broadcast(hot), "cell_id", "left")
        .withColumn("salt", F.when(F.col("k").isNull(), F.lit(0))
                    .otherwise(F.pmod(F.xxhash64(F.col(id_col)), F.col("k"))).cast("int"))
        .drop("k")
    )
    # 4. shuffle join on (cell_id, salt) — sort-merge, no broadcast
    cand = pts_salted.hint("merge").join(cover, ["cell_id", "salt"])
    return cand.filter(_point_refine(pack, predicate, x, y)).drop("salt", "_edges")


def _adaptive_cover_rows(pack: PolygonPack, grid: Grid) -> list[tuple]:
    """(level, cell, poly_id, interior) rows of the multi-level cover — the
    S2 RegionCoverer analog (see ``kernels.adaptive``), built on the driver:
    the polygon pack is the small broadcast side."""
    from ..kernels.adaptive import adaptive_cover
    from ..kernels.geom import wkb_loads

    prepared = pack.prepared()
    rows: list[tuple] = []
    for e in pack.entries:
        lv, cl, it = adaptive_cover(
            wkb_loads(e.wkb), grid, prep=prepared[e.poly_id],
        )
        rows.extend(
            (int(l), int(c), e.poly_id, bool(i)) for l, c, i in zip(lv, cl, it)
        )
    return rows


def pip_join_points_adaptive(
    points: DataFrame,
    pack: PolygonPack,
    grid: Grid,
    predicate: str = "covers",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """PIP join through the adaptive multi-level cover: candidates falling
    in INTERIOR cover cells are accepted with zero Python — only boundary-
    cell candidates pay the exact refine: native for a convex pack
    (``_convex_refine``, so the join starts no Python worker), the refine
    UDF otherwise.

    Point side: the finest-level (ix, iy) is computed once (native floor
    projection), then shifted down to each level present in the cover —
    one native explode over ≤ #levels (level, cell) structs, broadcast
    hash join on (level, cell). Cover cells of one polygon are disjoint
    across levels (quadtree partition), so each (point, polygon) pair
    appears at most once — no dedup stage.

    At 100 TB this converts the refine cost from O(all candidates) to
    O(boundary-cell candidates) — for large polygons the overwhelming
    majority of matches are interior and skip the refine — while
    bounding the cover size of arbitrarily large polygons to
    ``adaptive_cover``'s 1024-cell budget (the envelope cover grows with
    polygon area).

    The interior fast path additionally requires the point to lie inside
    the grid extent (a native range condition): out-of-extent points clamp
    into edge cells during assignment, so only the exact refine may accept
    them.

    The fast path answers intersects / covers / contains; any other
    predicate raises ``ValueError``.
    """
    if predicate not in ("intersects", "covers", "contains"):
        raise ValueError(f"the adaptive PIP join does not answer {predicate!r}")
    spark = points.sparkSession
    rows = _adaptive_cover_rows(pack, grid)
    cover = _cover_frame(
        spark, pack, rows, "level int, cell long, poly_id string, interior boolean", 2
    )
    levels = sorted({r[0] for r in rows})  # ≤ grid.level + 1 values
    if not levels:
        empty = points.limit(0).withColumn("poly_id", F.lit(None).cast("string"))
        return empty
    L = grid.level
    ix, iy = cell_xy(grid, x, y)
    pts = points.withColumn("_ix", ix).withColumn("_iy", iy)
    lvl_cells = F.array(*[
        F.struct(
            F.lit(lv).cast("int").alias("level"),
            (F.shiftright(F.col("_iy"), L - lv) * F.lit(1 << lv)
             + F.shiftright(F.col("_ix"), L - lv)).cast("long").alias("cell"),
        )
        for lv in levels
    ])
    pts_l = (
        pts.select("*", F.explode(lvl_cells).alias("_lc"))
        .withColumn("level", F.col("_lc.level"))
        .withColumn("cell", F.col("_lc.cell"))
        .drop("_lc")
    )
    cand = pts_l.join(F.broadcast(cover), ["level", "cell"])
    in_extent = (
        (F.col(x) >= F.lit(grid.minx)) & (F.col(x) < F.lit(grid.maxx))
        & (F.col(y) >= F.lit(grid.miny)) & (F.col(y) < F.lit(grid.maxy))
    )
    fast = F.col("interior") & in_extent
    accepted = cand.filter(fast)
    refined = cand.filter(~fast).filter(_point_refine(pack, predicate, x, y))
    drop = ["level", "cell", "interior", "_ix", "_iy", "_edges"]
    return accepted.drop(*drop).unionByName(refined.drop(*drop))


# ---------------------------------------------------------------------------
# within-distance join (range-join analog)
# ---------------------------------------------------------------------------

def within_distance_join_points(
    points: DataFrame,
    centers: list[tuple[str, float, float, float]],  # (q_id, cx, cy, r)
    grid: Grid,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """All points within distance r of each query center.

    Candidates: cells covering each center's expanded envelope (driver-side,
    tiny) broadcast-joined on the point's cell. Refinement is a *native*
    squared-distance comparison — stays in whole-stage codegen, no Python.
    (IsWithinDistance semantics, Geometry.cs:468; distance join = envelope-
    expanded cell join per SURVEY.md §2.8.) A center with a negative radius
    matches nothing: its envelope distance to any point is ≥ 0 > r.
    """
    spark = points.sparkSession
    rows = []
    for q_id, cx, cy, r in centers:
        if r < 0:
            continue
        for c in grid.cover_envelope(cx - r, cy - r, cx + r, cy + r):
            rows.append((int(c), q_id, float(cx), float(cy), float(r)))
    cover = local_frame(
        spark, rows, "cell_id long, q_id string, cx double, cy double, r double"
    )
    pts = with_cell_id(points, grid, x, y)
    cand = pts.join(F.broadcast(cover), "cell_id")
    dx = F.col(x) - F.col("cx")
    dy = F.col(y) - F.col("cy")
    return cand.filter(dx * dx + dy * dy <= F.col("r") * F.col("r"))


# ---------------------------------------------------------------------------
# kNN join (top-k analog; STRtree.cs:556 branch-and-bound ↦ partial top-k)
# ---------------------------------------------------------------------------

def knn_join_points(
    points: DataFrame,
    queries: list[tuple[int, float, float]],  # (q_id, qx, qy)
    k: int,
    id_col: str = "pid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """k nearest points per query, ties broken by (distance², id).

    Points or queries with a NULL or NaN coordinate join nothing.

    Two-phase top-k: a mapInPandas pass keeps the per-partition best k per
    query (vectorized; exact tie handling at the k-th distance), then a
    window over the tiny survivor set ranks globally. The survivor set is
    ≤ partitions × |queries| × k rows — the shuffle is negligible at any
    scale, and the big side is scanned exactly once.
    """
    qarr = np.array([(q[1], q[2]) for q in queries], dtype=np.float64).reshape(-1, 2)
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    nq = len(qids)
    schema = f"q_id long, {id_col} long, d2 double"

    def partial_topk(batches):
        best_d2 = [np.empty(0)] * nq
        best_id = [np.empty(0, dtype=np.int64)] * nq
        for pdf in batches:
            px = pdf[x].to_numpy(np.float64)
            py = pdf[y].to_numpy(np.float64)
            pid = pdf[id_col].to_numpy(np.int64)
            dx = px[:, None] - qarr[None, :, 0]
            dy = py[:, None] - qarr[None, :, 1]
            d2 = dx * dx + dy * dy  # (B, nq)
            # a NULL / NaN coordinate has no distance: its NaN would sort
            # into the partition and hide every real candidate
            has_d = ~np.isnan(d2)
            for j in range(nq):
                cd = np.concatenate([best_d2[j], d2[has_d[:, j], j]])
                ci = np.concatenate([best_id[j], pid[has_d[:, j]]])
                if len(cd) > k:
                    # exact k-th with ties: keep strictly-smaller + all equal
                    kth = np.partition(cd, k - 1)[k - 1]
                    keep = cd <= kth
                    cd, ci = cd[keep], ci[keep]
                    if len(cd) > 4 * k + 16:  # bound tie blowup
                        order = np.lexsort((ci, cd))[: k]
                        cd, ci = cd[order], ci[order]
                best_d2[j], best_id[j] = cd, ci
        out = {
            "q_id": np.repeat(qids, [len(b) for b in best_d2]),
            id_col: np.concatenate(best_id) if nq else np.empty(0, dtype=np.int64),
            "d2": np.concatenate(best_d2) if nq else np.empty(0),
        }
        yield pd.DataFrame(out)

    survivors = points.select(id_col, x, y).mapInPandas(partial_topk, schema)
    w = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col(id_col).asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", id_col, "d2")
    )


def within_distance_join_table(
    points: DataFrame,
    queries: DataFrame,  # (q_id, cx, cy, r)
    grid: Grid,
    x: str = "x",
    y: str = "y",
    q_id: str = "q_id",
    cx: str = "cx",
    cy: str = "cy",
    radius: str = "r",
) -> DataFrame:
    """All points within distance r of each query center — BOTH sides
    DataFrames, zero driver-side query state. Rows carry the point and
    query columns plus the squared distance ``d2``.

    The query side explodes to the cells covering its expanded envelope
    with the same native ``sequence()`` arithmetic as the spatial joins
    (a grid cover is a rectangle of cell indices — pure Catalyst), the
    candidate join is a native equi-join on cell_id, and the refinement is
    a codegen squared-distance comparison. No Python anywhere.
    (IsWithinDistance semantics, Geometry.cs:468: a query with a negative
    or NULL radius matches nothing, and so does a NULL or NaN coordinate.
    An infinite radius covers every cell and keeps every point with
    finite coordinates.)
    """
    q = queries.filter(F.col(radius) >= 0).select(
        F.col(q_id), F.col(cx), F.col(cy), F.col(radius),
        F.struct(
            (F.col(cx) - F.col(radius)).alias("minx"),
            (F.col(cy) - F.col(radius)).alias("miny"),
            (F.col(cx) + F.col(radius)).alias("maxx"),
            (F.col(cy) + F.col(radius)).alias("maxy"),
        ).alias("_env"),
    )
    qc = explode_cover_native(q, grid).drop("_env")
    pts = with_cell_id(points, grid, x, y)
    dx = F.col(x) - F.col(cx)
    dy = F.col(y) - F.col(cy)
    return (
        pts.join(qc, "cell_id")
        .withColumn("d2", dx * dx + dy * dy)
        .filter(F.col("d2") <= F.col(radius) * F.col(radius))
    )


def _knn_rounds(queries: DataFrame, k: int, grid: Grid, candidates,
                q_id: str, d_id: str, dist: str) -> DataFrame:
    """The one kNN loop: the distributed analog of the STRtree
    branch-and-bound (``STRtree.cs:556``), where only the candidate step
    differs between points and geometries. Returns (q_id, rank, d_id, dist)
    with at most k rows per query, ranked by (dist, d_id).

    ``candidates(active, R)`` gives (q_id, d_id, dist) rows, ``dist`` the
    squared distance, for the rows of ``active`` (a subset of ``queries``):
    every data row within distance R of its query, and possibly farther
    ones.

    - Radius schedule: R starts at two cells and doubles. The round whose
      R reaches the grid diagonal is the last, and it runs with R = ∞: it
      ranks every remaining query against every data row, so rows outside
      the grid extent are still found.
    - Retirement: a query retires once it holds k rows whose k-th dist is
      ≤ R² — every row it has not seen lies farther than R. Every query
      retires on the last round.
    - Jobs: each round writes the retired rows so far into ONE eager
      ``localCheckpoint`` (lineage stays one round deep, and the result is
      a scan of the last checkpoint, no ``Union``), then runs one
      ``isEmpty`` stop test over the queries still active. The driver
      sees only that boolean.
    """
    diag = math.hypot(grid.maxx - grid.minx, grid.maxy - grid.miny)
    by_q = Window.partitionBy(q_id)
    by_dist = by_q.orderBy(F.col(dist).asc(), F.col(d_id).asc())
    R = 2.0 * min(grid.cell_w, grid.cell_h)
    active, retired = queries, None
    while True:
        last = R >= diag
        if last:
            R = math.inf
        ranked = (
            candidates(active, R)
            .withColumn("rank", F.row_number().over(by_dist))
            .filter(F.col("rank") <= k)
        )
        kth_within = (F.col("rank") == k) & (F.col(dist) <= F.lit(R * R))
        rows = (
            ranked.withColumn("_retire", F.lit(last) | F.bool_or(kth_within).over(by_q))
            .filter("_retire")
            .select(q_id, "rank", d_id, dist)
        )
        if retired is not None:
            rows = retired.unionByName(rows)
        retired = rows.localCheckpoint(eager=True)
        if last:
            return retired
        active = queries.join(retired.select(q_id), q_id, "left_anti")
        if active.isEmpty():
            return retired
        R *= 2.0


def knn_join_table(
    points: DataFrame,
    queries: DataFrame,  # (q_id, qx, qy)
    k: int,
    grid: Grid,
    id_col: str = "pid",
    x: str = "x",
    y: str = "y",
    q_id: str = "q_id",
    qx: str = "qx",
    qy: str = "qy",
) -> DataFrame:
    """k nearest points per query, ties broken by (distance², id), with the
    query side a DATAFRAME — no collect() of query rows, ever; the driver
    coordinates only round scalars.

    The rounds are ``_knn_rounds``; each one's candidates are the
    ``within_distance_join_table`` rows of the still-active queries at the
    round's radius (native cover explode, cell equi-join and codegen d²,
    no Python). The points are read once: persisted on the first round and
    released before returning. Work per query is proportional to LOCAL
    density. Points or queries with a NULL or NaN coordinate join nothing.
    """
    pts = points.select(id_col, x, y).persist()

    def within(active: DataFrame, R: float) -> DataFrame:
        return within_distance_join_table(
            pts, active.withColumn("_r", F.lit(R)), grid, x, y, q_id, qx, qy, "_r"
        ).select(q_id, id_col, "d2")

    try:
        return _knn_rounds(queries.select(q_id, qx, qy), k, grid, within, q_id, id_col, "d2")
    finally:
        pts.unpersist()


# ---------------------------------------------------------------------------
# the WKB joins' shared pieces: one tiled side, one envelope-pair rule, one
# grouped refine
# ---------------------------------------------------------------------------

_ENV = ("minx", "miny", "maxx", "maxy")


def _tiled(df: DataFrame, id_col: str, wkb_col: str, grid: Grid, tag: str,
           expand: float = 0.0) -> DataFrame:
    """One side of a WKB cell join: rows (id, wkb, {tag}minx … {tag}maxy,
    cell_id). The envelope comes from ONE vectorized envelope UDF call; the
    cover explode is native ``sequence()`` arithmetic over the envelope
    widened by ``expand`` (a distance or kNN radius), while the carried
    envelope columns stay unwidened. Empty geometries explode to no rows."""
    base = df.select(F.col(id_col), F.col(wkb_col),
                     envelope_struct_udf()(F.col(wkb_col)).alias("_e0"))
    env = "_e0"
    if expand:
        base = base.withColumn(
            "_env",
            F.struct(
                (F.col("_e0.minx") - F.lit(expand)).alias("minx"),
                (F.col("_e0.miny") - F.lit(expand)).alias("miny"),
                (F.col("_e0.maxx") + F.lit(expand)).alias("maxx"),
                (F.col("_e0.maxy") + F.lit(expand)).alias("maxy"),
            ),
        )
        env = "_env"
    return explode_cover_native(base, grid, env=env).select(
        id_col, wkb_col, *[F.col(f"_e0.{k}").alias(tag + k) for k in _ENV], "cell_id",
    )


def _pair_filter(grid: Grid, a: str, b: str, d: float = 0.0) -> Column:
    """The envelope-pair rule of every WKB cell join, over cell-joined rows
    carrying envelopes ``{a}minx … {a}maxy`` and ``{b}minx … {b}maxy``:

    - the envelopes lie within distance ``d``: for ``d == 0`` the closed
      four-comparison overlap (``Envelope.cs`` Intersects), otherwise the
      sum of squared per-axis gaps ≤ d²;
    - reference-cell dedup: the pair is kept only in the cell holding the
      corner ``greatest(a_min − d, b_min)``, the lower-left corner of b's
      envelope intersected with a's envelope widened by ``d`` — a pair that
      shares several cells surfaces exactly once.

    Pure Catalyst: it runs inside the join stage, before any Python.
    """
    A = {k: F.col(a + k) for k in _ENV}
    B = {k: F.col(b + k) for k in _ENV}
    if d == 0:
        near = (
            (A["minx"] <= B["maxx"]) & (A["maxx"] >= B["minx"])
            & (A["miny"] <= B["maxy"]) & (A["maxy"] >= B["miny"])
        )
        cx = F.greatest(A["minx"], B["minx"])
        cy = F.greatest(A["miny"], B["miny"])
    else:
        gapx = F.greatest(F.lit(0.0), F.greatest(A["minx"] - B["maxx"], B["minx"] - A["maxx"]))
        gapy = F.greatest(F.lit(0.0), F.greatest(A["miny"] - B["maxy"], B["miny"] - A["maxy"]))
        near = gapx * gapx + gapy * gapy <= F.lit(d * d)
        cx = F.greatest(A["minx"] - F.lit(d), B["minx"])
        cy = F.greatest(A["miny"] - F.lit(d), B["miny"])
    return near & (cell_col(grid, cx, cy) == F.col("cell_id"))


def _grouped_refine(kernel, container_left: bool = False, returns: str = "boolean"):
    """Pandas UDF (left_wkb, right_wkb) → one kernel value per pair — the one
    refine shape of the big×big WKB joins.

    Per Arrow batch both sides factorize to uniques. The ROW side decodes
    into one columnar ``GeomBatch`` with one cached ``geom_of`` parse for
    the kernels' scalar residues; each distinct CONTAINER (the right side
    unless ``container_left``) prepares once as a ``PreparedRight``; and
    ``kernel(gb, row_idx, prepared, geom_of)`` evaluates that container's
    whole group in array passes. Pairs with a NULL side yield False / NaN.
    """
    from ..kernels.batchgeom import GeomBatch, PreparedRight
    from ..kernels.geom import wkb_loads

    @pandas_udf(returns)
    def _refine(lwkb: pd.Series, rwkb: pd.Series) -> pd.Series:
        cwkb, xwkb = (lwkb, rwkb) if container_left else (rwkb, lwkb)
        out = np.full(len(lwkb), np.nan if returns == "double" else False)
        if not len(out):
            return pd.Series(out)
        ccodes, cuniq = pd.factorize(cwkb.to_numpy(object))
        rcodes, runiq = pd.factorize(xwkb.to_numpy(object))
        gb = GeomBatch.from_wkb([bytes(b) for b in runiq])
        parsed: dict = {}

        def geom_of(k: int):
            g = parsed.get(k)
            if g is None:
                g = parsed[k] = wkb_loads(bytes(runiq[k]))
            return g

        has_row = rcodes >= 0
        for j, blob in enumerate(cuniq):
            sel = (ccodes == j) & has_row
            out[sel] = kernel(gb, rcodes[sel], PreparedRight(wkb_loads(bytes(blob))), geom_of)
        return pd.Series(out)

    return _refine


# ---------------------------------------------------------------------------
# generic WKB × polygon-pack join (extended geometries)
# ---------------------------------------------------------------------------

def _batched_pair_eval(pack: PolygonPack, predicate: str):
    """Boolean pandas UDF (wkb, poly_id) → predicate(poly, geom) — the pack
    polygon is the CONTAINER argument, matching ``pip_refine_udf``'s
    "predicate(poly, point)" convention. WKB parses once per row. Point rows
    evaluate through the pack's per-executor ``prepared()`` structure per
    poly group (``_probe_points``); extended rows go through
    ``batch_predicate`` over one columnar batch of the Arrow batch's rows.
    """
    from ..kernels.batchgeom import GeomBatch, PreparedRight, batch_predicate
    from ..kernels.geom import POINT, wkb_loads

    @pandas_udf("boolean")
    def _eval(wkb: pd.Series, poly_id: pd.Series) -> pd.Series:
        geoms_list = [wkb_loads(bytes(b)) if b is not None else None for b in wkb.to_list()]
        out = np.zeros(len(geoms_list), dtype=bool)
        prepared = pack.prepared()
        is_pt = np.array(
            [g is not None and g.gtype == POINT for g in geoms_list], dtype=bool
        )
        ext_gb = pgeoms = None  # built on the first extended row
        codes, uniques = pd.factorize(poly_id.to_numpy(object))
        for j, pid in enumerate(uniques):
            sel = codes == j
            idx = np.flatnonzero(sel & is_pt)
            if len(idx):
                xs = np.array([geoms_list[i].coords[0, 0] for i in idx])
                ys = np.array([geoms_list[i].coords[0, 1] for i in idx])
                out[idx] = _probe_points(prepared[pid], xs, ys, predicate)
            idx = np.flatnonzero(sel & ~is_pt)
            if len(idx):
                if ext_gb is None:
                    ext_gb, pgeoms = GeomBatch(geoms_list), pack.geoms()
                out[idx] = batch_predicate(
                    ext_gb, idx, PreparedRight(pgeoms[pid]), predicate,
                    geoms_list.__getitem__,
                )
        return pd.Series(out)

    return _eval


def spatial_join_wkb(
    geoms: DataFrame,
    pack: PolygonPack,
    grid: Grid,
    predicate: str = "intersects",
    wkb_col: str = "geom_wkb",
) -> DataFrame:
    """Join arbitrary-WKB rows against the pack with multi-cell replication
    and reference-cell dedup (each pair emitted exactly once).

    The geometry envelope is computed once (vectorized pandas UDF), the
    cover explode is native ``sequence()`` arithmetic (no per-row Python
    list), and the polygon envelope rides on the broadcast cover relation.
    The envelope-pair rule (``_pair_filter``: envelope overlap + the
    reference cell holding the lower-left corner of the envelope
    intersection) is pure Catalyst, so a geometry replicated to k cells
    reaches the Python refine at most once per polygon, already matched to
    its reference cell.

    ``predicate`` is any of ``_JOIN_PREDICATES``; disjoint raises
    ``ValueError``.
    """
    from ..kernels.geom import wkb_loads

    _check_predicate(predicate)
    spark = geoms.sparkSession
    env_by_pid = {e.poly_id: wkb_loads(e.wkb).envelope() for e in pack.entries}
    cover = local_frame(
        spark,
        [(cell, pid, *map(float, env_by_pid[pid])) for cell, pid in pack.cover_rows(grid)],
        "cell_id long, poly_id string, " + ", ".join(f"_p{k} double" for k in _ENV),
    )
    tagged = geoms.withColumn("_env", envelope_struct_udf()(F.col(wkb_col)))
    cand = (
        explode_cover_native(tagged, grid)
        .select("*", *[F.col(f"_env.{k}").alias(f"_g{k}") for k in _ENV])
        .drop("_env")
        .join(F.broadcast(cover), "cell_id")
        .filter(_pair_filter(grid, "_g", "_p"))
        .drop(*[t + k for t in ("_g", "_p") for k in _ENV])
    )
    return cand.filter(_batched_pair_eval(pack, predicate)(F.col(wkb_col), F.col("poly_id")))


# ---------------------------------------------------------------------------
# big × big spatial join: both sides DataFrames (no driver-held pack)
# ---------------------------------------------------------------------------

# predicate(left, right) → (predicate(container, row), container is the left)
_CONTAINER_ROLE = {
    "covers": ("covers", True),
    "contains": ("contains", True),
    "coveredby": ("covers", False),
    "within": ("contains", False),
}


def pair_refine_udf(predicate: str = "intersects"):
    """Boolean pandas UDF (left_wkb, right_wkb) → predicate(left, right).

    The grouped refine with ``batch_predicate`` as its kernel; the
    predicate only picks the container side (the
    ``AbstractPreparedPolygonContains.cs`` role split): the LEFT for
    covers / contains, the RIGHT for within (→ contains) and coveredby
    (→ covers), and the right for the symmetric predicates (intersects,
    touches, overlaps, equals / equalstopo, crosses). Disjoint and unknown
    names raise ``ValueError`` (``_JOIN_PREDICATES``).
    """
    from ..kernels.batchgeom import batch_predicate

    _check_predicate(predicate)
    pred, container_left = _CONTAINER_ROLE.get(predicate, (predicate, False))
    return _grouped_refine(
        lambda gb, rows, pc, geom_of: batch_predicate(gb, rows, pc, pred, geom_of),
        container_left=container_left,
    )


def choose_grid(
    left: DataFrame,
    right: DataFrame,
    extent: tuple[float, float, float, float],
    left_wkb: str = "l_wkb",
    right_wkb: str = "r_wkb",
    fraction: float = 0.01,
    max_level: int = 8,
) -> Grid:
    """Pick the cell grid for a big×big join from a SAMPLE of both sides'
    envelope spans.

    The grid level is the join's shuffle-amplification knob: each row
    explodes once per covered cell, so cells much smaller than the typical
    feature multiply the shuffle volume, while cells much larger pile
    unrelated features into the same bucket. The standard heuristic is
    cell size ≈ typical feature extent (measured 1.3–3× on the rect ×
    octagon workload vs a 2×-finer grid), estimated here as the sampled
    p75 max-span in one cheap aggregate job:

    - p75, not the mean: heavy-tailed extents (a few continent-sized
      features among millions of parcels) drag the mean toward a coarse
      grid that buckets most of the data together; the quantile tracks the
      bulk and lets the tail explode a little — the cheaper direction
      (property-tested with Zipfian extents).
    - each side's sample is topped up with ``limit(min_rows)`` rows so a
      small side (e.g. a 25-row dimension table) still contributes to the
      estimate — a pure fraction sample would draw zero rows from it and
      silently fit the grid to the big side alone.
    - point-dominated data (span ≈ 0) clamps to ``max_level`` — points
      never explode, so the finest grid only adds parallelism."""
    env_udf = envelope_struct_udf()
    min_rows = 64
    spans = []
    for df, col in ((left, left_wkb), (right, right_wkb)):
        s = (
            df.sample(fraction=fraction, seed=7)
            .unionByName(df.limit(min_rows))
            .select(env_udf(F.col(col)).alias("_e"))
        )
        spans.append(
            s.select(
                F.greatest(
                    F.col("_e.maxx") - F.col("_e.minx"),
                    F.col("_e.maxy") - F.col("_e.miny"),
                ).alias("_span")
            )
        )
    row = (
        spans[0].unionByName(spans[1])
        # empty geometries yield NaN envelopes; NaN would poison the
        # aggregate AND slip past the <=0 guard below (NaN compares false),
        # crashing log2
        .filter(~F.isnan("_span"))
        .agg(F.percentile_approx("_span", F.lit(0.75), F.lit(10_000)))
        .first()
    )
    span = row[0] or 0.0
    minx, miny, maxx, maxy = extent
    width = max(maxx - minx, maxy - miny)
    if span <= 0 or width <= 0:
        level = max_level
    else:
        level = int(round(math.log2(width / span)))
        level = max(1, min(max_level, level))
    return Grid(minx, miny, maxx, maxy, level=level)


def spatial_join_bigbig(
    left: DataFrame,
    right: DataFrame,
    grid: Grid,
    predicate: str = "intersects",
    left_id: str = "l_id",
    right_id: str = "r_id",
    left_wkb: str = "l_wkb",
    right_wkb: str = "r_wkb",
) -> DataFrame:
    """Distributed spatial join of TWO DataFrames of WKB geometries.

    This is the 100-TB join shape (no driver-held broadcastable side), and
    everything between the two scans and the final refine is native JVM:

    1. Each side computes its envelope with ONE vectorized pandas UDF
       (uniform WKB batches decode via a single buffer reinterpretation),
       then explodes to covering cells in pure Catalyst — two ``sequence()``
       ranges per row (a grid cover is a rectangle of cell indices). No
       Python list per row; the envelope rides along as four double columns
       (``_tiled``).
    2. Candidates come from a NATIVE equi-join on ``cell_id`` — Catalyst
       picks broadcast vs shuffled hash vs sort-merge, and AQE handles
       skewed cells (hot-cell splitting) and coalesces post-shuffle
       partitions. The grid is the index; no executor-local tree build.
    3. Envelope overlap AND reference-cell dedup (pair reported only in the
       cell containing the lower-left corner of the envelope intersection —
       each pair surfaces exactly once across all cells) are whole-stage-
       codegen'd column predicates applied INSIDE the join stage
       (``_pair_filter``), so the exploded rows never reach Python.
    4. Only surviving candidate pairs (true envelope hits) cross the Arrow
       boundary once, through ``pair_refine_udf``: grouped by the container
       side, each group evaluates through ``batch_predicate`` — whole-array
       passes for intersects, covers / contains / within / coveredby and the
       DE-9IM predicates over polygonal and line rows, the exact relate
       kernel for mixed or probe-ambiguous rows.

    Scale notes: shuffle volume is cover-explode amplified (rows × cells
    covered), proportional to geometry extent over cell size — the grid
    level is the knob. Output is property-tested equal to the broadcast-
    pack path.
    """
    lc = _tiled(left, left_id, left_wkb, grid, "_l")
    rc = _tiled(right, right_id, right_wkb, grid, "_r")
    # shuffle-hash hint: compile-time size stats are meaningless below a
    # Python UDF + explode (Catalyst was observed broadcasting the BIG
    # exploded side); AQE still converts to broadcast at runtime when one
    # side's true size is small, and splits skewed cells
    cand = lc.join(rc.hint("shuffle_hash"), "cell_id").filter(_pair_filter(grid, "_l", "_r"))
    refined = cand.filter(pair_refine_udf(predicate)(F.col(left_wkb), F.col(right_wkb)))
    return refined.select(left_id, right_id, "cell_id")


def within_distance_join_geom(
    left: DataFrame,
    right: DataFrame,
    grid: Grid,
    dist: float,
    left_id: str = "l_id",
    right_id: str = "r_id",
    left_wkb: str = "l_wkb",
    right_wkb: str = "r_wkb",
) -> DataFrame:
    """Distributed within-distance join of TWO WKB DataFrames (the
    extended-geometry analog of the point within-distance join, on the
    big×big machinery).

    The LEFT side's envelope is expanded by ``dist`` before the native
    cover explode, so any right geometry within ``dist`` shares a cell with
    the expanded left. Between the scans and the refine everything is JVM:

    1. vectorized envelope UDF per side; left bounds widened by ``dist``
       in pure Catalyst before ``sequence()``-explode.
    2. native cell equi-join; the codegen prefilter is the exact ENVELOPE
       DISTANCE test (sum of squared per-axis gaps ≤ dist²) — strictly
       tighter than expanded-box overlap.
    3. reference-cell dedup over the expanded-envelope intersection corner
       (each pair refines exactly once).
    4. surviving candidates cross the Arrow boundary once into the grouped
       refine: rights prepare once, lefts decode into one columnar batch,
       and ``batch_within_distance`` (the batched analog of
       ``Operation/Distance/IndexedFacetDistance.cs``) scores each group.
    """
    from ..kernels.batchgeom import batch_within_distance

    d = float(dist)
    lc = _tiled(left, left_id, left_wkb, grid, "_l", expand=d)
    rc = _tiled(right, right_id, right_wkb, grid, "_r")
    cand = lc.join(rc.hint("shuffle_hash"), "cell_id").filter(_pair_filter(grid, "_l", "_r", d))
    within = _grouped_refine(
        lambda gb, rows, pc, geom_of: batch_within_distance(gb, rows, pc, d)
    )
    refined = cand.filter(within(F.col(left_wkb), F.col(right_wkb)))
    return refined.select(left_id, right_id, "cell_id")


def knn_join_geom(
    queries: DataFrame,
    data: DataFrame,
    grid: Grid,
    k: int,
    q_id: str = "q_id",
    q_wkb: str = "q_wkb",
    d_id: str = "d_id",
    d_wkb: str = "d_wkb",
) -> DataFrame:
    """k nearest DATA geometries per QUERY geometry by facet distance —
    the extended-geometry kNN join (WKB × WKB; the distributed analog of
    ``Operation/Distance/IndexedFacetDistance.cs`` under the STRtree
    branch-and-bound ``STRtree.cs:556``), ties broken by (dist2, d_id).

    The rounds are ``_knn_rounds``; each one's candidates come from the
    big×big machinery at the round's radius R: active queries explode to
    the cells within R of their envelope, join the data cover on cell_id
    under the codegen envelope-distance prefilter + reference-cell dedup,
    and the grouped ``batch_distance2`` refine (queries prepared once per
    batch) scores each surviving pair. A geometry whose envelope lies
    farther than R is farther than R, so the retirement rule of
    ``_knn_rounds`` holds; its last round (R = ∞) also reaches data
    outside the grid extent. No geometry ever reaches the driver.
    """
    from ..kernels.batchgeom import batch_distance2

    dist2 = _grouped_refine(
        lambda gb, rows, pc, geom_of: batch_distance2(gb, rows, pc), returns="double"
    )
    # data side tiled ONCE (radius-independent); reused every round.
    # Cached ALREADY HASH-PARTITIONED on the join key: every round's cell
    # join then only shuffles the (tiny) query cover — the big exploded
    # relation was previously re-exchanged per round (guide §2.4: two
    # operations keyed the same way share one exchange).
    dc = _tiled(data, d_id, d_wkb, grid, "_d").repartition("cell_id").persist()

    def near(active: DataFrame, R: float) -> DataFrame:
        return (
            # hash-build on the QUERY side (small per round; the data side
            # is the big exploded relation — building its hash relation ran
            # out of executor build memory at sf0.1)
            _tiled(active, q_id, q_wkb, grid, "_q", expand=R)
            .hint("shuffle_hash").join(dc, "cell_id")
            .filter(_pair_filter(grid, "_q", "_d", R))
            .select(q_id, d_id, dist2(F.col(d_wkb), F.col(q_wkb)).alias("dist2"))
        )

    try:
        return _knn_rounds(queries.select(q_id, q_wkb), k, grid, near, q_id, d_id, "dist2")
    finally:
        dc.unpersist()
