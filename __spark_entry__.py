"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs a real engine path (tiling projection,
broadcast cell join + vectorized prepared-kernel refine, partial top-k, …)
and its ``oracle_sql()`` twin recomputes the same result in pure ANSI SQL
from the same deterministic derivations (``engine/derive.py`` is the single
source of truth — every derived double carries ≤27 significand bits so
Spark, numpy and DuckDB agree bit-for-bit).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nettopologysuite_spark.engine import derive
from nettopologysuite_spark.engine.derive import (
    morton_sql_expr,
    nation_octagon_geom,
    nation_octagon_sql_pred,
    nation_radius,
    nation_radius_sql,
    nation_rect_geom,
    nation_rect_sql_pred,
    points_sql,
)
from nettopologysuite_spark.engine.docs import docs_spatial_join, synthesize_docs
from nettopologysuite_spark.engine.joins import (
    knn_join_points,
    pip_join_points,
    within_distance_join_points,
)
from nettopologysuite_spark.engine.polygons import PolygonPack
from nettopologysuite_spark.engine.session import local_frame
from nettopologysuite_spark.engine.tiling import morton_col, with_cell_id
from nettopologysuite_spark.kernels.cells import Grid

GRID = Grid(0.0, 0.0, 100.0, 100.0, level=6)
COARSE = Grid(0.0, 0.0, 100.0, 100.0, level=3)
KNN_K = 5
ANN_K = 5
ANN_NQ = 8


# ---------------------------------------------------------------------------
# shared builders
# ---------------------------------------------------------------------------

def _event_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("events")
    return spark.sql(points_sql("events", "event_id"))


def _nation_keys(spark: SparkSession, sf_dir: str) -> list[int]:
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return sorted(r[0] for r in df.select("n_nationkey").collect())


def _rect_pack(keys: list[int]) -> PolygonPack:
    # generic on purpose: pip_rect_join keeps one oracle-checked query on
    # the ray-crossing refine UDF (convex packs refine natively)
    return PolygonPack.from_geoms(
        [(f"rect-{k}", nation_rect_geom(k)) for k in keys], kind="generic"
    )


def _octagon_pack(keys: list[int]) -> PolygonPack:
    return PolygonPack.from_geoms(
        [(f"oct-{k}", nation_octagon_geom(k)) for k in keys], kind="convex"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    return with_cell_id(pts, GRID).select("pid", "cell_id")


def q_tile_morton(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    return pts.select("pid", morton_col(GRID).alias("z_order"))


def q_pip_rect_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    pack = _rect_pack(_nation_keys(spark, sf_dir))
    out = pip_join_points(pts, pack, GRID, predicate="covers")
    return out.select("pid", "poly_id")


def q_pip_convex_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    out = pip_join_points(pts, pack, GRID, predicate="covers")
    return out.select("pid", "poly_id")


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-handled sort-merge cell join (hot-cell salting); same result
    set as the broadcast path — same oracle."""
    from nettopologysuite_spark.engine.joins import pip_join_points_sortmerge

    pts = _event_points(spark, sf_dir)
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    out = pip_join_points_sortmerge(
        pts, pack, GRID, "covers", hot_cell_threshold=50, id_col="pid"
    )
    return out.select("pid", "poly_id")


def q_pip_join_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP join through the adaptive multi-level cover (S2 RegionCoverer /
    H3 polyfill-with-compaction analog, ``kernels/adaptive.py``): interior
    cover cells accept candidates with no refine — only boundary-cell
    candidates pay the exact one, here the native half-plane test of the
    convex octagons. Same result set as the single-level broadcast path —
    same oracle."""
    from nettopologysuite_spark.engine.joins import pip_join_points_adaptive

    pts = _event_points(spark, sf_dir)
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    out = pip_join_points_adaptive(pts, pack, GRID, "covers")
    return out.select("pid", "poly_id")


def q_within_dist_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    centers = []
    for k in keys:
        cx, cy = derive.nation_center(k)
        centers.append((f"n-{k}", float(cx), float(cy), nation_radius(k)))
    out = within_distance_join_points(pts, centers, GRID)
    return out.select("pid", "q_id")


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    queries = [(k, float(derive.nation_center(k)[0]), float(derive.nation_center(k)[1]))
               for k in keys]
    return knn_join_points(pts, queries, KNN_K)


def q_knn_join_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-local kNN in radius-doubling rounds — the scale path (work per
    query bounded by local density): the driver-side query list lifted into
    a DataFrame for ``knn_join_table``; same result set and oracle as
    knn_join."""
    from nettopologysuite_spark.engine.joins import knn_join_table

    pts = _event_points(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    queries = local_frame(
        spark,
        [(k, float(derive.nation_center(k)[0]), float(derive.nation_center(k)[1]))
         for k in keys],
        "q_id long, qx double, qy double",
    )
    return knn_join_table(pts, queries, KNN_K, GRID)


def _nation_queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query table derived NATIVELY from the nation parquet (no collect):
    center + radius as codegen expressions of n_nationkey."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    key = F.col("n_nationkey")
    return nat.select(
        key.alias("q_id"),
        (F.lit(10) + (key % 5) * 20).cast("double").alias("qx"),
        (F.lit(10) + F.floor(key / 5) * 20).cast("double").alias("qy"),
        (F.lit(5) + (key % 3) * 2).cast("double").alias("r"),
    )


def q_knn_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join with the QUERY SIDE A DATAFRAME (radius-doubling rounds over
    the within-distance table join, no collect of query rows) — same result
    set and oracle as knn_join."""
    from nettopologysuite_spark.engine.joins import knn_join_table

    pts = _event_points(spark, sf_dir)
    q = _nation_queries_df(spark, sf_dir).select("q_id", "qx", "qy")
    return knn_join_table(pts, q, KNN_K, GRID)


def q_within_dist_join_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-distance join with the QUERY SIDE A DATAFRAME — native cover
    explode + equi-join + codegen distance refine, zero Python and zero
    driver-side query state; same oracle as within_dist_join."""
    from nettopologysuite_spark.engine.joins import within_distance_join_table

    pts = _event_points(spark, sf_dir)
    q = _nation_queries_df(spark, sf_dir).select(
        F.concat(F.lit("n-"), F.col("q_id").cast("string")).alias("q_id"),
        F.col("qx").alias("cx"), F.col("qy").alias("cy"), "r",
    )
    out = within_distance_join_table(pts, q, GRID)
    return out.select("pid", "q_id")


def q_envelope_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    df = with_cell_id(pts, COARSE)
    return df.groupBy("cell_id").agg(
        F.count("*").alias("n"),
        F.min("x").alias("minx"),
        F.min("y").alias("miny"),
        F.max("x").alias("maxx"),
        F.max("y").alias("maxy"),
    )


def q_centroid_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _event_points(spark, sf_dir)
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    joined = pip_join_points(pts, pack, GRID, predicate="covers")
    # exact dyadic sums → order-independent; division once at the end
    return joined.groupBy("poly_id").agg(
        F.count("*").alias("n"),
        (F.sum("x") / F.count("*")).alias("cx"),
        (F.sum("y") / F.count("*")).alias("cy"),
    )


def q_docs_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: geom spans extracted from the docs, tiled, joined to
    the octagon pack's broadcast cover and refined by the native
    half-plane test — no Python worker anywhere in the plan."""
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    out = docs_spatial_join(spark, sf_dir, pack, GRID, predicate="covers")
    return out.select("doc_id", "poly_id")


def q_docs_mixed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-geometry (point/polygon/linestring spans) relate join —
    non-SQL-expressible refine → rows-only driver check; pytest verifies
    against a brute-force kernel oracle."""
    from nettopologysuite_spark.engine.docs import docs_spatial_join_mixed

    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    return docs_spatial_join_mixed(spark, sf_dir, pack, GRID).select(
        "doc_id", "span_idx", "poly_id"
    )


def _event_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-derived rectangles as a WKB DataFrame — the big side of the
    big×big join (center = LCG point, half-extents 1+pid%3 / 1+pid%2)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    # narrow rows widened before the WKB-assembly UDF when the source scan
    # is truly degenerate (1-2 partitions): the vectorized assembly is
    # cheap, so beyond that the exchange outweighs the serialization
    # (threshold_div=4 — measured at 1 and ~10 scan partitions)
    from nettopologysuite_spark.engine.text import widen_input
    from nettopologysuite_spark.kernels.geom import POLYGON, uniform_wkb

    pts = widen_input(_event_points(spark, sf_dir), threshold_div=4)

    @pandas_udf("binary")
    def _rect_wkb(pid: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        # fixed-length (93-byte) single-ring polygons, assembled by
        # uniform_wkb in one numpy buffer — no per-row encoder
        w, h = derive.event_rect_dims(pid.to_numpy(np.int64))
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        return pd.Series(uniform_wkb(POLYGON, derive.rect_rings(xs - w, ys - h, xs + w, ys + h)))

    return pts.select("pid", _rect_wkb(F.col("pid"), F.col("x"), F.col("y")).alias("geom_wkb"))


def _event_segs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-derived HORIZONTAL segments as WKB linestrings: (x−w, y) →
    (x+w, y) with w = 1 + pid % 3 — the line side of the mixed-dimension
    DE-9IM joins (horizontal keeps the oracle's separating-axis arithmetic
    dyadic-exact)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from nettopologysuite_spark.engine.text import widen_input
    from nettopologysuite_spark.kernels.geom import LINESTRING, uniform_wkb

    pts = widen_input(_event_points(spark, sf_dir), threshold_div=4)

    @pandas_udf("binary")
    def _seg_wkb(pid: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        # fixed-length (41-byte) 2-point linestrings, assembled by
        # uniform_wkb in one numpy buffer — no per-row encoder
        w = 1 + (pid.to_numpy(np.int64) % 3)
        xs = x.to_numpy(np.float64)
        ys = y.to_numpy(np.float64)
        xy = np.stack([np.stack([xs - w, xs + w], axis=1),
                       np.stack([ys, ys], axis=1)], axis=2)
        return pd.Series(uniform_wkb(LINESTRING, xy))

    return pts.select(
        "pid", _seg_wkb(F.col("pid"), F.col("x"), F.col("y")).alias("geom_wkb")
    )


def _event_rects_snapped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-snapped event rectangles (lower-left = floor of the LCG
    point, extents 1+pid%3 × 1+pid%2) — exact corners make edge/corner
    contact (touches) common, mirroring `derive.snapped_rect_corners`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from nettopologysuite_spark.engine.text import widen_input
    from nettopologysuite_spark.kernels.geom import POLYGON, uniform_wkb

    pts = widen_input(_event_points(spark, sf_dir), threshold_div=4)

    @pandas_udf("binary")
    def _rect_wkb(pid: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
        corners = derive.snapped_rect_corners(
            pid.to_numpy(np.int64), x.to_numpy(np.float64), y.to_numpy(np.float64)
        )
        return pd.Series(uniform_wkb(POLYGON, derive.rect_rings(*corners)))

    return pts.select("pid", _rect_wkb(F.col("pid"), F.col("x"), F.col("y")).alias("geom_wkb"))


def q_seg_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-dimension CROSSES join: event-derived horizontal segments ×
    nation octagons. The poly×line DE-9IM pair refines through the batched
    line probes (vertex/crossing/midpoint interior-exterior evidence,
    `kernels/batchgeom.py::batch_line_im_probes`) — per-pair Python only
    for probe-ambiguous rows (boundary-collinear / multi-contact), which
    generic segments never produce."""
    from nettopologysuite_spark.engine.joins import spatial_join_wkb

    segs = _event_segs(spark, sf_dir)
    pack = _octagon_pack(_nation_keys(spark, sf_dir))
    out = spatial_join_wkb(segs, pack, GRID, predicate="crosses")
    return out.select("pid", "poly_id")


def q_subdivide_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Subdivide (PostGIS analog) pipeline gate: densified octagons
    (±513 vertices) split into ≤32-vertex pieces, exploded, re-measured —
    per-polygon piece-area sums must reproduce the closed-form octagon
    area EXACTLY after integer rounding (area conservation through the
    halving clip)."""
    from nettopologysuite_spark.functions.st_funcs import build_registry
    from nettopologysuite_spark.kernels.densify import densify
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    keys = _nation_keys(spark, sf_dir)
    df = local_frame(
        spark,
        [(f"oct-{k}",
          bytearray(wkb_dumps(densify(derive.nation_octagon_geom(k), 0.1))))
         for k in keys],
        "poly_id string, wkb binary",
    )
    reg = build_registry()
    pieces = df.select(
        "poly_id",
        F.explode(reg["ST_Subdivide"](F.col("wkb"), F.lit(32))).alias("piece"),
    )
    return (
        pieces.select("poly_id", reg["ST_Area"](F.col("piece")).alias("a"))
        .groupBy("poly_id")
        .agg(F.round(F.sum("a")).cast("long").alias("area_i"))
    )


def q_poly_poly_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big TOUCHES join (DE-9IM boundary-only contact): integer-snapped
    event rectangles × nation rectangles — same native cell equi-join
    machinery, refine through the BATCHED DE-9IM composition
    (touches = batch_intersects ∧ ¬_batch_interiors_intersect, whole-array
    PIP/parity/crossing passes; zero per-pair Python — the round-5 close of
    the last relate fallback, `Operation/RelateNG/TopologyComputer.cs`
    semantics batched)."""
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = _event_rects_snapped(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    nrects = local_frame(
        spark,
        [(f"rect-{k}", wkb_dumps(derive.nation_rect_geom(k))) for k in keys],
        "poly_id string, rect_wkb binary",
    )
    out = spatial_join_bigbig(
        rects, nrects, Grid(0.0, 0.0, 100.0, 100.0, level=5), "touches",
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="rect_wkb",
    )
    return out.select("pid", "poly_id")


def q_poly_poly_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big spatial join: event rectangles (DataFrame) × nation octagons
    (DataFrame) — native cell equi-join with codegen envelope-overlap and
    reference-cell dedup filters; only true candidates cross into the
    vectorized exact-intersects refine. No broadcast pack."""
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = _event_rects(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    octs = local_frame(
        spark,
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    # grid level is THE shuffle-amplification knob of the big×big join
    # (rows explode once per covered cell): this workload's geometries span
    # 2–8 units, so level 5 (3.1-unit cells ≈ feature extent) beats the
    # point-join grid (level 6, 1.6-unit cells) — measured 1.3–3× across
    # interleaved reps, identical output at every level (dedup invariant)
    out = spatial_join_bigbig(
        rects, octs, Grid(0.0, 0.0, 100.0, 100.0, level=5), "intersects",
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="oct_wkb",
    )
    return out.select("pid", "poly_id")


def q_poly_poly_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big CONTAINMENT join: nation octagons (left/container) contains
    event rectangles (right) — same native cell equi-join machinery, refine
    through the vectorized batch-covers kernel (each octagon prepared once
    per Arrow batch, rect batch decoded via the uniform-WKB fast path;
    zero per-pair Python — plan-gated like poly_poly_join)."""
    from nettopologysuite_spark.engine.joins import spatial_join_bigbig
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = _event_rects(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    octs = local_frame(
        spark,
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    out = spatial_join_bigbig(
        octs, rects, Grid(0.0, 0.0, 100.0, 100.0, level=5), "contains",
        left_id="poly_id", right_id="pid", left_wkb="oct_wkb", right_wkb="geom_wkb",
    )
    return out.select("pid", "poly_id")


def q_within_dist_join_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended-geometry within-distance join: event rectangles within
    distance 2 of nation octagons (WKB × WKB) — envelope-expanded cover
    explode, exact codegen envelope-distance prefilter, vectorized
    facet-distance refine (IndexedFacetDistance.cs analog, batched)."""
    from nettopologysuite_spark.engine.joins import within_distance_join_geom
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = _event_rects(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    octs = local_frame(
        spark,
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    out = within_distance_join_geom(
        rects, octs, Grid(0.0, 0.0, 100.0, 100.0, level=5), dist=2.0,
        left_id="pid", right_id="poly_id", left_wkb="geom_wkb", right_wkb="oct_wkb",
    )
    return out.select("pid", "poly_id")


def q_geo_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinate-level near-dup removal: grid-snap clustering (cell 0.5) —
    the distributed form of KdTree snap-tolerance insertion
    (Index/KdTree/KdTree.cs; the exact kernel is pytest-gated). One hash
    shuffle; representative = min pid per snap cell."""
    pts = _event_points(spark, sf_dir)
    snapped = pts.select(
        "pid",
        F.floor(F.col("x") * 2).cast("long").alias("sx"),
        F.floor(F.col("y") * 2).cast("long").alias("sy"),
    )
    return (
        snapped.groupBy("sx", "sy")
        .agg(F.min("pid").alias("keep_pid"), F.count("*").alias("n_pts"))
        .select("sx", "sy", "keep_pid", "n_pts")
    )


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-span stats over the interleaved docs table (native array
    expressions; spans never explode-and-regroup)."""
    from nettopologysuite_spark.engine.media import media_stats

    docs = synthesize_docs(spark, sf_dir)
    return media_stats(docs)


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-level dedup on the content fingerprint (pHash analog)."""
    from nettopologysuite_spark.engine.media import media_dedup

    docs = synthesize_docs(spark, sf_dir)
    return media_dedup(docs)


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: the 10 smallest md5(doc_id) per
    source — exact-reproducible reservoir sampling for training-data
    pipelines (any engine re-draws the same sample)."""
    from nettopologysuite_spark.engine.text import sample_per_source

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return sample_per_source(docs, k=10)


def q_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length quantiles (nearest-rank p50/p90/p99) —
    bit-reproducible corpus profiling, no percentile_approx."""
    from nettopologysuite_spark.engine.text import length_quantiles

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return length_quantiles(docs)


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media thumbnail pass: real decode → nearest-neighbor 32×32 resize →
    channel means (closed-form oracle over the gradient image)."""
    from nettopologysuite_spark.engine.media import media_resized_features

    docs = synthesize_docs(spark, sf_dir)
    return media_resized_features(docs)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: deterministic multi-frame container, every 2nd
    frame decoded (unsampled frames skipped without decoding), per-frame
    stats."""
    from nettopologysuite_spark.engine.media import media_frame_samples

    docs = synthesize_docs(spark, sf_dir)
    return media_frame_samples(docs)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN over the embeddings table: deterministic coarse
    centroids → inverted lists (broadcast assignment) → nprobe-list probe →
    exact quantized-cosine re-rank. The list-partitioned scale path next to
    the hyperplane-LSH variant (ann_lsh)."""
    from nettopologysuite_spark.engine.ann import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, ANN_NQ, ANN_K)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (sources != src0) scored by
    word-trigram overlap against the src0 'benchmark' set; flag at ≥30%
    overlap in exact integer arithmetic."""
    from nettopologysuite_spark.engine.text import decontaminate
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


def q_embed_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random projection of the embeddings to 16 components
    (JL compression ahead of ANN) — exact integer arithmetic, zero
    Python."""
    from nettopologysuite_spark.engine.ann import project_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return project_embeddings(emb)


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster canonicalization: connected components over the
    MinHash-LSH near-dup pair graph (``graph.connected_components``: one
    bounded collect, then an exact driver solve at this size) → (doc_id,
    cluster_id = min id in component). The oracle computes the same components from
    the exact brute-force pair set with a recursive CTE."""
    from nettopologysuite_spark.engine.dedup import dup_clusters, minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, threshold_pct=80)
    return dup_clusters(pairs)


def q_knn_join_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended-geometry kNN join: for each nation octagon (query), the 5
    nearest event rectangles by facet distance — the radius-doubling rounds
    shared with ``knn_join_table`` over the big×big machinery, vectorized
    batch_distance2 refine, STRtree-style retirement (k-th distance ≤
    examined radius)."""
    from nettopologysuite_spark.engine.joins import knn_join_geom
    from nettopologysuite_spark.kernels.geom import wkb_dumps

    rects = _event_rects(spark, sf_dir)
    keys = _nation_keys(spark, sf_dir)
    octs = local_frame(
        spark,
        [(f"oct-{k}", wkb_dumps(nation_octagon_geom(k))) for k in keys],
        "poly_id string, oct_wkb binary",
    )
    out = knn_join_geom(
        octs, rects, Grid(0.0, 0.0, 100.0, 100.0, level=5), k=5,
        q_id="poly_id", q_wkb="oct_wkb", d_id="pid", d_wkb="geom_wkb",
    )
    return out.select("poly_id", "rank", "pid", "dist2")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media decode pipeline: refs → deterministic synthesized PPM/BMP
    bytes (fetch stand-in) → REAL pure-numpy decode → exact channel stats.
    The oracle reproduces every feature from the ref hash in closed form —
    width/height/seed from md5 hex substrings, means from the gradient
    image's exact sums."""
    from nettopologysuite_spark.engine.media import media_features

    docs = synthesize_docs(spark, sf_dir)
    return media_features(docs)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.dedup import exact_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs)


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.text import doc_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_stats(docs)


def q_knn_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embeddings table (ANN baseline)."""
    import numpy as np


    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qrows = (
        emb.filter(F.col("vec_id") < ANN_NQ).select("vec_id", "embedding").collect()
    )
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    # quantize to integer-valued doubles (floor(x*1024); *1024 is exact) so
    # every dot product / norm is an exact small-integer sum — bit-identical
    # across engines regardless of accumulation order
    qm = np.floor(np.array([r[1] for r in qrows], dtype=np.float64) * 1024.0)
    qnorm = np.sqrt((qm * qm).sum(axis=1))
    k = ANN_K

    def partial(batches):
        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            vids = pdf["vec_id"].to_numpy(np.int64)
            m = np.floor(np.array(pdf["embedding"].to_list(), dtype=np.float64) * 1024.0)
            enorm = np.sqrt((m * m).sum(axis=1))
            sims = (m @ qm.T) / (qnorm[None, :] * enorm[:, None])  # (B, nq)
            for j, qid in enumerate(qids):
                s = sims[:, j]
                mask = vids != qid  # exclude self
                cs = s[mask]
                ci = vids[mask]
                if qid in best:
                    cs = np.concatenate([best[qid][0], cs])
                    ci = np.concatenate([best[qid][1], ci])
                order = np.lexsort((ci, -cs))[: k]
                best[qid] = (cs[order], ci[order])
        rows = []
        for qid, (cs, ci) in best.items():
            for s, i in zip(cs, ci):
                rows.append((int(qid), int(i), float(s)))
        yield pd.DataFrame(rows, columns=["q_id", "vec_id_n", "sim"])

    survivors = emb.select("vec_id", "embedding").mapInPandas(
        partial, "q_id long, vec_id_n long, sim double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("vec_id_n").asc())
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", F.col("vec_id_n").alias("nbr_id"), "sim")
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN: random-hyperplane LSH signatures (JVM higher-order
    functions), broadcast join of the query buckets for bare id candidate
    pairs, exact quantized-cosine re-rank on candidates only — the scale path next to the brute-force
    knn_embedding baseline."""
    from nettopologysuite_spark.engine.ann import ann_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann_lsh_topk(emb, ANN_NQ, ANN_K)


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN GRAPH over the whole embedding table (SemDeDup / graph-cluster
    primitive): every vector's top-5 LSH-bucket candidates by exact
    quantized cosine — bare id pairs from ``lsh.bucket_pairs``, arrays
    join back once."""
    from nettopologysuite_spark.engine.ann import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return knn_graph(emb, k=5)


def q_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-bucket candidate pairs
    (``lsh.bucket_pairs``) + exact quantized-cosine threshold (the
    embedding analog of minhash_lsh)."""
    from nettopologysuite_spark.engine.ann import embed_cosine_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embed_cosine_dedup(emb, threshold_pct=40)


def q_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed cascaded union of the (disjoint) nation rectangles;
    output count + exact union area (oracle: sum of rectangle areas)."""


    from nettopologysuite_spark.engine.aggregates import distributed_union
    from nettopologysuite_spark.kernels.geom import wkb_dumps, wkb_loads
    from nettopologysuite_spark.kernels.measures import area as geom_area

    keys = _nation_keys(spark, sf_dir)
    rows = [(k, wkb_dumps(nation_rect_geom(k))) for k in keys]
    df = local_frame(spark, rows, "k long, geom_wkb binary").repartition(8)
    u = distributed_union(df)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _area(wkb: pd.Series) -> pd.Series:
        return pd.Series([geom_area(wkb_loads(bytes(b))) for b in wkb])

    return u.select(
        F.lit(len(keys)).cast("long").alias("n_polys"),
        _area(F.col("union_wkb")).alias("total_area"),
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.zonal import synthetic_raster, zonal_stats

    pack = _rect_pack(_nation_keys(spark, sf_dir))
    px = synthetic_raster(spark, n=128)
    return zonal_stats(px, pack, GRID)


def q_raster_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster → vector polygonize (gdal_polygonize / ST_DumpAsPolygons
    analog): equal-value 4-connected pixel regions become polygons via
    connected-components labels + a fan-in-bounded coverage-union tree.
    geom_area re-measures the ASSEMBLED polygon with the shoelace kernel —
    the oracle's closed-form region area must survive the whole geometry
    pipeline."""
    from nettopologysuite_spark.engine.zonal import (
        raster_polygonize,
        synthetic_striped_raster,
    )
    from nettopologysuite_spark.functions.st_funcs import build_registry

    px = synthetic_striped_raster(spark, n=128)
    out = raster_polygonize(px, n=128)
    reg = build_registry()
    return out.select(
        "region_id", "value", "n_pixels", "area",
        reg["ST_Area"](F.col("geom_wkb")).alias("geom_area"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.dedup import blocked_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, blocked_pairs(docs))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_pairs(docs, threshold_pct=80)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.text import lang_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_id(docs)


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.text import doc_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_quality(docs)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nettopologysuite_spark.engine.text import doc_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_fingerprint(docs)


def q_hull_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed convex hull (hull-of-partition-hulls) over the nation
    octagon vertex cloud; output = hull vertex rows (x, y) so a pure-SQL
    oracle (O(n²) hull-edge test) can verify values exactly. The same
    aggregate over the full event table is pytest-gated against the kernel
    hull (tests/test_engine_ops.py)."""
    from nettopologysuite_spark.engine.aggregates import distributed_convex_hull
    from nettopologysuite_spark.kernels.geom import wkb_loads

    keys = _nation_keys(spark, sf_dir)
    rows = []
    for k in keys:
        for vx, vy in derive.nation_octagon_vertices(k):
            rows.append((float(vx), float(vy)))
    pts = local_frame(spark, rows, "x double, y double").repartition(8)
    hull = distributed_convex_hull(pts)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<struct<x:double,y:double>>")
    def _verts(wkb: pd.Series) -> pd.Series:
        out = []
        for b in wkb:
            g = wkb_loads(bytes(b))
            ring = g.rings[0][:-1]  # drop closing duplicate
            out.append([(float(x), float(y)) for x, y in ring])
        return pd.Series(out)

    return (
        hull.select(F.explode(_verts(F.col("hull_wkb"))).alias("v"))
        .select(F.col("v.x").alias("x"), F.col("v.y").alias("y"))
    )


def _event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-derived 1-D intervals: lo = LCG x, len = (1 + id%7)/16 — every
    endpoint an exact dyadic double (≤27 significand bits + 4 fraction
    bits), so Spark and DuckDB agree bit-for-bit."""
    pts = _event_points(spark, sf_dir)
    return pts.select(
        F.col("pid").alias("e_id"),
        F.col("x").alias("e_lo"),
        (F.col("x") + (F.lit(1) + F.col("pid") % 7).cast("double") / F.lit(16)
         ).alias("e_hi"),
    )


def _supplier_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.read.parquet(f"{sf_dir}/supplier.parquet").createOrReplaceTempView(
        "supplier"
    )
    sup = spark.sql(points_sql("supplier", "s_suppkey", "s_id"))
    return sup.select(
        "s_id",
        F.col("x").alias("s_lo"),
        (F.col("x") + (F.lit(1) + F.col("s_id") % 5).cast("double") / F.lit(16)
         ).alias("s_hi"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D interval join (events × suppliers) — the distributed form of the
    reference's interval stabbing (SortedPackedIntervalRTree/Bintree; SURVEY
    §2.8's interval-join analog): native bin cover explode + bin equi-join +
    reference-bin dedup + codegen overlap refine. Zero Python."""
    from nettopologysuite_spark.engine.interval import interval_join

    li = _event_intervals(spark, sf_dir)
    ri = _supplier_intervals(spark, sf_dir)
    out = interval_join(
        li, ri, 0.0, 104.0, nbins=64,
        l_lo="e_lo", l_hi="e_hi", r_lo="s_lo", r_hi="s_hi",
    )
    return out.select("e_id", "s_id", F.col("overlap").alias("ov"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each query (an event sampled by id%7==3, shifted back
    one minute) find its user's latest earlier-or-equal event — union +
    single keyed window pass with a running last(ignorenulls). One shuffle,
    zero Python (SURVEY §2.8's as-of analog)."""
    from nettopologysuite_spark.engine.interval import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    queries = events.filter(F.col("event_id") % 7 == 3).select(
        F.col("event_id").alias("q_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 MINUTE")).alias("q_ts"),
    )
    return asof_join(events, queries)


def q_geo_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN(eps=0.5, minPts=3) over the event points — the PostGIS
    ST_ClusterDBSCAN analog (deterministic min-label border assignment).
    eps-grid candidate join + ``graph.connected_components`` (its core
    edges fit the exact driver solve at this size), all native."""
    from nettopologysuite_spark.engine.cluster import dbscan

    pts = _event_points(spark, sf_dir)
    return dbscan(pts, eps=0.5, min_pts=3)


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition markers (duplicate-word and top-bigram
    fractions, exact integer ppm) — zero-shuffle: array_distinct + a
    sorted-array fold inside one JVM projection."""
    from nettopologysuite_spark.engine.text import doc_repetition

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return doc_repetition(docs)


def q_cluster_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PostGIS ST_ClusterWithin analog: transitive closure of the
    within-0.5 relation over the event points (DBSCAN without the density
    gate) — eps-grid candidates + ``graph.connected_components``."""
    from nettopologysuite_spark.engine.cluster import cluster_within

    pts = _event_points(spark, sf_dir)
    return cluster_within(pts, eps=0.5)


def q_geo_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (PostGIS ST_ClusterKMeans analog,
    pinned seeding/ties): k=8 over the event points. Iterative algorithm
    → rows-only driver check; pytest pins argmin optimality, monotone
    inertia, and the centroid fixpoint."""
    from nettopologysuite_spark.engine.cluster import kmeans

    pts = _event_points(spark, sf_dir)
    return kmeans(pts, k=8)


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 256-token training chunks
    (two-level prefix sum — no global single-partition sort; native
    sequence() chunk fan-out)."""
    from nettopologysuite_spark.engine.text import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, ctx_len=256)


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup: duplicate 8-token windows across documents
    (Lee et al. 2022 window-granular analog) — per-doc window totals and
    duplicated-window counts, all-native plan, hash-keyed shuffles."""
    from nettopologysuite_spark.engine.dedup import window_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return window_dedup(docs, k=8)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (md5-60-bit gram hash → DuckDB-reproducible)."""
    from nettopologysuite_spark.engine.dedup import simhash_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_fingerprints(docs)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: interleaved-docs spatial join at sf0.001."""
    return q_docs_pip_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign": q_tile_assign,
        "tile_morton": q_tile_morton,
        "pip_rect_join": q_pip_rect_join,
        "pip_convex_join": q_pip_convex_join,
        "pip_join_adaptive": q_pip_join_adaptive,
        "pip_join_salted": q_pip_join_salted,
        "within_dist_join": q_within_dist_join,
        "knn_join": q_knn_join,
        "knn_join_ring": q_knn_join_ring,
        "knn_join_df": q_knn_join_df,
        "within_dist_join_df": q_within_dist_join_df,
        "envelope_agg": q_envelope_agg,
        "centroid_agg": q_centroid_agg,
        "docs_pip_join": q_docs_pip_join,
        "docs_mixed_join": q_docs_mixed_join,
        "poly_poly_join": q_poly_poly_join,
        "poly_poly_contains": q_poly_poly_contains,
        "poly_poly_touches": q_poly_poly_touches,
        "seg_cross_join": q_seg_cross_join,
        "subdivide_area": q_subdivide_area,
        "within_dist_join_geom": q_within_dist_join_geom,
        "media_features": q_media_features,
        "knn_join_geom": q_knn_join_geom,
        "dup_clusters": q_dup_clusters,
        "ann_ivf": q_ann_ivf,
        "embed_project": q_embed_project,
        "decontaminate": q_decontaminate,
        "media_resize": q_media_resize,
        "media_frames": q_media_frames,
        "doc_sample": q_doc_sample,
        "doc_quantiles": q_doc_quantiles,
        "media_stats": q_media_stats,
        "media_dedup": q_media_dedup,
        "geo_dedup": q_geo_dedup,
        "dedup_exact": q_dedup_exact,
        "doc_stats": q_doc_stats,
        "knn_embedding": q_knn_embedding,
        "ann_lsh": q_ann_lsh,
        "knn_graph": q_knn_graph,
        "embed_dedup": q_embed_dedup,
        "union_area": q_union_area,
        "zonal_stats": q_zonal_stats,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "lang_id": q_lang_id,
        "doc_quality": q_doc_quality,
        "fingerprint": q_fingerprint,
        "hull_agg": q_hull_agg,
        "simhash": q_simhash,
        "window_dedup": q_window_dedup,
        "seq_pack": q_seq_pack,
        "geo_cluster": q_geo_cluster,
        "geo_kmeans": q_geo_kmeans,
        "cluster_within": q_cluster_within,
        "raster_polygonize": q_raster_polygonize,
        "doc_repetition": q_doc_repetition,
        "interval_join": q_interval_join,
        "asof_join": q_asof_join,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB ANSI SQL over the pre-registered views)
# ---------------------------------------------------------------------------

_PTS = "(" + points_sql("events", "event_id") + ")"
_DOCPTS = "(" + points_sql("documents", "doc_id", "did") + ")"


def _cell_sql(x: str, y: str, grid: Grid) -> str:
    return grid.sql_cell_expr(x, y)


# single source of truth for the marker table: the oracle must test exactly
# the definition the engine runs, so a new language/marker lands in both
from nettopologysuite_spark.engine.text import LANG_MARKERS as _LANG_MARKERS

_WORDS_SQL = "regexp_split_to_array(TRIM(text), '\\s+')"


def _marker_count_sql(targets: list[str]) -> str:
    """Token-equality marker count over ONE shared split (mirrors
    engine/text.py _marker_count exactly)."""
    in_list = ", ".join(f"'{t}'" for t in targets)
    return f"CAST(LEN(list_filter({_WORDS_SQL}, w -> w IN ({in_list}))) AS BIGINT)"


def _lang_scores_sql() -> dict[str, str]:
    return {lang: _marker_count_sql(ms) for lang, ms in _LANG_MARKERS.items()}


def _grams_cte() -> str:
    return (
        "WITH g AS (SELECT DISTINCT d.doc_id, substr(d.text, i.i, 3) AS gram "
        "FROM documents d JOIN generate_series(1, 1000) i(i) "
        "ON i.i <= GREATEST(LENGTH(d.text) - 2, 1) WHERE d.text IS NOT NULL), "
        "sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1)"
    )


def _lang_id_oracle() -> str:
    scores = _lang_scores_sql()
    langs = list(_LANG_MARKERS)
    # mirror the engine's strict-> argmax chain exactly
    case = f"'{langs[0]}'"
    best = scores[langs[0]]
    for lang in langs[1:]:
        case = f"CASE WHEN {scores[lang]} > {best} THEN '{lang}' ELSE {case} END"
        best = f"CASE WHEN {scores[lang]} > {best} THEN {scores[lang]} ELSE {best} END"
    total = " + ".join(scores[l] for l in langs)
    sel = ", ".join(f"{scores[l]} AS sc_{l}" for l in langs)
    return (
        f"SELECT doc_id, {sel}, "
        f"CASE WHEN ({total}) = 0 THEN 'und' ELSE {case} END AS lang_pred "
        f"FROM documents"
    )


def _doc_quality_oracle() -> str:
    n_stop = _marker_count_sql([m for ms in _LANG_MARKERS.values() for m in ms])
    n_tokens = (
        "CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 "
        "ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END"
    )
    n_punct = "(LENGTH(text) - LENGTH(regexp_replace(text, '[.!?,;]', '', 'g')))"
    return (
        f"SELECT doc_id, LENGTH(text) AS n_chars_m, {n_tokens} AS n_tokens, "
        f"{n_punct} AS n_punct, ({n_stop}) AS n_stop, "
        f"(({n_tokens}) * 1000 + ({n_stop}) * 10 - {n_punct}) AS quality_i "
        f"FROM documents"
    )


def _simhash_oracle(bits: int = 60) -> str:
    gh = "CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT)"
    sums = ", ".join(
        f"SUM(CASE WHEN (gh >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return (
        _grams_cte()
        + f", h AS (SELECT doc_id, {gh} AS gh FROM g), "
        f"v AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id) "
        f"SELECT doc_id, ({fp}) AS simhash FROM v"
    )


def _hull_agg_oracle() -> str:
    """Strict convex hull vertices of the octagon vertex cloud via the
    O(n²·n) maximal-hull-edge test (n = 200): (a, b) is a hull edge iff no
    point lies strictly right of a→b and no collinear point lies beyond the
    closed segment; vertices = distinct edge endpoints. All cross products
    exact (integer coordinates)."""
    tmpl = ", ".join(f"({tx}, {ty})" for tx, ty in derive.OCTAGON)
    return (
        f"WITH t(tx, ty) AS (VALUES {tmpl}), "
        f"v AS (SELECT DISTINCT "
        f"CAST((10 + (n.n_nationkey % 5) * 20) + (1 + (n.n_nationkey % 2)) * t.tx AS DOUBLE) AS x, "
        f"CAST((10 + (CAST(FLOOR(n.n_nationkey / 5) AS BIGINT)) * 20) + (1 + (n.n_nationkey % 2)) * t.ty AS DOUBLE) AS y "
        f"FROM nation n CROSS JOIN t), "
        f"e AS (SELECT a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by "
        f"FROM v a CROSS JOIN v b WHERE (a.x <> b.x OR a.y <> b.y) AND NOT EXISTS ("
        f"  SELECT 1 FROM v c WHERE (c.x <> a.x OR c.y <> a.y) AND (c.x <> b.x OR c.y <> b.y) AND ("
        f"    (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) < 0 OR ("
        f"     (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) = 0 AND ("
        f"      c.x < LEAST(a.x, b.x) OR c.x > GREATEST(a.x, b.x) "
        f"      OR c.y < LEAST(a.y, b.y) OR c.y > GREATEST(a.y, b.y))))))"
        f"SELECT DISTINCT x, y FROM ("
        f"  SELECT ax AS x, ay AS y FROM e UNION ALL SELECT bx, by FROM e) u"
    )


def _mixed_join_oracle() -> str:
    """Per-span-type exact intersect predicates: point → octagon half-plane
    cover; 2×2 square → rect×octagon SAT; 2-segment polyline → per-segment
    SAT (segment normal axes (1,-3) and (3,2))."""
    pt = nation_octagon_sql_pred("p.x", "p.y", "n.n_nationkey")
    sq = derive.rect_octagon_sql_pred(
        "(p.x + CAST(1 AS DOUBLE))", "(p.y + CAST(1 AS DOUBLE))", "1", "1",
        "n.n_nationkey")
    s1 = derive.seg_octagon_sql_pred(
        "p.x", "p.y", "(p.x + 3)", "(p.y + 1)", "n.n_nationkey", (1, -3))
    s2 = derive.seg_octagon_sql_pred(
        "(p.x + 3)", "(p.y + 1)", "(p.x + 1)", "(p.y + 4)", "n.n_nationkey", (3, 2))
    pred = (
        f"CASE WHEN p.did % 20 < 16 THEN {pt} "
        f"WHEN p.did % 20 < 19 THEN {sq} "
        f"ELSE ({s1} OR {s2}) END"
    )
    return (
        f"SELECT printf('doc-%012d', p.did) AS doc_id, "
        f"CAST(1 AS INT) AS span_idx, "
        f"'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
        f"FROM {_DOCPTS} p CROSS JOIN nation n WHERE {pred}"
    )


def _interval_join_oracle() -> str:
    """Brute-force closed-interval range join on the same dyadic-exact
    derived endpoints (mirrors q_interval_join)."""
    xe = derive.point_exprs_sql("event_id")[0]
    xs = derive.point_exprs_sql("s_suppkey")[0]
    return (
        f"WITH li AS (SELECT event_id AS e_id, {xe} AS lo, "
        f"({xe}) + CAST(1 + event_id % 7 AS DOUBLE) / 16 AS hi FROM events), "
        f"ri AS (SELECT s_suppkey AS s_id, {xs} AS lo, "
        f"({xs}) + CAST(1 + s_suppkey % 5 AS DOUBLE) / 16 AS hi FROM supplier) "
        f"SELECT l.e_id, r.s_id, "
        f"LEAST(l.hi, r.hi) - GREATEST(l.lo, r.lo) AS ov "
        f"FROM li l JOIN ri r ON l.lo <= r.hi AND l.hi >= r.lo"
    )


def _asof_join_oracle() -> str:
    """The same union+running-last window construction as engine
    ``asof_join``, in DuckDB SQL (LAST_VALUE ... IGNORE NULLS). Offsets
    between the engines' epoch conventions cancel in ``lag_us``."""
    over = (
        "OVER (PARTITION BY user_id ORDER BY t, is_q, COALESCE(eid, qid) "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return (
        "WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id AS eid "
        "FROM events), "
        "q AS (SELECT user_id, epoch_us(ts - INTERVAL 1 MINUTE) AS t, "
        "event_id AS qid FROM events WHERE event_id % 7 = 3), "
        "u AS (SELECT user_id, t, 0 AS is_q, eid, CAST(NULL AS BIGINT) AS qid "
        "FROM ev UNION ALL "
        "SELECT user_id, t, 1, CAST(NULL AS BIGINT), qid FROM q), "
        f"m AS (SELECT user_id, t, is_q, qid, "
        f"LAST_VALUE(eid IGNORE NULLS) {over} AS m_eid, "
        f"LAST_VALUE(CASE WHEN is_q = 0 THEN t END IGNORE NULLS) {over} AS m_t "
        "FROM u) "
        "SELECT qid AS q_id, user_id, COALESCE(m_eid, -1) AS evt_id, "
        "COALESCE(t - m_t, -1) AS lag_us FROM m WHERE is_q = 1"
    )


def _ann_oracle() -> str:
    from nettopologysuite_spark.engine.ann import ann_lsh_oracle_sql

    return ann_lsh_oracle_sql(ANN_NQ, ANN_K)


def _knn_graph_oracle() -> str:
    from nettopologysuite_spark.engine.ann import knn_graph_oracle_sql

    return knn_graph_oracle_sql(5)


def _embed_project_oracle() -> str:
    from nettopologysuite_spark.engine.ann import project_oracle_sql

    return project_oracle_sql()


def _ann_ivf_oracle() -> str:
    from nettopologysuite_spark.engine.ann import ivf_oracle_sql

    return ivf_oracle_sql(ANN_NQ, ANN_K)


def _embed_dedup_oracle() -> str:
    from nettopologysuite_spark.engine.ann import embed_cosine_dedup_oracle_sql

    return embed_cosine_dedup_oracle_sql(threshold_pct=40)


def oracle_sql() -> dict[str, str]:
    oct_pred = nation_octagon_sql_pred("p.x", "p.y", "n.n_nationkey")
    rect_pred = nation_rect_sql_pred("p.x", "p.y", "n.n_nationkey")
    r_sql = nation_radius_sql("n.n_nationkey")
    cx = "(10 + (n.n_nationkey % 5) * 20)"
    cy = "(10 + (CAST(FLOOR(n.n_nationkey / 5) AS BIGINT)) * 20)"
    ix6 = f"CAST(FLOOR(x / {derive.sql_double(GRID.cell_w)}) AS BIGINT)"
    iy6 = f"CAST(FLOOR(y / {derive.sql_double(GRID.cell_h)}) AS BIGINT)"
    knn_sql = (
        f"SELECT q_id, rank, pid, d2 FROM ("
        f"  SELECT n.n_nationkey AS q_id, p.pid, "
        f"         (p.x - {cx}) * (p.x - {cx}) + (p.y - {cy}) * (p.y - {cy}) AS d2, "
        f"         ROW_NUMBER() OVER (PARTITION BY n.n_nationkey "
        f"                            ORDER BY (p.x - {cx}) * (p.x - {cx}) + (p.y - {cy}) * (p.y - {cy}) ASC, p.pid ASC) AS rank "
        f"  FROM {_PTS} p CROSS JOIN nation n) t WHERE rank <= {KNN_K}"
    )
    wdist_sql = (
        f"SELECT p.pid, 'n-' || CAST(n.n_nationkey AS VARCHAR) AS q_id "
        f"FROM {_PTS} p CROSS JOIN nation n "
        f"WHERE (p.x - {cx}) * (p.x - {cx}) + (p.y - {cy}) * (p.y - {cy}) "
        f"<= {r_sql} * {r_sql}"
    )

    def _touches_sql() -> str:
        ax1, ay1, ax2, ay2 = derive.snapped_rect_corners_sql("p.pid", "p.x", "p.y")
        bx1, by1, bx2, by2 = derive.nation_rect_corners_sql("n.n_nationkey")
        return (
            f"SELECT p.pid, 'rect-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE "
            + derive.rects_touch_sql_pred(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2)
        )
    return {
        "tile_assign": f"SELECT pid, {_cell_sql('x', 'y', GRID)} AS cell_id FROM {_PTS} p",
        "tile_morton": f"SELECT pid, {morton_sql_expr(ix6, iy6, GRID.level)} AS z_order FROM {_PTS} p",
        "pip_rect_join": (
            f"SELECT p.pid, 'rect-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE {rect_pred}"
        ),
        "pip_convex_join": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE {oct_pred}"
        ),
        "pip_join_salted": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE {oct_pred}"
        ),
        "pip_join_adaptive": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE {oct_pred}"
        ),
        "within_dist_join": wdist_sql,
        "within_dist_join_df": wdist_sql,
        "knn_join_ring": knn_sql,
        "knn_join": knn_sql,
        "knn_join_df": knn_sql,
        "envelope_agg": (
            f"SELECT {_cell_sql('x', 'y', COARSE)} AS cell_id, COUNT(*) AS n, "
            f"MIN(x) AS minx, MIN(y) AS miny, MAX(x) AS maxx, MAX(y) AS maxy "
            f"FROM {_PTS} p GROUP BY 1"
        ),
        "centroid_agg": (
            f"SELECT 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id, "
            f"COUNT(*) AS n, SUM(p.x) / COUNT(*) AS cx, SUM(p.y) / COUNT(*) AS cy "
            f"FROM {_PTS} p CROSS JOIN nation n WHERE {oct_pred} GROUP BY 1"
        ),
        "docs_pip_join": (
            f"SELECT printf('doc-%012d', p.did) AS doc_id, "
            f"'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM {_DOCPTS} p CROSS JOIN nation n "
            + "WHERE " + nation_octagon_sql_pred("p.x", "p.y", "n.n_nationkey")
        ),
        "poly_poly_join": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM (SELECT pid, x, y, (1 + pid % 3) AS w, (1 + pid % 2) AS h "
            f"FROM {_PTS} p0) p CROSS JOIN nation n "
            f"WHERE "
            + derive.rect_octagon_sql_pred("p.x", "p.y", "p.w", "p.h", "n.n_nationkey")
        ),
        "poly_poly_contains": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM (SELECT pid, x, y, (1 + pid % 3) AS w, (1 + pid % 2) AS h "
            f"FROM {_PTS} p0) p CROSS JOIN nation n "
            f"WHERE "
            + derive.rect_in_octagon_sql_pred("p.x", "p.y", "p.w", "p.h", "n.n_nationkey")
        ),
        "poly_poly_touches": _touches_sql(),
        "subdivide_area": (
            # closed-form octagon area (template area 48 × scale²): the
            # Spark side must conserve it exactly through densify →
            # subdivide → explode → per-piece shoelace → sum → round
            "SELECT 'oct-' || CAST(n_nationkey AS VARCHAR) AS poly_id, "
            "CAST(48 * (1 + n_nationkey % 2) * (1 + n_nationkey % 2) AS BIGINT) "
            "AS area_i FROM nation"
        ),
        "seg_cross_join": (
            # crosses(octagon, horizontal segment), dim pair (2,1):
            # II ∧ EI. Convexity ⇒ EI ⟺ an endpoint strictly exterior
            # (both endpoints in the closure pin the whole segment there);
            # II via the STRICT separating-axis form (relative interiors
            # of convex sets intersect iff every candidate axis overlaps
            # with positive length). All arithmetic integer × dyadic.
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM (SELECT pid, x, y, (1 + pid % 3) AS w FROM {_PTS} p0) p "
            f"CROSS JOIN nation n WHERE "
            + derive.hseg_octagon_strict_sql_pred(
                "p.x - p.w", "p.x + p.w", "p.y", "n.n_nationkey"
            )
            + " AND (NOT "
            + derive.nation_octagon_sql_pred("p.x - p.w", "p.y", "n.n_nationkey")
            + " OR NOT "
            + derive.nation_octagon_sql_pred("p.x + p.w", "p.y", "n.n_nationkey")
            + ")"
        ),
        "within_dist_join_geom": (
            f"SELECT p.pid, 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id "
            f"FROM (SELECT pid, x, y, (1 + pid % 3) AS w, (1 + pid % 2) AS h "
            f"FROM {_PTS} p0) p CROSS JOIN nation n "
            f"WHERE "
            + derive.rect_octagon_withindist_sql_pred(
                "p.x", "p.y", "p.w", "p.h", "n.n_nationkey", 2)
        ),
        "knn_join_geom": (
            # dist2 computes ONCE in the inner scan; the window orders by
            # the materialized column (duckdb 1.0.0's buffer accounting
            # breaks when the 64-term expression also sits inside the
            # window's ORDER BY — bogus OOM on re-execution)
            f"SELECT poly_id, rank, pid, dist2 FROM ("
            f"  SELECT poly_id, pid, dist2, "
            f"         ROW_NUMBER() OVER (PARTITION BY poly_id ORDER BY "
            f"             dist2 ASC, pid ASC) AS rank FROM ("
            f"    SELECT 'oct-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id, "
            f"           p.pid, "
            + derive.rect_octagon_dist2_sql(
                "p.x", "p.y", "p.w", "p.h", "n.n_nationkey")
            + " AS dist2 "
            f"    FROM (SELECT pid, x, y, (1 + pid % 3) AS w, (1 + pid % 2) AS h "
            f"          FROM {_PTS} p0) p CROSS JOIN nation n) s) t "
            f"WHERE rank <= 5"
        ),
        "dedup_exact": (
            "SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups "
            "FROM documents GROUP BY md5(text)"
        ),
        "doc_stats": (
            "SELECT doc_id, LENGTH(text) AS n_chars_m, "
            "CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0 "
            "ELSE LEN(regexp_split_to_array(TRIM(text), '\\s+')) END AS n_tokens, "
            "LENGTH(text) - LENGTH(regexp_replace(text, '[.!?,;]', '', 'g')) AS n_punct, "
            "CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) "
            "AS BIGINT) AS n_subtokens "
            "FROM documents"
        ),
        "union_area": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_polys, "
            "CAST(SUM(4 * (3 + n_nationkey % 4) * (2 + n_nationkey % 3)) AS DOUBLE) "
            "AS total_area FROM nation"
        ),
        "zonal_stats": (
            # pixel grid 128×128 over [0,100)²; center-in-rectangle join
            f"WITH px AS (SELECT CAST(t.i % 128 AS BIGINT) AS ix, "
            f"CAST(FLOOR(t.i / 128) AS BIGINT) AS iy FROM generate_series(0, 16383) t(i)), "
            f"p AS (SELECT ix, iy, (CAST(ix AS DOUBLE) + {derive.sql_double(0.5)}) * {derive.sql_double(100.0 / 128)} AS x, "
            f"(CAST(iy AS DOUBLE) + {derive.sql_double(0.5)}) * {derive.sql_double(100.0 / 128)} AS y, "
            f"(ix * 31 + iy * 17) % 97 AS value FROM px) "
            f"SELECT 'rect-' || CAST(n.n_nationkey AS VARCHAR) AS poly_id, "
            f"COUNT(*) AS n_px, CAST(SUM(p.value) AS BIGINT) AS sum_v, "
            f"CAST(SUM(p.value) AS DOUBLE) / COUNT(*) AS mean_v "
            f"FROM p CROSS JOIN nation n WHERE {nation_rect_sql_pred('p.x', 'p.y', 'n.n_nationkey')} "
            f"GROUP BY 1"
        ),
        "ngram_jaccard": (
            _grams_cte() + ", pairs AS ("
            "SELECT a.doc_id AS d1, b.doc_id AS d2 FROM documents a JOIN documents b "
            "ON a.source = b.source AND a.doc_id < b.doc_id "
            "AND ABS(a.n_chars - b.n_chars) <= 3), "
            "inter AS (SELECT p.d1, p.d2, COUNT(*) AS ni FROM pairs p "
            "JOIN g g1 ON g1.doc_id = p.d1 JOIN g g2 ON g2.doc_id = p.d2 "
            "AND g1.gram = g2.gram GROUP BY 1, 2) "
            "SELECT p.d1, p.d2, CAST(COALESCE(i.ni, 0) AS BIGINT) AS ni, "
            "CAST(s1.n + s2.n - COALESCE(i.ni, 0) AS BIGINT) AS nu "
            "FROM pairs p LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2 "
            "JOIN sizes s1 ON s1.doc_id = p.d1 JOIN sizes s2 ON s2.doc_id = p.d2"
        ),
        "minhash_lsh": (
            # brute-force word-bigram jaccard ≥ 0.8 (integer arithmetic)
            "WITH w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws "
            "FROM documents), "
            "g AS (SELECT DISTINCT doc_id, CASE WHEN LEN(ws) < 2 THEN ws[1] "
            "ELSE ws[i.i] || ' ' || ws[i.i + 1] END AS gram "
            "FROM w JOIN generate_series(1, 1000) i(i) "
            "ON i.i <= GREATEST(LEN(ws) - 1, 1)), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1), "
            "inter AS (SELECT g1.doc_id AS d1, g2.doc_id AS d2, COUNT(*) AS ni "
            "FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id "
            "GROUP BY 1, 2) "
            "SELECT i.d1, i.d2, CAST(i.ni AS BIGINT) AS ni, "
            "CAST(s1.n + s2.n - i.ni AS BIGINT) AS nu "
            "FROM inter i JOIN sizes s1 ON s1.doc_id = i.d1 "
            "JOIN sizes s2 ON s2.doc_id = i.d2 "
            "WHERE i.ni * 100 >= (s1.n + s2.n - i.ni) * 80"
        ),
        "decontaminate": (
            "WITH w AS (SELECT doc_id, source, "
            "regexp_split_to_array(TRIM(text), '\\s+') AS ws FROM documents "
            "WHERE text IS NOT NULL), "
            "g AS (SELECT DISTINCT doc_id, source, "
            "CASE WHEN LEN(ws) < 3 THEN array_to_string(ws, ' ') "
            "ELSE ws[i.i] || ' ' || ws[i.i + 1] || ' ' || ws[i.i + 2] END AS gram "
            "FROM w JOIN generate_series(1, 1000) i(i) "
            "ON i.i <= GREATEST(LEN(ws) - 2, 1)), "
            "bg AS (SELECT DISTINCT gram FROM g WHERE source = 'src0') "
            "SELECT c.doc_id, COUNT(*) AS n_grams, "
            "COUNT(bg.gram) AS n_contaminated, "
            "COUNT(bg.gram) * 100 >= COUNT(*) * 30 AS flagged "
            "FROM g c LEFT JOIN bg ON c.gram = bg.gram "
            "WHERE c.source <> 'src0' GROUP BY c.doc_id"
        ),
        "doc_sample": (
            "SELECT doc_id, source, smp_rank FROM ("
            "  SELECT doc_id, source, ROW_NUMBER() OVER ("
            "    PARTITION BY source "
            "    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC"
            "  ) AS smp_rank FROM documents) t WHERE smp_rank <= 10"
        ),
        "doc_quantiles": (
            # nearest-rank quantiles: value at rank ceil(p*n/100), ties by id
            "WITH r AS (SELECT source, doc_id, LENGTH(text) AS len, "
            "ROW_NUMBER() OVER (PARTITION BY source "
            "ORDER BY LENGTH(text) ASC, doc_id ASC) AS rn, "
            "COUNT(*) OVER (PARTITION BY source) AS n FROM documents) "
            "SELECT source, MAX(n) AS n_docs, "
            "MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN len END) AS p50, "
            "MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN len END) AS p90, "
            "MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN len END) AS p99 "
            "FROM r GROUP BY source"
        ),
        "dup_clusters": (
            # exact-jaccard pair graph (same CTE as minhash_lsh) → connected
            # components via recursive transitive closure, label = min id
            "WITH RECURSIVE "
            "w AS (SELECT doc_id, regexp_split_to_array(TRIM(text), '\\s+') AS ws "
            "FROM documents), "
            "g AS (SELECT DISTINCT doc_id, CASE WHEN LEN(ws) < 2 THEN ws[1] "
            "ELSE ws[i.i] || ' ' || ws[i.i + 1] END AS gram "
            "FROM w JOIN generate_series(1, 1000) i(i) "
            "ON i.i <= GREATEST(LEN(ws) - 1, 1)), "
            "sizes AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1), "
            "p AS (SELECT i.d1, i.d2 FROM "
            "(SELECT g1.doc_id AS d1, g2.doc_id AS d2, COUNT(*) AS ni "
            "FROM g g1 JOIN g g2 ON g1.gram = g2.gram AND g1.doc_id < g2.doc_id "
            "GROUP BY 1, 2) i "
            "JOIN sizes s1 ON s1.doc_id = i.d1 JOIN sizes s2 ON s2.doc_id = i.d2 "
            "WHERE i.ni * 100 >= (s1.n + s2.n - i.ni) * 80), "
            "edges AS (SELECT d1 AS a, d2 AS b FROM p "
            "UNION SELECT d2, d1 FROM p), "
            "reach(node, label) AS ("
            "  SELECT a, a FROM edges "
            "  UNION "
            "  SELECT e.a, r.label FROM edges e JOIN reach r ON e.b = r.node) "
            "SELECT node AS doc_id, MIN(label) AS cluster_id "
            "FROM reach GROUP BY node"
        ),
        "interval_join": _interval_join_oracle(),
        "asof_join": _asof_join_oracle(),
        "embed_dedup": _embed_dedup_oracle(),
        "lang_id": _lang_id_oracle(),
        "doc_quality": _doc_quality_oracle(),
        "simhash": _simhash_oracle(),
        "cluster_within": (
            # transitive closure of the within-0.5 relation (same eps-grid
            # candidacy; /0.5 ≡ *2 exactly), min-label components,
            # singletons label themselves
            "WITH RECURSIVE "
            f"pts AS (SELECT pid, x, y, "
            "CAST(FLOOR(x * CAST(2 AS DOUBLE)) AS BIGINT) AS cx, "
            "CAST(FLOOR(y * CAST(2 AS DOUBLE)) AS BIGINT) AS cy "
            f"FROM {_PTS} p), "
            "offs AS (SELECT dxs.g AS dx, dys.g AS dy "
            "FROM generate_series(-1, 1) dxs(g), generate_series(-1, 1) dys(g)), "
            "e AS (SELECT p.pid AS a, q.pid AS b "
            "FROM pts p CROSS JOIN offs JOIN pts q "
            "ON p.cx + offs.dx = q.cx AND p.cy + offs.dy = q.cy "
            "WHERE p.pid <> q.pid AND "
            "(p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) "
            "<= CAST(1 AS DOUBLE) / CAST(4 AS DOUBLE)), "
            "reach(node, label) AS ("
            "  SELECT a, a FROM e "
            "  UNION "
            "  SELECT e.a, r.label FROM e JOIN reach r ON e.b = r.node), "
            "clab AS (SELECT node, MIN(label) AS cl FROM reach GROUP BY node) "
            "SELECT p.pid, COALESCE(k.cl, p.pid) AS cluster_id "
            "FROM pts p LEFT JOIN clab k ON p.pid = k.node"
        ),
        "raster_polygonize": (
            # closed-form regions of the striped synthetic raster:
            # 16-wide × 64-tall rectangles; region_id = top-left pixel id;
            # area twice (counted and geometric) — both exact dyadic
            "WITH px AS (SELECT (i % 128) AS ix, (i // 128) AS iy "
            "FROM generate_series(0, 16383) t(i)), "
            "r AS (SELECT ix, iy, "
            "CAST((ix // 16) % 3 + 3 * (iy // 64) AS BIGINT) AS value, "
            "CAST(((iy // 64) * 64) * 128 + ((ix // 16) * 16) AS BIGINT) AS region_id "
            "FROM px) "
            "SELECT region_id, value, COUNT(*) AS n_pixels, "
            "COUNT(*) * (CAST(100 AS DOUBLE) / CAST(128 AS DOUBLE)) "
            "* (CAST(100 AS DOUBLE) / CAST(128 AS DOUBLE)) AS area, "
            "COUNT(*) * (CAST(100 AS DOUBLE) / CAST(128 AS DOUBLE)) "
            "* (CAST(100 AS DOUBLE) / CAST(128 AS DOUBLE)) AS geom_area "
            "FROM r GROUP BY region_id, value"
        ),
        "doc_repetition": (
            # duplicate-word and top-bigram fractions as exact integer ppm;
            # DuckDB reproduces via unnest+group (different dataflow, same
            # integers — floor of ratios whose distance to any integer
            # exceeds double rounding error for n < 2^32)
            "WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws "
            "FROM documents), "
            "base AS (SELECT doc_id, len(ws) AS n, len(list_distinct(ws)) AS d FROM w), "
            "bg AS (SELECT doc_id, ws[i.i] || ' ' || ws[i.i + 1] AS b "
            "FROM w JOIN generate_series(1, 1000) i(i) ON i.i <= len(ws) - 1), "
            "tp AS (SELECT doc_id, MAX(c) AS mx FROM "
            "(SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY doc_id) "
            "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words, "
            "CAST(CASE WHEN b.n > 0 THEN ((b.n - b.d) * 1000000) // b.n ELSE 0 END AS BIGINT) AS dup_word_ppm, "
            "CAST(CASE WHEN b.n >= 2 THEN (COALESCE(t.mx, 0) * 1000000) // (b.n - 1) "
            "ELSE 0 END AS BIGINT) AS top_bigram_ppm "
            "FROM base b LEFT JOIN tp t USING (doc_id)"
        ),
        "geo_cluster": (
            # eps = 0.5 (dyadic: /0.5 ≡ *2 exactly in IEEE), minPts = 3.
            # Same eps-grid candidate join as the engine, then transitive
            # closure over core-core edges seeded per-core (covers
            # singleton cores), min-label clusters, min-label borders.
            "WITH RECURSIVE "
            f"pts AS (SELECT pid, x, y, "
            "CAST(FLOOR(x * CAST(2 AS DOUBLE)) AS BIGINT) AS cx, "
            "CAST(FLOOR(y * CAST(2 AS DOUBLE)) AS BIGINT) AS cy "
            f"FROM {_PTS} p), "
            "offs AS (SELECT dxs.g AS dx, dys.g AS dy "
            "FROM generate_series(-1, 1) dxs(g), generate_series(-1, 1) dys(g)), "
            "cand AS (SELECT p.pid AS a, q.pid AS b "
            "FROM pts p CROSS JOIN offs JOIN pts q "
            "ON p.cx + offs.dx = q.cx AND p.cy + offs.dy = q.cy "
            "WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y) "
            "<= CAST(1 AS DOUBLE) / CAST(4 AS DOUBLE)), "
            "deg AS (SELECT a, COUNT(*) AS n FROM cand GROUP BY a), "
            "core AS (SELECT a FROM deg WHERE n >= 3), "
            "ce AS (SELECT c.a, c.b FROM cand c WHERE c.a <> c.b "
            "AND c.a IN (SELECT a FROM core) AND c.b IN (SELECT a FROM core)), "
            "reach(node, label) AS ("
            "  SELECT a, a FROM core "
            "  UNION "
            "  SELECT e.a, r.label FROM ce e JOIN reach r ON e.b = r.node), "
            "clab AS (SELECT node, MIN(label) AS cl FROM reach GROUP BY node), "
            "border AS (SELECT c.a AS pid, MIN(k.cl) AS cl "
            "FROM cand c JOIN clab k ON c.b = k.node "
            "WHERE c.a NOT IN (SELECT a FROM core) GROUP BY c.a) "
            "SELECT p.pid, COALESCE(k.cl, b.cl) AS cluster_id, "
            "(k.node IS NOT NULL) AS is_core "
            "FROM pts p LEFT JOIN clab k ON p.pid = k.node "
            "LEFT JOIN border b ON p.pid = b.pid"
        ),
        "seq_pack": (
            "WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n FROM documents), "
            "o AS (SELECT doc_id, n, CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS offs FROM t), "
            "e AS (SELECT doc_id, n, offs, c AS chunk_id FROM o, "
            "LATERAL UNNEST(generate_series(offs // 256, (offs + n - 1) // 256)) AS u(c) "
            "WHERE n > 0) "
            "SELECT chunk_id, doc_id, "
            "GREATEST(0, chunk_id * 256 - offs) AS tok_start, "
            "LEAST(n, (chunk_id + 1) * 256 - offs) AS tok_end, "
            "GREATEST(0, offs - chunk_id * 256) AS chunk_pos FROM e"
        ),
        "window_dedup": (
            "WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws "
            "FROM documents), "
            "wins AS (SELECT doc_id, "
            "CAST(('0x' || substr(md5(array_to_string(ws[i:i+7], ' ')), 1, 15)) AS BIGINT) AS wh "
            "FROM toks, LATERAL UNNEST(generate_series(1, len(ws) - 7)) AS t(i) "
            "WHERE len(ws) >= 8), "
            "dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2), "
            "tot AS (SELECT doc_id, COUNT(*) AS n_windows FROM wins GROUP BY doc_id), "
            "fl AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM wins "
            "WHERE wh IN (SELECT wh FROM dup) GROUP BY doc_id) "
            "SELECT d.doc_id, COALESCE(tot.n_windows, 0) AS n_windows, "
            "COALESCE(fl.n_dup_windows, 0) AS n_dup_windows "
            "FROM documents d LEFT JOIN tot USING(doc_id) LEFT JOIN fl USING(doc_id)"
        ),
        "ann_lsh": _ann_oracle(),
        "knn_graph": _knn_graph_oracle(),
        "ann_ivf": _ann_ivf_oracle(),
        "embed_project": _embed_project_oracle(),
        "hull_agg": _hull_agg_oracle(),
        "docs_mixed_join": _mixed_join_oracle(),
        "media_stats": (
            "SELECT printf('doc-%012d', doc_id) AS doc_id, 1 AS n_media, "
            "source AS media_src, "
            "md5(lower(trim(printf('media://%s/%d', source, doc_id)))) AS media_fp "
            "FROM documents"
        ),
        "media_dedup": (
            # perceptual fingerprint = dhash|WxH|round(mean_blue). On the
            # gradient corpus the dHash is provably 0 for every image
            # (channel-sum luminance strictly increases with column, so no
            # left>right bit ever fires) and mean_blue = seed exactly —
            # the fingerprint partition is (width, height, seed)
            "WITH m AS (SELECT doc_id, "
            "md5(printf('media://%s/%d', source, doc_id)) AS hh FROM documents), "
            "p AS (SELECT doc_id, "
            "CAST(16 + CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 200 AS INT) AS width, "
            "CAST(16 + CAST('0x' || substr(hh, 7, 6) AS BIGINT) % 200 AS INT) AS height, "
            "CAST('0x' || substr(hh, 13, 2) AS BIGINT) AS seed FROM m) "
            "SELECT MIN(printf('doc-%012d', doc_id)) AS keep_id, "
            "COUNT(*) AS n_dups FROM p GROUP BY width, height, seed"
        ),
        "media_features": (
            # closed-form features of the deterministic gradient image
            # (R = row, G = col, B = seed): dims/seed/fmt from md5 hex
            # substrings of the ref, means exact doubles
            "WITH m AS (SELECT printf('doc-%012d', doc_id) AS doc_id, "
            "md5(printf('media://%s/%d', source, doc_id)) AS hh FROM documents), "
            "p AS (SELECT doc_id, "
            "CAST(16 + CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 200 AS INT) AS width, "
            "CAST(16 + CAST('0x' || substr(hh, 7, 6) AS BIGINT) % 200 AS INT) AS height, "
            "CAST('0x' || substr(hh, 13, 2) AS BIGINT) AS seed, "
            "CASE WHEN CAST('0x' || substr(hh, 15, 1) AS BIGINT) % 2 = 0 "
            "THEN 'ppm' ELSE 'bmp' END AS fmt FROM m) "
            "SELECT doc_id, 1 AS span_idx, fmt, width, height, "
            "(CAST(height AS DOUBLE) - 1.0) / 2.0 AS mean_r, "
            "(CAST(width AS DOUBLE) - 1.0) / 2.0 AS mean_g, "
            "CAST(seed AS DOUBLE) AS mean_b, "
            "0 AS r_first, height - 1 AS r_last FROM p"
        ),
        "media_resize": (
            # means of the 32x32 nearest-neighbor thumbnail of the gradient
            # image: resized R values are floor(i*h/32) (power-of-two
            # divisions stay exact in double)
            "WITH m AS (SELECT printf('doc-%012d', doc_id) AS doc_id, "
            "md5(printf('media://%s/%d', source, doc_id)) AS hh FROM documents), "
            "p AS (SELECT doc_id, "
            "CAST(16 + CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 200 AS INT) AS width, "
            "CAST(16 + CAST('0x' || substr(hh, 7, 6) AS BIGINT) % 200 AS INT) AS height, "
            "CAST('0x' || substr(hh, 13, 2) AS BIGINT) AS seed FROM m) "
            "SELECT doc_id, 1 AS span_idx, width, height, "
            "(SELECT SUM(FLOOR(i.i * p.height / 32.0)) FROM generate_series(0, 31) i(i)) "
            "/ 32.0 AS mean_r, "
            "(SELECT SUM(FLOOR(j.j * p.width / 32.0)) FROM generate_series(0, 31) j(j)) "
            "/ 32.0 AS mean_g, "
            "CAST(seed AS DOUBLE) AS mean_b FROM p"
        ),
        "media_frames": (
            # every 2nd frame of the nf-frame container; frame f is the
            # gradient image with seed (seed+f) % 256
            "WITH m AS (SELECT printf('doc-%012d', doc_id) AS doc_id, "
            "md5(printf('media://%s/%d', source, doc_id)) AS hh FROM documents), "
            "p AS (SELECT doc_id, "
            "CAST(16 + CAST('0x' || substr(hh, 1, 6) AS BIGINT) % 200 AS INT) AS width, "
            "CAST(16 + CAST('0x' || substr(hh, 7, 6) AS BIGINT) % 200 AS INT) AS height, "
            "CAST('0x' || substr(hh, 13, 2) AS BIGINT) AS seed, "
            "CAST(2 + CAST('0x' || substr(hh, 16, 1) AS BIGINT) % 7 AS INT) AS nf "
            "FROM m) "
            "SELECT doc_id, 1 AS span_idx, CAST(f.f AS INT) AS frame_idx, "
            "nf AS n_frames, width, height, "
            "(CAST(height AS DOUBLE) - 1.0) / 2.0 AS mean_r, "
            "(CAST(width AS DOUBLE) - 1.0) / 2.0 AS mean_g, "
            "CAST((seed + f.f) % 256 AS DOUBLE) AS mean_b "
            "FROM p JOIN generate_series(0, 7) f(f) "
            "ON f.f < p.nf AND f.f % 2 = 0"
        ),
        "geo_dedup": (
            f"SELECT CAST(FLOOR(x * 2) AS BIGINT) AS sx, "
            f"CAST(FLOOR(y * 2) AS BIGINT) AS sy, "
            f"MIN(pid) AS keep_pid, COUNT(*) AS n_pts "
            f"FROM {_PTS} p GROUP BY 1, 2"
        ),
        "fingerprint": (
            "SELECT doc_id, md5(TRIM(regexp_replace(LOWER(text), '\\s+', ' ', 'g'))) "
            "AS fingerprint FROM documents"
        ),
        "knn_embedding": (
            # quantized-integer cosine (see q_knn_embedding): every sum is an
            # exact small-integer double → bit-identical across engines
            f"SELECT q_id, rank, nbr_id, sim FROM ("
            f"  SELECT q_id, nbr_id, sim, "
            f"         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, nbr_id ASC) AS rank "
            f"  FROM ("
            f"    SELECT q.vec_id AS q_id, e.vec_id AS nbr_id, "
            f"           list_dot_product(list_transform(q.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024)), "
            f"                            list_transform(e.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024))) "
            f"           / (sqrt(list_dot_product(list_transform(q.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024)), "
            f"                                    list_transform(q.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024)))) "
            f"              * sqrt(list_dot_product(list_transform(e.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024)), "
            f"                                      list_transform(e.embedding, v -> FLOOR(CAST(v AS DOUBLE) * 1024))))) AS sim "
            f"    FROM embeddings q CROSS JOIN embeddings e "
            f"    WHERE q.vec_id < {ANN_NQ} AND e.vec_id <> q.vec_id) s0"
            f") t WHERE rank <= {ANN_K}"
        ),
    }
