"""Raster ↔ vector zonal statistics over the shared tiling layer.

Raster pixels are rows (cell-aligned, deterministic synthetic values in the
sandbox; Iceberg-backed tiles at scale); zonal stats = the same cell join as
the vector path (pixel center → cell → broadcast polygon cover → exact PIP
refine) followed by a plain groupBy — no new machinery, which is the point:
the tiling layer is shared between raster and vector (north rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels.cells import Grid
from .joins import pip_join_points
from .polygons import PolygonPack


def synthetic_raster(spark: SparkSession, n: int = 128, extent: float = 100.0) -> DataFrame:
    """n×n pixel grid over [0, extent)²; value = (ix*31 + iy*17) % 97.

    Pure integer/dyadic arithmetic → bit-identical in any engine.
    """
    w = extent / n
    return spark.range(n * n).select(
        (F.col("id") % n).alias("ix"),
        (F.col("id") / n).cast("long").alias("iy"),
        (((F.col("id") % n) + 0.5) * F.lit(w)).alias("x"),
        ((F.floor(F.col("id") / n) + 0.5) * F.lit(w)).alias("y"),
        (((F.col("id") % n) * 31 + F.floor(F.col("id") / n) * 17) % 97).alias("value"),
    )


def zonal_stats(
    pixels: DataFrame, pack: PolygonPack, grid: Grid
) -> DataFrame:
    """(poly_id, n_px, sum_v, mean_v) of pixels whose center is covered."""
    joined = pip_join_points(pixels, pack, grid, predicate="covers")
    return joined.groupBy("poly_id").agg(
        F.count("*").alias("n_px"),
        F.sum("value").alias("sum_v"),
        (F.sum("value") / F.count("*")).alias("mean_v"),
    )


def synthetic_striped_raster(spark: SparkSession, n: int = 128,
                             extent: float = 100.0) -> DataFrame:
    """n×n pixel grid whose value field forms 16-wide × 64-tall rectangular
    regions (value = (ix//16) % 3 + 3·(iy//64)): adjacent regions always
    differ, while NON-adjacent stripes repeat values — so a correct
    polygonizer must keep equal-valued disjoint regions apart, and a
    region spans 64 rows (connected-components must propagate, not just
    group). Pure integer/dyadic arithmetic → closed-form oracle."""
    w = extent / n
    ix = (F.col("id") % n).cast("long")
    iy = F.floor(F.col("id") / n).cast("long")
    return spark.range(n * n).select(
        ix.alias("ix"), iy.alias("iy"),
        ((ix + 0.5) * F.lit(w)).alias("x"),
        ((iy + 0.5) * F.lit(w)).alias("y"),
        (F.pmod(F.floor(ix / 16), F.lit(3)) + 3 * F.floor(iy / 64))
        .cast("long").alias("value"),
    )


def raster_polygonize(pixels: DataFrame, n: int, extent: float = 100.0,
                      tile_shift: int = 4, fanin: int = 64) -> DataFrame:
    """Raster → vector polygonize (the GDAL ``gdal_polygonize`` / PostGIS
    ``ST_DumpAsPolygons`` direction — closes the raster↔vector loop the
    zonal join opens): connected regions of equal-valued pixels
    (4-adjacency) become polygons.

    → (region_id, value, n_pixels, area, geom_wkb) with region_id = min
    pixel id (iy·n + ix) in the region.

    Scale shape: adjacency edges from two lead()-window passes,
    checkpointed once; region labels via ``graph.connected_components``
    over them; geometry via a BOUNDED-FAN-IN coverage-union tree — pixel
    squares union per (region, 2^tile_shift-square tile; ``n`` need not be
    a multiple of the tile size) first, then tile partials merge in rounds of
    ``fanin`` (tile id integer-divides by ``fanin`` per round) until one
    task per region unions at most ``fanin`` partials. ``coverage_union``
    removes only duplicated edges and never merges collinear segments, so
    partials stay exactly noded against each other — every level is again
    a valid coverage. Task input is bounded by tile size at level 1 and by
    ``fanin`` at every merge level, so a continent-sized equal-value
    region can no longer concentrate its whole tile set in one task. The
    number of merge rounds derives STATICALLY from the tile-grid size (no
    per-level counting jobs); pixel counts ride along the partials, so the
    per-region stats need no separate aggregate or join.
    """
    import pandas as pd

    from ..kernels.coverage import coverage_union
    from ..kernels.geom import Geom, POLYGON, wkb_dumps, wkb_loads
    from .graph import connected_components

    w = extent / n
    base = pixels.select(
        (F.col("iy") * n + F.col("ix")).alias("pid"),
        F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
        F.col("value"),
    )
    # adjacency via lead() windows, not self-joins: one row-partitioned
    # and one column-partitioned shuffle carry half the data movement of
    # the equivalent equi-joins, and the explicit coordinate check keeps
    # sparse rasters (missing pixels) correct
    from pyspark.sql import Window

    wrow = Window.partitionBy("iy").orderBy("ix")
    e_right = (
        base.select(
            "pid", "ix", "value",
            F.lead("pid").over(wrow).alias("b"),
            F.lead("ix").over(wrow).alias("nix"),
            F.lead("value").over(wrow).alias("nv"),
        )
        .filter((F.col("nix") == F.col("ix") + 1)
                & (F.col("nv") == F.col("value")))
        .select(F.col("pid").alias("a"), "b")
    )
    wcol = Window.partitionBy("ix").orderBy("iy")
    e_up = (
        base.select(
            "pid", "iy", "value",
            F.lead("pid").over(wcol).alias("b"),
            F.lead("iy").over(wcol).alias("niy"),
            F.lead("value").over(wcol).alias("nv"),
        )
        .filter((F.col("niy") == F.col("iy") + 1)
                & (F.col("nv") == F.col("value")))
        .select(F.col("pid").alias("a"), "b")
    )
    # each 4-adjacency appears once (right/up edges have b > a); the CC
    # re-reads its input, so the window passes run once into a checkpoint
    edges = e_right.union(e_up).localCheckpoint(eager=True)
    lab = connected_components(edges).withColumnRenamed("node", "pid")
    reg = base.join(lab, "pid", "left").withColumn(
        "region_id", F.coalesce(F.col("label"), F.col("pid"))
    )

    def _square(ix: int, iy: int) -> Geom:
        import numpy as np

        x0, y0 = ix * w, iy * w
        ring = np.array([
            (x0, y0), (x0 + w, y0), (x0 + w, y0 + w), (x0, y0 + w), (x0, y0),
        ], dtype=np.float64)
        return Geom(POLYGON, rings=[ring])

    def tile_partial(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        squares = [_square(int(r.ix), int(r.iy)) for r in pdf.itertuples()]
        return pd.DataFrame({
            "region_id": [key[0]],
            "tile": [key[1]],
            "value": [pdf["value"].iloc[0]],
            "n_px": [len(squares)],
            "w": [wkb_dumps(coverage_union(squares))],
        })

    # a partial last tile row/column counts as a tile: the stride must
    # cover ix >> tile_shift = (n - 1) >> tile_shift, or tile ids collide
    # across rows and outnumber the static merge-round bound below
    tiles_per_side = ((n - 1) >> tile_shift) + 1
    tiled = reg.withColumn(
        "tile",
        (F.shiftright(F.col("iy"), tile_shift) * tiles_per_side
         + F.shiftright(F.col("ix"), tile_shift)),
    )
    part_schema = "region_id long, tile long, value long, n_px long, w binary"
    partials = tiled.groupBy("region_id", "tile").applyInPandas(
        tile_partial, part_schema
    )

    def merge_partial(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # fan-in bound holds by construction (tile DIV fanin per round);
        # the assert turns a violated bound into a loud failure
        assert len(pdf) <= fanin, f"fan-in bound violated: {len(pdf)}"
        parts = [wkb_loads(bytes(b)) for b in pdf["w"]]
        return pd.DataFrame({
            "region_id": [key[0]],
            "tile": [key[1]],
            "value": [pdf["value"].iloc[0]],
            "n_px": [int(pdf["n_px"].sum())],
            "w": [wkb_dumps(coverage_union(parts))],
        })

    # merge rounds until any region's partial count fits one task: the
    # worst case is a region covering the whole tile grid, so the round
    # count derives statically from the grid size — no counting jobs
    groups = tiles_per_side ** 2
    while groups > fanin:
        partials = partials.withColumn(
            "tile", F.floor(F.col("tile") / fanin).cast("long")
        ).groupBy("region_id", "tile").applyInPandas(merge_partial, part_schema)
        groups = -(-groups // fanin)

    def region_final(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        assert len(pdf) <= fanin, f"fan-in bound violated: {len(pdf)}"
        parts = [wkb_loads(bytes(b)) for b in pdf["w"]]
        n_px = int(pdf["n_px"].sum())
        return pd.DataFrame({
            "region_id": [key[0]],
            "value": [pdf["value"].iloc[0]],
            "n_pixels": [n_px],
            "area": [n_px * (w * w)],
            "geom_wkb": [wkb_dumps(coverage_union(parts))],
        })

    return partials.groupBy("region_id").applyInPandas(
        region_final,
        "region_id long, value long, n_pixels long, area double, geom_wkb binary",
    )
