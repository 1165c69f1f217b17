"""Tile (cell) assignment at the DataFrame layer.

For (x, y) double columns the cell id is a *pure Catalyst projection*
(floor arithmetic) — whole-stage-codegen'd JVM-side, pushdown-friendly,
no Python at all. WKB geometry columns cross Python exactly once, through
the vectorized ``envelope_struct_udf``; the cover-cells explode itself is
native ``sequence()`` arithmetic (``explode_cover_native``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..kernels.cells import Grid
from ..kernels.envelope import envelopes_of_wkb
from .derive import morton_sql_expr


def cell_xy(grid: Grid, x: str | Column, y: str | Column) -> tuple[Column, Column]:
    """Native (JVM) clamped floor cell indices (ix, iy) of a coordinate
    pair; ``x``/``y`` are column names or Column expressions. Coordinates
    outside the grid extent clamp into the edge cells."""

    def _index(v, origin: float, size: float) -> Column:
        v = F.col(v) if isinstance(v, str) else v
        i = F.floor((v - F.lit(origin)) / F.lit(size)).cast("long")
        return F.greatest(F.lit(0), F.least(F.lit(grid.n - 1), i))

    return _index(x, grid.minx, grid.cell_w), _index(y, grid.miny, grid.cell_h)


def cell_col(grid: Grid, x: str | Column = "x", y: str | Column = "y") -> Column:
    """Native (JVM) cell-id projection: iy * n + ix with clamping."""
    ix, iy = cell_xy(grid, x, y)
    return (iy * grid.n + ix).cast("long")


def with_cell_id(df: DataFrame, grid: Grid, x: str = "x", y: str = "y",
                 out: str = "cell_id") -> DataFrame:
    return df.withColumn(out, cell_col(grid, x, y))


def morton_col(grid: Grid, x: str = "x", y: str = "y") -> Column:
    """Z-order curve position as a native SQL expression (for ORDER BY /
    write clustering — see kernels.cells docstring)."""
    n = grid.n
    ix = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({x} - {grid.minx!r}) / {grid.cell_w!r}) AS BIGINT)))"
    iy = f"GREATEST(0, LEAST({n - 1}, CAST(FLOOR(({y} - {grid.miny!r}) / {grid.cell_h!r}) AS BIGINT)))"
    return F.expr(morton_sql_expr(ix, iy, grid.level))


def envelope_struct_udf():
    """Vectorized WKB → envelope struct (minx, miny, maxx, maxy).

    Uniform simple batches (points / equal-shape rects) decode through the
    single-buffer fast path of ``envelopes_of_wkb`` — no per-row Python.
    Empty geometries yield NaN (callers filter with ``isnan``).

    Marked non-deterministic ON PURPOSE (it is in fact deterministic): the
    optimizer otherwise collapses projections and infers isnotnull
    constraints from downstream join conditions, duplicating this UDF —
    the physical plan showed every side's envelope (and any upstream
    geometry-producing UDF) evaluated twice. Non-determinism pins ONE
    evaluation whose output is then referenced as a plain attribute."""

    @pandas_udf("struct<minx:double,miny:double,maxx:double,maxy:double>")
    def _env(wkb: pd.Series) -> pd.DataFrame:
        envs = envelopes_of_wkb(wkb.to_list())
        return pd.DataFrame(
            {"minx": envs[:, 0], "miny": envs[:, 1],
             "maxx": envs[:, 2], "maxy": envs[:, 3]}
        )

    return _env.asNondeterministic()


def explode_cover_native(df: DataFrame, grid: Grid, env: str = "_env",
                         out: str = "cell_id") -> DataFrame:
    """Explode each row to its envelope-covering cell ids — pure Catalyst.

    The cover of an envelope on a regular grid is a RECTANGLE of cell
    indices, so the explode is two native ``sequence()`` ranges (column
    span × row span) — whole-stage-codegen'd, no Python, no array
    materialization per row. Rows with NaN envelopes (empty geoms) explode
    to an EMPTY array (dropped) — a ``when`` branch, deliberately not a
    separate ``filter``: a filter referencing the envelope column would be
    pushed below the Generate and force a second evaluation of the
    envelope UDF (observed in the physical plan).
    """
    n = grid.n
    ix_lo, iy_lo = cell_xy(grid, f"{env}.minx", f"{env}.miny")
    ix_hi, iy_hi = cell_xy(grid, f"{env}.maxx", f"{env}.maxy")
    is_nan = F.isnan(F.col(f"{env}.minx"))
    empty = F.array().cast("array<bigint>")
    return (
        df.withColumn(
            "_iyc",
            F.explode(F.when(is_nan, empty).otherwise(F.sequence(iy_lo, iy_hi))),
        )
        .withColumn(
            "_ixc",
            F.explode(F.when(is_nan, empty).otherwise(F.sequence(ix_lo, ix_hi))),
        )
        .withColumn(out, (F.col("_iyc") * n + F.col("_ixc")).cast("long"))
        .drop("_iyc", "_ixc")
    )


