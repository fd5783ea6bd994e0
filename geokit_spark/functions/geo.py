"""Geo column expressions — pure built-in pyspark.sql.functions
(JVM-side, whole-stage codegen; no UDF in the hot path).

Every oracle-compared expression here restricts itself to
+,-,*,/,floor,%,when — operations that evaluate bit-identically in
Spark and DuckDB. The matching SQL text generators live in
``geokit_spark.oracle.sqlgen``; keep the expression *trees* in sync.

The true Web-Mercator slippy index (needs asinh/tan) is provided for
the engine (`slippy_cols`) and golden-tested against the reference
(kernels.tiling), but oracle-compared queries use the equirectangular
cell grid instead (ln() differs by 1 ULP between DuckDB and the JVM).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import (
    CELL_N,
    GRID_INV_X,
    GRID_INV_Y,
    GRID_N,
    HOT_CX,
    HOT_CY,
    HOT_HALF,
    HOT_MOD,
    LCG_A,
    LCG_C,
    LCG_M,
    XMIN,
    XSPAN,
    YMIN,
    YSPAN,
)


def geocode_cols(doc_id: Column) -> tuple[Column, Column]:
    """doc_id -> (lon, lat). Mirrors kernels.geocode.geocode and
    oracle.sqlgen.geocode_select bit-for-bit."""
    h1 = (doc_id * F.lit(LCG_A) + F.lit(LCG_C)) % F.lit(LCG_M)
    h2 = (h1 * F.lit(LCG_A) + F.lit(LCG_C)) % F.lit(LCG_M)
    u1 = h1.cast("double") / F.lit(float(LCG_M))
    u2 = h2.cast("double") / F.lit(float(LCG_M))
    hot = (doc_id % F.lit(HOT_MOD)) == F.lit(0)
    lon = F.when(
        hot, F.lit(HOT_CX) + (u1 - F.lit(0.5)) * F.lit(2.0 * HOT_HALF)
    ).otherwise(F.lit(XMIN) + u1 * F.lit(XSPAN))
    lat = F.when(
        hot, F.lit(HOT_CY) + (u2 - F.lit(0.5)) * F.lit(2.0 * HOT_HALF)
    ).otherwise(F.lit(YMIN) + u2 * F.lit(YSPAN))
    return lon, lat


def with_geocode(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    lon, lat = geocode_cols(F.col(id_col))
    return df.withColumn("lon", lon).withColumn("lat", lat)


def grid_cell_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """Local analysis-grid cell (GRID_N x GRID_N over the bbox) —
    the spatial-join prefilter key. Clamped to the grid."""
    cx = F.floor((lon - F.lit(XMIN)) * F.lit(GRID_INV_X))
    cy = F.floor((lat - F.lit(YMIN)) * F.lit(GRID_INV_Y))
    cx = F.least(F.greatest(cx, F.lit(0)), F.lit(GRID_N - 1))
    cy = F.least(F.greatest(cy, F.lit(0)), F.lit(GRID_N - 1))
    return cx.cast("int"), cy.cast("int")


def grid_cell_id(lon: Column, lat: Column) -> Column:
    cx, cy = grid_cell_cols(lon, lat)
    return (cx.cast("long") * F.lit(GRID_N) + cy.cast("long")).alias("cell_id")


def join_cell_id(lon: Column, lat: Column) -> Column:
    """Fine-grained spatial-join prefilter cell (JOIN_GRID_N^2 over the
    bbox, internal — not oracle-facing). Clamped to the grid: a point
    outside the bbox (or with a NaN coordinate, which floors to 0)
    keys to a border cell whose IN/OUT class says nothing about it, so
    the candidate map classes every border cell such a point of a
    polygon can land on as BOUNDARY for that polygon, and the exact
    test decides (kernels.cells.clamped_border_cells)."""
    from ..constants import JOIN_GRID_INV_X, JOIN_GRID_INV_Y, JOIN_GRID_N

    cx = F.floor((lon - F.lit(XMIN)) * F.lit(JOIN_GRID_INV_X))
    cy = F.floor((lat - F.lit(YMIN)) * F.lit(JOIN_GRID_INV_Y))
    cx = F.least(F.greatest(cx, F.lit(0)), F.lit(JOIN_GRID_N - 1))
    cy = F.least(F.greatest(cy, F.lit(0)), F.lit(JOIN_GRID_N - 1))
    return cx * F.lit(JOIN_GRID_N) + cy


def cell_cols(lon: Column, lat: Column) -> tuple[Column, Column]:
    """Global equirectangular cell at CELL_ZOOM (oracle-safe 'tile')."""
    cx = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(CELL_N)))
    cy = F.floor((F.lit(90.0) - lat) / F.lit(180.0) * F.lit(float(CELL_N)))
    return cx.cast("int"), cy.cast("int")


def slippy_cols(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """True Web-Mercator slippy tile index (engine-side; matches
    kernels.tiling.deg2num / reference srs.tileIndexAt srs.py:225-247)."""
    n = F.lit(float(1 << zoom))
    xi = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * n)
    lat_rad = F.radians(lat)
    yi = F.floor(
        (F.lit(1.0) - F.asinh(F.tan(lat_rad)) / F.lit(math.pi)) / F.lit(2.0) * n
    )
    return xi.cast("int"), yi.cast("int")


def transform_cols(
    df: DataFrame,
    from_srs,
    to_srs,
    x: str = "lon",
    y: str = "lat",
    out_x: str = "x",
    out_y: str = "y",
) -> DataFrame:
    """srs.xyTransform as a DataFrame op (reference srs.py xyTransform):
    appends (out_x, out_y) = transform((x, y), from_srs -> to_srs).
    One Arrow-batched pandas UDF over the closed-form numpy kernels in
    kernels.srs — embarrassingly parallel, no shuffle, scales with the
    scan."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels.srs import load_srs, xy_transform

    fs, ts = load_srs(from_srs), load_srs(to_srs)

    @pandas_udf("struct<x: double, y: double>")
    def tf(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        ox, oy = xy_transform(
            xs.to_numpy(dtype="float64"), ys.to_numpy(dtype="float64"), fs, ts
        )
        return pd.DataFrame({"x": ox, "y": oy})

    return (
        df.withColumn("_t", tf(F.col(x), F.col(y)))
        .withColumn(out_x, F.col("_t.x"))
        .withColumn(out_y, F.col("_t.y"))
        .drop("_t")
    )


def _pip_crossings_sum(lon: Column, lat: Column, verts) -> Column:
    """Crossing-count sum of one ring's edges (the per-edge expression
    tree of kernels.pip.points_in_poly, unrolled)."""
    v = [(float(x), float(y)) for x, y in verts]
    if len(v) > 1 and v[0] == v[-1]:
        v = v[:-1]
    n = len(v)
    total = F.lit(0)
    for i in range(n):
        x1, y1 = v[i]
        x2, y2 = v[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the upward ray
        straddle = (F.lit(y1) > lat) != (F.lit(y2) > lat)
        xcross = (
            F.lit(x2 - x1) * (lat - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        total = total + F.when(straddle & (lon < xcross), 1).otherwise(0)
    return total


def pip_literal_col(lon: Column, lat: Column, verts) -> Column:
    """Even-odd ray-casting PIP against a CONSTANT polygon as a pure
    JVM column (whole-stage codegen; zero Python): the crossing test
    of kernels.pip.points_in_poly unrolled per edge. verts: open or
    closed ring of (x, y), or a ring list [outer, hole, ...] — parity
    over ALL rings' edges gives donut semantics (a point inside a hole
    crosses outer odd + hole odd = even -> outside)."""
    from ..kernels.pip import as_rings

    total = F.lit(0)
    for ring in as_rings(verts):
        total = total + _pip_crossings_sum(lon, lat, ring)
    return total % 2 == 1


def pip_array_col(
    lon: Column, lat: Column, rings: list[tuple[Column, Column]],
    max_verts: int,
) -> Column:
    """Even-odd PIP where each row carries its own polygon as vertex
    ARRAY columns: one (xs, ys) pair of array<double> columns per ring
    index (open rings, length <= max_verts; outer first, then holes).
    The crossing test is UNROLLED to len(rings) x max_verts
    whole-stage-codegen edge terms (a higher-order aggregate would
    leave codegen and run ~2x slower than the pandas UDF it replaces).
    Parity over ALL rings' edges gives donut semantics (a point inside
    a hole crosses outer odd + hole odd = even -> outside). Edges past
    a ring's length contribute 0 via the i < n guard, and a null ring
    (a row with fewer rings) contributes 0 too: F.get's null makes the
    when() condition null rather than erroring under ANSI. Same
    per-edge expression tree as kernels.pip."""
    total = F.lit(0)
    for xs, ys in rings:
        n = F.size(xs)
        for i in range(max_verts):
            x1 = F.get(xs, F.lit(i))
            y1 = F.get(ys, F.lit(i))
            j = (F.lit(i) + 1) % n
            x2 = F.get(xs, j)
            y2 = F.get(ys, j)
            cross = (
                (F.lit(i) < n)
                & (y1 != y2)
                & ((y1 > lat) != (y2 > lat))
                & (lon < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)
            )
            total = total + F.when(cross, 1).otherwise(0)
    return total % 2 == 1


def morton_col(x: Column, y: Column, bits: int = 16) -> Column:
    """Z-order (Morton) interleave of two non-negative integer cell
    coordinates — the write-layout key of SURVEY §4: sorting a
    cell-keyed table by Morton code makes parquet/Iceberg min-max
    stats prune 2-D bbox queries (nearby cells share code prefixes).
    Pure JVM bit arithmetic, unrolled per bit; identical closed form
    (integer //, %, *) in the SQL oracle."""
    total = F.lit(0).cast("long")
    for k in range(bits):
        total = (
            total
            + (F.shiftright(x.cast("long"), k).bitwiseAND(F.lit(1)))
            * F.lit(1 << (2 * k))
            + (F.shiftright(y.cast("long"), k).bitwiseAND(F.lit(1)))
            * F.lit(1 << (2 * k + 1))
        )
    return total
