"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes each implemented operator from SURVEY.md §2 over
the driver's parquet tables; ``oracle_sql()`` gives the bit-identical
DuckDB SQL (see geokit_spark.oracle.sqlgen for the parity rules).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geokit_spark import fixtures
from geokit_spark.constants import PIX_DX, PIX_DY, RASTER_H, RASTER_W, XMIN, YMAX
from geokit_spark.functions.geo import cell_cols, grid_cell_cols, with_geocode
from geokit_spark.operators import (
    extract_values as ev,
    indicate,
    rasterize,
    spatial_join,
    zonal,
)
from geokit_spark.oracle import geooracle, sqlgen
from geokit_spark.oracle import webgraphsql as _wg
from geokit_spark.oracle.sqlgen import d
from geokit_spark.sources import tiles as tilesrc

INDICATE_DSL = "[20-30),40"


# ---------------------------------------------------------------------------
# queries


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def q_geocode_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geocode + cell indexing — pure JVM arithmetic, no UDF.
    (reference: srs.tileIndexAt srs.py:225-247 / rasterCellNo
    raster.py:2560-2673 as the cell-index primitive)"""
    d = with_geocode(_docs(spark, sf_dir).select("doc_id"))
    cx, cy = cell_cols(F.col("lon"), F.col("lat"))
    gx, gy = grid_cell_cols(F.col("lon"), F.col("lat"))
    return d.select(
        "doc_id",
        F.col("lon"),
        F.col("lat"),
        cx.alias("cell_x"),
        cy.alias("cell_y"),
        gx.alias("grid_x"),
        gy.alias("grid_y"),
    )


def q_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiling throughput stage: docs per cell (slippy-analog index)."""
    d = with_geocode(_docs(spark, sf_dir).select("doc_id"))
    cx, cy = cell_cols(F.col("lon"), F.col("lat"))
    return (
        d.select(cx.alias("cell_x"), cy.alias("cell_y"))
        .groupBy("cell_x", "cell_y")
        .agg(F.count("*").alias("n_docs"))
    )


def q_morton_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key (SURVEY §4: write sorted by Morton(cell) so
    min/max stats prune): per-doc grid cell + Morton code, pure JVM
    bit arithmetic."""
    from geokit_spark.functions.geo import morton_col

    d = with_geocode(_docs(spark, sf_dir).select("doc_id"))
    gx, gy = grid_cell_cols(F.col("lon"), F.col("lat"))
    return d.select(
        "doc_id",
        gx.alias("cell_x"),
        gy.alias("cell_y"),
    ).select(
        "doc_id", "cell_x", "cell_y",
        morton_col(F.col("cell_x"), F.col("cell_y")).alias("morton"),
    )


def q_pip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial semi-join vs the region polygon, per-lang counts
    (reference countFeatures/extractFeatures(geom=...),
    vector.py:172-202,458-588)."""
    inside = spatial_join.docs_in_region(spark, _docs(spark, sf_dir))
    return inside.groupBy("lang").agg(F.count("*").alias("n_docs"))


def q_pip_region2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-API spatial semi-join: the SAME operator as pip_region
    but over a second, independent polygon (fixtures.REGION2_VERTS)
    passed as a parameter — proving the polygon side is an input, not
    a closure constant (reference contract: any geometry filters any
    layer, vector.py:290-455)."""
    inside = spatial_join.docs_in_polygon(
        spark, _docs(spark, sf_dir), fixtures.REGION2_VERTS
    )
    return inside.groupBy("lang").agg(F.count("*").alias("n_docs"))


def q_pip_zones_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner spatial join docs x zones -> docs per zone (flagship;
    reference sjoin semantics, vector.py:1851-1901)."""
    pairs = spatial_join.docs_join_zones(spark, _docs(spark, sf_dir))
    return pairs.groupBy("zone_id").agg(F.count("*").alias("n_docs"))


def q_pip_zones_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner spatial join against a zone set containing a DONUT zone
    (fixtures.ZONES_HOLES_DICT): boundary candidate rows carry one
    vertex-array pair per ring and the even-odd test runs as the
    unrolled pip_array_col whole-stage-codegen expression, the same
    codegen path as the flat zones — a zone with a lake does not
    degrade the plan to the Arrow-UDF path (reference accepts holes in
    every predicate, geom.py:261-345, vector.py:365-434)."""
    pairs = spatial_join.points_join_polygons(
        spark,
        with_geocode(_docs(spark, sf_dir).select("doc_id")),
        fixtures.ZONES_HOLES_DICT,
    )
    return pairs.groupBy("zone_id").agg(F.count("*").alias("n_docs"))


def _geo_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return with_geocode(_docs(spark, sf_dir).select("doc_id"))


def q_extract_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-raster lookup join, 'near' mode (reference
    extractValues, raster.py:866-1133)."""
    return ev.extract_values(
        _geo_docs(spark, sf_dir), tilesrc.raster_table(spark, "clc"), "clc_value"
    )


def q_interp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilinear interpolation at points (reference interpolateValues,
    raster.py:1140-1303)."""
    return ev.interpolate_bilinear(
        _geo_docs(spark, sf_dir), tilesrc.raster_table(spark, "elev")
    )


def q_interp_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bicubic (cubic-spline window-4) interpolation at points
    (reference interpolateValues mode='cubic-spline',
    raster.py:1241-1297)."""
    return ev.interpolate_cubic(
        _geo_docs(spark, sf_dir), tilesrc.raster_table(spark, "elev")
    )


def q_gradient_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Central-difference gradient at points (reference gradient,
    raster.py:640-753)."""
    return ev.gradient_at_points(
        _geo_docs(spark, sf_dir), tilesrc.raster_table(spark, "elev")
    )


def q_gradient_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-raster gradient fields with the latlonToM meters factor
    (reference gradient, raster.py:640-753; stencil :724-740; factor
    :707-715): per-pixel (ns, ew, slope) via one cross-halo tile pass.
    slope = sqrt(ns^2+ew^2) is IEEE-exact on both engines; aspect
    (atan2, libm) stays pytest-verified like lanczos."""
    from geokit_spark.constants import TILE_SIZE
    from geokit_spark.operators.kernel import gradient_fields

    g = gradient_fields(tilesrc.raster_table(spark, "elev"))
    t = TILE_SIZE
    px = g.select(
        "tile_x", "tile_y",
        F.posexplode(F.arrays_zip("ns", "ew")).alias("pos", "v"),
    )
    ns = F.col("v.ns")
    ew = F.col("v.ew")
    return px.select(
        (F.col("tile_x") * t + F.col("pos") % t).cast("int").alias("ix"),
        (F.col("tile_y") * t + (F.col("pos") / t).cast("int")).cast("int").alias("iy"),
        ns.alias("ns"),
        ew.alias("ew"),
        F.sqrt(ns * ns + ew * ew).alias("slope"),
    )


def q_gradient_octants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect OCTANT report (the driver-green row for the gradient's
    direction path): D8-style 45-degree binning of the exact (ns, ew)
    gradient vector — pure float comparisons, no atan2 — then a
    per-octant rollup with order-free stats (count + min/max slope).
    The CASE text is shared verbatim with the oracle
    (operators/kernel.aspect_octant_case)."""
    from geokit_spark.operators.kernel import aspect_octant_case

    g = q_gradient_raster(spark, sf_dir)
    return (
        g.select(
            F.expr(aspect_octant_case()).cast("int").alias("octant"),
            "slope",
        )
        .groupBy("octant")
        .agg(
            F.count("*").cast("long").alias("n_pixels"),
            F.min("slope").alias("min_slope"),
            F.max("slope").alias("max_slope"),
        )
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics over zones (reference rasterStats with cutline,
    raster.py:586-635)."""
    return zonal.zonal_stats(tilesrc.raster_table(spark, "elev"))


def q_rasterize_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rasterize zones by 'year' attribute, last-feature-wins
    (reference rasterize, vector.py:1620-1849)."""
    return rasterize.rasterize_zone_counts(tilesrc.raster_table(spark, "elev"))


def q_rasterize_all_touched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rasterize(allTouched=...) edge-band (reference vector.py:1680):
    every pixel whose cell footprint is crossed by a region edge, with
    a flag for whether plain center burning would also burn it."""
    return rasterize.all_touched_band(tilesrc.raster_table(spark, "elev"))


def q_region_mask_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegionMask mask pixel count + area (regionmask.py:504-536)."""
    return zonal.region_mask_stats(tilesrc.raster_table(spark, "elev"))


def q_indicate_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-DSL classify + fractional zonal membership (reference
    indicateValues, regionmask.py:768-1289)."""
    return indicate.indicate_values(
        tilesrc.raster_table(spark, "clc"), INDICATE_DSL
    )


def q_kernel_max3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 max filter via tile halo exchange (reference
    KernelProcessor, util.py:259-341; 3x3 max test
    test_06_extent.py:565-574). Output: per-tile sums."""
    from geokit_spark.operators.kernel import kernel_filter_tiles, tile_sums

    filtered = kernel_filter_tiles(
        tilesrc.raster_table(spark, "elev"), "max", size=1, edge_value=0.0
    )
    return tile_sums(filtered)


def q_warp_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-average downsample x8 (reference scaleMatrix down path,
    util.py:204-248 / warp 'average' resampleAlg)."""
    from geokit_spark.operators.warp import scale_down_tiles

    return scale_down_tiles(tilesrc.raster_table(spark, "elev"), 8)


def q_warp_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp resampleAlg='near' onto an arbitrary 1.6x-coarser target
    grid (reference warp, raster.py:2140-2418, alg list :2142-2157):
    tile-regridding equijoin + vectorized numpy gather."""
    from geokit_spark.operators.warp import warp_to_grid

    return warp_to_grid(tilesrc.raster_table(spark, "elev"), alg="near")


def q_warp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp resampleAlg='bilinear' onto the same target grid —
    2x2-stencil interpolation at target pixel centers, stencil origin
    clamped at source borders (raster.py:2142-2157)."""
    from geokit_spark.operators.warp import warp_to_grid

    return warp_to_grid(tilesrc.raster_table(spark, "elev"), alg="bilinear")


def q_warp_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp resampleAlg='cubic' (Catmull-Rom 4x4) onto the target
    grid (raster.py:2142-2157)."""
    from geokit_spark.operators.warp import warp_to_grid

    return warp_to_grid(tilesrc.raster_table(spark, "elev"), alg="cubic")


def q_warp_cubicspline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp resampleAlg='cubicspline' (cubic B-spline reconstruction)
    onto the target grid (raster.py:2142-2157)."""
    from geokit_spark.operators.warp import warp_to_grid

    return warp_to_grid(
        tilesrc.raster_table(spark, "elev"), alg="cubicspline"
    )


def q_warp_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp resampleAlg='lanczos' (6x6 windowed sinc, a=3, weight-
    normalized) onto the target grid (raster.py:2142-2157) — the 14th
    and last resampling alg at oracle grade. sin is libm, so the
    weights come from the driver-computed per-target-index table
    (operators/warp.lanczos_tables) that the DuckDB oracle embeds as
    exact literals: the table is the parity contract."""
    from geokit_spark.operators.warp import warp_to_grid

    return warp_to_grid(
        tilesrc.raster_table(spark, "elev"), alg="lanczos",
        lanczos_exact=True,
    )


def q_warp_cutline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp with the cutline option (reference raster.py:2226-2238):
    'near' resample onto the target grid, then target pixels whose
    centers fall outside the region polygon are set to noData — the
    crossing test runs as a JVM expression over (jx, jy) rows."""
    from geokit_spark.operators.warp import warp_cutline, warp_to_grid

    w = warp_to_grid(tilesrc.raster_table(spark, "elev"), alg="near")
    return warp_cutline(w, fixtures.REGION_VERTS)


def q_warp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregating warp resampleAlgs — average/min/max/med/q1/q3/
    sum/rms/mode in one pass (raster.py:2142-2157): posexplode + single
    JVM hash aggregation, each source pixel binned by its center."""
    from geokit_spark.operators.warp import warp_aggregate

    return warp_aggregate(tilesrc.raster_table(spark, "elev"))


def q_warp_scale_up(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scaleMatrix scale>0 (block-repeat upsample, util.py:198-202):
    k=2 upsample of the elev raster, verified as exact per-fine-tile
    sums (each source pixel lands k^2 times inside one fine tile)."""
    from geokit_spark.operators.kernel import tile_sums
    from geokit_spark.operators.warp import scale_up_tiles

    return tile_sums(scale_up_tiles(tilesrc.raster_table(spark, "elev"), 2))


def q_mosaic_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combineSimilarRasters: patch layer wins on non-noData pixels
    (combineSimilarRasters.py:179-188). Output: per-tile sums."""
    from geokit_spark.operators.kernel import tile_sums
    from geokit_spark.operators.warp import mosaic_last_wins
    from geokit_spark.sources.tiles import patch_raster_table

    elev = tilesrc.raster_table(spark, "elev")
    patch = patch_raster_table(spark)
    return tile_sums(mosaic_last_wins([elev, patch]))


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """polygonizeMatrix with POLYGON OUTPUT (geom.py:525-702): banded
    raster floor(elev/200) -> per-component traced rings (outer +
    holes). Oracle: independent full-matrix flood fill + Euler-
    characteristic ring counts (geooracle.polygonize_rows); the WKB
    geometry itself is pinned by tests/test_polygonize.py. area_px is
    the tracer's signed shoelace sum — must equal n exactly."""
    from geokit_spark.operators.components import polygonize

    tiles = tilesrc.raster_table(spark, "elev").select(
        "tile_x", "tile_y",
        F.transform("data", lambda x: F.floor(x / F.lit(200.0))
                    .cast("double")).alias("data"),
    )
    return polygonize(tiles).select(
        "value", "n", "nh", "nv", "area_px", "n_rings"
    )


def q_geom_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar geometry ops (reference geom.py Length / Simplify /
    Intersection / Difference): per zone — ring perimeter, area(region
    ∩ zone) via Sutherland-Hodgman convex clip, area(region) - isect,
    and the Douglas-Peucker vertex count of the midpoint-densified
    ring. mutateVector processor over the zones feature table; the
    region polygon is a broadcast PARAMETER (de-fixtured API). Outputs
    floor-quantized at 1e10 (clip expression forms differ between
    engine and golden by ULPs). Oracle: fresh half-plane clipper
    (geooracle.geom_ops_rows)."""
    import math as _m

    import pandas as _pd

    from geokit_spark.kernels.geom_ops import (
        intersection_area, ring_perimeter, signed_area, simplify_ring,
    )
    from geokit_spark.operators.mutate import mutate_vector, zones_feature_df

    region = fixtures.REGION_VERTS
    region_area = abs(signed_area(region))

    def processor(pdf: _pd.DataFrame) -> _pd.DataFrame:
        rows = []
        for r in pdf.itertuples():
            verts = list(zip(r.xs, r.ys))
            perim = ring_perimeter(verts)
            isect = intersection_area(region, verts)
            dens = []
            n = len(verts)
            for i in range(n):
                x0, y0 = verts[i]
                x1, y1 = verts[(i + 1) % n]
                dens.append((x0, y0))
                dens.append(((x0 + x1) / 2.0, (y0 + y1) / 2.0))
            nsimp = len(simplify_ring(dens, 1e-9))
            rows.append(
                (
                    int(r.zone_id),
                    _m.floor(perim * 1e10),
                    _m.floor(isect * 1e10),
                    _m.floor((region_area - isect) * 1e10),
                    nsimp,
                )
            )
        return _pd.DataFrame(
            rows,
            columns=["zone_id", "perim_q", "isect_q", "rdiff_q",
                     "n_simplified"],
        )

    return mutate_vector(
        zones_feature_df(spark), processor,
        "zone_id int, perim_q long, isect_q long, rdiff_q long, "
        "n_simplified int",
    )


def q_srs_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General SRS support (reference srs.py loadSRS/xyTransform +
    the EPSG:3035 LAEA default, regionmask.py:80-82): zone centroids
    transformed 4326 -> EPSG:3035 (ellipsoidal LAEA, GRS80) and
    4326 -> EPSG:3857 inside one Arrow-batched pandas UDF; outputs
    floor-quantized to 0.1 mm (the cross-libm-stable resolution).
    Oracle: an independently written scalar LAEA (oracle.geooracle)."""
    from geokit_spark.functions.geo import transform_cols
    from geokit_spark.operators.mutate import zones_feature_df

    z = zones_feature_df(spark).select(
        "zone_id",
        ((F.col("xs")[0] + F.col("xs")[1] + F.col("xs")[2] + F.col("xs")[3])
         / F.lit(4.0)).alias("cx"),
        ((F.col("ys")[0] + F.col("ys")[1] + F.col("ys")[2] + F.col("ys")[3])
         / F.lit(4.0)).alias("cy"),
    )
    z = transform_cols(z, 4326, 3035, x="cx", y="cy", out_x="e", out_y="n")
    z = transform_cols(z, "EPSG:4326", "EPSG:3857", x="cx", y="cy",
                       out_x="mx", out_y="my")
    q = F.lit(10000.0)
    return z.select(
        "zone_id",
        F.floor(F.col("e") * q).alias("e3035_q"),
        F.floor(F.col("n") * q).alias("n3035_q"),
        F.floor(F.col("mx") * q).alias("x3857_q"),
        F.floor(F.col("my") * q).alias("y3857_q"),
    )


def q_srs_transform_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LCC 2SP coverage (EPSG:2154 Lambert-93 + EPSG:3034 ETRS89-LCC):
    zone centroids through the vectorized conformal-conic kernel,
    floor-quantized to 0.1 mm. Oracle: an independently written scalar
    LCC (oracle.geooracle.lcc_forward_fresh — math.*, no shared
    code)."""
    from geokit_spark.functions.geo import transform_cols
    from geokit_spark.operators.mutate import zones_feature_df

    z = zones_feature_df(spark).select(
        "zone_id",
        ((F.col("xs")[0] + F.col("xs")[1] + F.col("xs")[2] + F.col("xs")[3])
         / F.lit(4.0)).alias("cx"),
        ((F.col("ys")[0] + F.col("ys")[1] + F.col("ys")[2] + F.col("ys")[3])
         / F.lit(4.0)).alias("cy"),
    )
    z = transform_cols(z, 4326, 2154, x="cx", y="cy", out_x="e1", out_y="n1")
    z = transform_cols(z, 4326, 3034, x="cx", y="cy", out_x="e3", out_y="n3")
    q = F.lit(10000.0)
    return z.select(
        "zone_id",
        F.floor(F.col("e1") * q).alias("e2154_q"),
        F.floor(F.col("n1") * q).alias("n2154_q"),
        F.floor(F.col("e3") * q).alias("e3034_q"),
        F.floor(F.col("n3") * q).alias("n3034_q"),
    )


def q_srs_transform_omerc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotine oblique Mercator coverage (EPSG methods 9812/9815,
    round 7 — the family reference loadSRS reaches through OSR,
    srs.py:22-76): zone centroids through BOTH variants of the
    vectorized kernel on ad-hoc GRS80 strips centered over the zones
    (a 35-degree variant-B strip and a -25-degree variant-A strip;
    the registered national grids 29873/3376/3078 sit on the same
    code paths, pinned by the GN7-2 worked example in
    tests/test_srs.py), floor-quantized to 0.1 mm. Oracle: an
    independently written scalar Hotine
    (oracle.geooracle.omerc_forward_fresh — math.*, no shared
    code)."""
    from geokit_spark.functions.geo import transform_cols
    from geokit_spark.kernels.srs import from_params
    from geokit_spark.operators.mutate import zones_feature_df
    from geokit_spark.oracle.geooracle import (
        OMERC_A_PARAMS,
        OMERC_B_PARAMS,
    )

    latc, lonc, al, ga, k0, fe, fn = OMERC_B_PARAMS
    grid_b = from_params("omerc", latc, lonc, fe, fn, k0=k0,
                         lat1=al, lat2=ga)
    latc, lonc, al, ga, k0, fe, fn = OMERC_A_PARAMS
    grid_a = from_params("omerca", latc, lonc, fe, fn, k0=k0,
                         lat1=al, lat2=ga)
    z = zones_feature_df(spark).select(
        "zone_id",
        ((F.col("xs")[0] + F.col("xs")[1] + F.col("xs")[2] + F.col("xs")[3])
         / F.lit(4.0)).alias("cx"),
        ((F.col("ys")[0] + F.col("ys")[1] + F.col("ys")[2] + F.col("ys")[3])
         / F.lit(4.0)).alias("cy"),
    )
    z = transform_cols(z, 4326, grid_b, x="cx", y="cy",
                       out_x="eb", out_y="nb")
    z = transform_cols(z, 4326, grid_a, x="cx", y="cy",
                       out_x="ea", out_y="na")
    q = F.lit(10000.0)
    return z.select(
        "zone_id",
        F.floor(F.col("eb") * q).alias("eb_q"),
        F.floor(F.col("nb") * q).alias("nb_q"),
        F.floor(F.col("ea") * q).alias("ea_q"),
        F.floor(F.col("na") * q).alias("na_q"),
    )


def q_srs_transform_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """World-grid family coverage (round 7): zone centroids through
    EPSG:4087 (equidistant cylindrical, method 1028 — the climate/EO
    raster grid), EPSG:5070 (Conus Albers, method 9822) and
    ESRI:54009 (World Mollweide) in one Arrow-batched pass each,
    floor-quantized to 0.1 mm. Oracle: independently written scalar
    forwards (oracle.geooracle.eqc/aea/moll_forward_fresh), the same
    golden pattern as srs_transform / srs_transform_lcc /
    srs_transform_omerc."""
    from geokit_spark.functions.geo import transform_cols
    from geokit_spark.operators.mutate import zones_feature_df

    z = zones_feature_df(spark).select(
        "zone_id",
        ((F.col("xs")[0] + F.col("xs")[1] + F.col("xs")[2] + F.col("xs")[3])
         / F.lit(4.0)).alias("cx"),
        ((F.col("ys")[0] + F.col("ys")[1] + F.col("ys")[2] + F.col("ys")[3])
         / F.lit(4.0)).alias("cy"),
    )
    z = transform_cols(z, 4326, 4087, x="cx", y="cy",
                       out_x="eqx", out_y="eqy")
    z = transform_cols(z, 4326, 5070, x="cx", y="cy",
                       out_x="abx", out_y="aby")
    z = transform_cols(z, 4326, 54009, x="cx", y="cy",
                       out_x="mox", out_y="moy")
    z = transform_cols(z, 4326, "modis_sinu", x="cx", y="cy",
                       out_x="six", out_y="siy")
    q = F.lit(10000.0)
    return z.select(
        "zone_id",
        F.floor(F.col("eqx") * q).alias("eqx_q"),
        F.floor(F.col("eqy") * q).alias("eqy_q"),
        F.floor(F.col("abx") * q).alias("abx_q"),
        F.floor(F.col("aby") * q).alias("aby_q"),
        F.floor(F.col("mox") * q).alias("mox_q"),
        F.floor(F.col("moy") * q).alias("moy_q"),
        F.floor(F.col("six") * q).alias("six_q"),
        F.floor(F.col("siy") * q).alias("siy_q"),
    )


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring (round 7): per-document quantized BM25
    against three committed query term sets — the retrieval-grade
    ranking/weighting stage of a web-corpus pipeline. One narrow tf
    pass + ONE integer stats aggregation + a 1-row broadcast; the
    per-query term sum is a fixed-order scalar expression, so there
    is no order-dependent float aggregation anywhere. Oracle: the
    SAME scoring-expression text (operators.retrieval
    .score_select_exprs) over DuckDB-computed integer tf/df
    columns."""
    from geokit_spark.operators.retrieval import bm25_scores

    return bm25_scores(_docs(spark, sf_dir))


def q_wkb_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB binary geometry column -> shoelace areas (SURVEY §1.7 data
    model: BinaryType WKB + Arrow-batched parse; geom.py WKT/WKB
    constructors geom.py:483-518)."""
    from geokit_spark.operators.wkbops import wkb_areas

    return wkb_areas(spark)


def q_location_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocationSet epsilon-equality dedup (reference Location 1e-5 deg
    hash equality, location.py:19-79): distinct geocoded locations on
    the 1e-5 grid."""
    d = _geo_docs(spark, sf_dir)
    lonr = F.floor(F.col("lon") * F.lit(100000.0) + F.lit(0.5))
    latr = F.floor(F.col("lat") * F.lit(100000.0) + F.lit(0.5))
    return d.select(lonr.alias("lonr"), latr.alias("latr")).distinct().agg(
        F.count("*").alias("n_locations")
    )


def q_lang_zone_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over the spatial join output (SURVEY §2.4:
    grouping sets are free via Catalyst once the join is expressed
    relationally): doc counts per (lang x zone) with subtotals."""
    pairs = spatial_join.docs_join_zones(spark, _docs(spark, sf_dir))
    return (
        pairs.cube("lang", "zone_id")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
            F.coalesce(F.col("zone_id").cast("string"), F.lit("ALL")).alias(
                "zone"
            ),
            "n_docs",
        )
    )


def q_indicate_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indicateFeatures: where-filter zones (designate='B'), rasterize
    onto the region grid, apply the region mask -> covered fraction
    (regionmask.py:1293-1583)."""
    from geokit_spark.operators.indicate import indicate_features

    return indicate_features(tilesrc.raster_table(spark, "elev"), "B")


BUFFER_DIST = 0.012  # degrees, ~quarter of a zone-grid cell


def q_indicate_features_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indicateFeatures with the geometry-buffer method: 'B' zones
    grown by BUFFER_DIST before rasterize+mask (regionmask.py:
    1409-1440; buffering via kernels.buffer.buffer_convex on the
    broadcast polygon side)."""
    from geokit_spark.operators.indicate import indicate_features

    return indicate_features(
        tilesrc.raster_table(spark, "elev"), "B", buffer_dist=BUFFER_DIST
    )


def q_indicate_features_buffered_holes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """indicateFeatures with BOTH the geometry-buffer method and a
    DONUT region mask (reference buffers arbitrary geometries and
    masks any region, regionmask.py:1409-1440): 'B' zones grown by
    BUFFER_DIST, covered fraction computed against the
    REGION_HOLES_RINGS mask (even-odd over all rings) — the last
    hole-blind RegionMask corner closed and oracle-checked."""
    from geokit_spark.operators.indicate import indicate_features

    return indicate_features(
        tilesrc.raster_table(spark, "elev"), "B",
        region_verts=fixtures.REGION_HOLES_RINGS,
        buffer_dist=BUFFER_DIST,
    )


def q_indicate_values_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """indicateValues with the buffer path: DSL classify, dilate the
    indicator by a 2-px disc via the halo-exchange kernel, per-zone
    fraction (regionmask.py:1106-1188 re-expressed as raster
    dilation)."""
    from geokit_spark.operators.indicate import indicate_values_buffered

    return indicate_values_buffered(
        tilesrc.raster_table(spark, "clc"), INDICATE_DSL, radius_px=2
    )


def q_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming <= 3 on the 64-bit sketch over
    (band, lang, len-bucket)-blocked candidates."""
    from geokit_spark.operators.dedup import simhash_near_pairs

    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN via cell-ring expansion (north rule; SURVEY.md §2.3 kNN row)."""
    from geokit_spark.functions.geo import grid_cell_id
    from geokit_spark.operators.knn import knn

    pts = _geo_docs(spark, sf_dir).withColumn(
        "cell_id", grid_cell_id(F.col("lon"), F.col("lat"))
    )
    return knn(spark, pts, k=5)


def q_count_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filterLayer semantics: attribute `where` + spatial filter
    combined (reference filterLayer/countFeatures,
    vector.py:139-202): per-lang counts of docs inside the region,
    restricted to lang in ('en','de')."""
    inside = spatial_join.docs_in_region(spark, _docs(spark, sf_dir))
    return (
        inside.filter(F.col("lang").isin("en", "de"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_interp_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interpolateValues mode='average' (window 3): mean of the 3x3
    pixel neighborhood at each point (reference raster.py:1241-1297),
    neighbors clamped at raster borders."""
    from geokit_spark.operators.extract_values import interpolate_average3

    return interpolate_average3(
        _geo_docs(spark, sf_dir), tilesrc.raster_table(spark, "elev")
    )


def q_subtiles_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slippy subTiles per zone at zoom 15 (reference geom.subTiles
    geom.py:195-241; golden-tested vs the reference's own tile indices
    in tests/test_kernels_tiling.py). Oracle: golden constant table
    from an independent driver-side implementation (geooracle)."""
    import pandas as pd

    from geokit_spark.kernels.tiling import sub_tiles
    from geokit_spark.operators.mutate import zones_feature_df

    def fn(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                verts = list(zip(r.xs, r.ys))
                tiles = list(sub_tiles(verts, 15, check_intersect=True))
                rows.append({"zone_id": r.zone_id, "n_tiles": len(tiles)})
            yield pd.DataFrame(rows)

    return zones_feature_df(spark).mapInPandas(
        fn, schema="zone_id int, n_tiles int"
    )


def q_extract_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extractAndClipFeatures: clip zones by a box window, areaShare +
    attribute scaling (vector.py:738-947). Oracle: golden constants
    from an independent half-plane clipper (geooracle); also
    numpy-oracle tested in tests/test_streaming_clip.py."""
    from geokit_spark.operators.clipops import extract_and_clip_zones

    return extract_and_clip_zones(spark, (6.05, 50.6, 6.25, 50.8))


def q_geo_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP COMPOSITION #2 — the graft's two axes JOINED: per
    spatial zone, how many documents land there and how many same-zone
    MinHash-LSH near-duplicate pairs they contain (geo-aware dedup:
    the spatial inner join feeding the LSH band equijoin, both
    all-JVM). Returns (zone_id, n_docs, n_dup_pairs)."""
    from geokit_spark.operators.dedup import minhash_lsh_pairs

    docs = _docs(spark, sf_dir)
    dz = spatial_join.docs_join_zones(spark, docs).select("doc_id", "zone_id")
    lsh = minhash_lsh_pairs(docs, threshold=0.6).select("id_a", "id_b")
    za = dz.select(F.col("doc_id").alias("id_a"), "zone_id")
    zb = dz.select(F.col("doc_id").alias("id_b"), "zone_id")
    same_zone = lsh.join(za, "id_a").join(zb, ["id_b", "zone_id"])
    per_zone = dz.groupBy("zone_id").agg(F.count("*").alias("n_docs"))
    dups = same_zone.groupBy("zone_id").agg(
        F.count("*").alias("n_dup_pairs")
    )
    return per_zone.join(dups, "zone_id", "left").select(
        "zone_id",
        "n_docs",
        F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
    )


_REVISIT_OFF = 1_000_000  # synthetic revisit copies: doc_id + OFF, same text


def q_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP COMPOSITION #3 — the full corpus-build ingest over the
    input_hint page table, end to end: the corpus is doubled with
    deterministic revisit copies (same text under url /p/<id+1e6> —
    the recrawl case), then byte-level main-text extraction from the
    html BINARY -> doc ids parsed BACK from the url (template
    roundtrip) -> C4/Gopher quality gate ON THE EXTRACTED TEXT ->
    exact content dedup (min-doc_id canonical per md5 group, which
    must collapse every revisit pair) -> geocode + zone spatial join
    of the surviving canonicals -> per (zone_id, lang) rollup.
    Every stage is the real operator running on the previous stage's
    real output; the oracle re-derives the funnel in pure SQL from
    each stage's separately-proven invariant (extracted == text,
    url roundtrip, filter mirror, md5-group mirror, ray-cast
    mirror), so any drift anywhere in the chain breaks the hash.
    The funnel itself is operators/pipeline.corpus_funnel — the SAME
    function the bench stage times, so the measured pipeline and the
    verified pipeline are one code path."""
    from geokit_spark.operators.pipeline import corpus_funnel

    docs = _docs(spark, sf_dir)
    crawl = docs.select("doc_id", "text", "lang", "source").unionAll(
        docs.select(
            (F.col("doc_id") + F.lit(_REVISIT_OFF)).alias("doc_id"),
            "text", "lang", "source",
        )
    )
    return corpus_funnel(spark, crawl)


def q_mirror_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host mirror detection: every third doc also appears —
    byte-identical html — under an unrelated mirror domain; the
    operator must find exactly those clusters from the EXTRACTED
    text (real byte parser) and count their registrable-domain
    spread (real url parser). The oracle derives the clusters from
    the generator's structure, so a defect in extraction, md5
    grouping, or domain parsing (e.g. mirror folding into the
    primary domain) breaks count, n_domains, or the canonical url."""
    from geokit_spark.operators.dedup import mirror_clusters
    from geokit_spark.sources.pages import pages_mirrored

    return mirror_clusters(pages_mirrored(_docs(spark, sf_dir)))


def _o_mirror_clusters() -> str:
    return """
SELECT md5(text) AS text_md5,
  LEAST('https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR),
        'https://' || source || '-mirror.org/p/' || CAST(doc_id AS VARCHAR)
  ) AS canonical_url,
  CAST(2 AS BIGINT) AS n_copies,
  CAST(2 AS BIGINT) AS n_domains
FROM documents
WHERE doc_id % 3 = 0
"""


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-blocklist curation over the multicrawl table: a
    broadcast ANTI join on the REGISTRABLE domain parsed from each
    url — the case/port variant (crawl 1) and the www./scheme variant
    (crawl 2) must fold into the same domain as the base url, or the
    kept-page counts drift from the oracle's per-doc revision
    arithmetic. Blocklist: every .net domain + src0.example +
    src1.co.uk."""
    from geokit_spark.operators.webgraph import filter_blocked_domains
    from geokit_spark.sources.pages import pages_multicrawl

    bl = [f"src{i}.net" for i in range(20)] + [
        "src0.example", "src1.co.uk",
    ]
    kept = filter_blocked_domains(
        pages_multicrawl(_docs(spark, sf_dir)), bl
    )
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_pages")
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-diversity cap: keep the 5 earliest captures per
    registrable domain over the multicrawl table. epoch_sum of the
    kept rows pins the exact selection (the per-row epoch is unique
    by construction), so an off-by-one in the rank, an unstable
    order, or a domain-fold defect all break the hash."""
    from geokit_spark.operators.webgraph import cap_per_domain
    from geokit_spark.sources.pages import pages_multicrawl

    kept = cap_per_domain(pages_multicrawl(_docs(spark, sf_dir)), k=5)
    return kept.groupBy("domain").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(F.unix_timestamp("warc_ts")).cast("long").alias("epoch_sum"),
    )


def q_link_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier BFS from the doc_id%23 seed set over the
    byte-parsed link graph: per-depth node count + doc_id sum after 4
    frontier rounds. The Spark side EARNS the edge set by scanning
    html bytes (extract_links) and iterates distributed
    join/distinct/anti-join rounds; the oracle relaxes the
    formula-regenerated edges with chained min-union CTEs — any
    divergence in the parser, the anti-join, or the frontier
    bookkeeping shifts a doc_sum."""
    from geokit_spark.operators.webgraph import extract_links, link_depth
    from geokit_spark.sources.pages import pages_with_links

    docs = _docs(spark, sf_dir)
    n = docs.count()
    edges = extract_links(pages_with_links(docs, n)).select(
        "src_id", "dst_id"
    )
    seeds = docs.filter(F.col("doc_id") % 23 == 0).select("doc_id")
    dist = link_depth(edges, seeds, max_depth=4)
    out = dist.groupBy("depth").agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("doc_id").cast("long").alias("doc_sum"),
    )
    return out


def q_noindex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meta-robots curation gate: pages_with_meta rotates lowercase
    noindex, an UPPERCASE order-flipped variant, and a benign
    'index, follow' tag through <head>; filter_noindex must case-fold
    and token-split (substring matching would also drop the benign
    rows). Kept pages per lang + doc_id sum pin the exact kept set;
    the doc id is parsed back from the url, so the round-trip runs
    build → filter-on-bytes → parse."""
    from geokit_spark.operators.quality import filter_noindex
    from geokit_spark.sources.pages import pages_with_meta, url_doc_id

    kept = filter_noindex(pages_with_meta(_docs(spark, sf_dir)))
    return kept.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.sum(url_doc_id()).cast("long").alias("doc_sum"),
    )


def q_anchor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text rollup: the nav builder writes 'a<(src+dst)%7>'
    between each <a>...</a>; the Arrow kernel must recover the span
    (not just the href) and the per-anchor-class counts / distinct
    targets / dst sums must match the formula oracle."""
    from geokit_spark.operators.webgraph import extract_anchors
    from geokit_spark.sources.pages import pages_with_links

    docs = _docs(spark, sf_dir)
    n = docs.count()
    anchors = extract_anchors(pages_with_links(docs, n))
    return anchors.groupBy("anchor").agg(
        F.count("*").cast("long").alias("n_links"),
        F.countDistinct("dst_id").alias("n_dst"),
        F.sum("dst_id").cast("long").alias("dst_sum"),
    )


def q_host_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level link graph: byte-parsed edges keep their src url
    (src domain = free JVM parse), the dst domain comes through the
    one dst_id-keyed join against the page table, and the per
    src_domain rollup (links, cross-domain links, distinct target
    domains, dst sum) must match the closed-form endpoint
    arithmetic."""
    from geokit_spark.operators.webgraph import extract_links, host_graph
    from geokit_spark.sources.pages import pages_with_links

    docs = _docs(spark, sf_dir)
    n = docs.count()
    pages = pages_with_links(docs, n)
    edges = extract_links(pages, keep_url=True)
    return host_graph(edges, pages)


def q_corpus_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus curation — the production resume shape: the
    corpus arrives as three snapshot-table append commits (doc_id % 3
    slices, idempotent manifests), and each version's NEWLY APPENDED
    rows alone flow through the full corpus funnel
    (operators/pipeline.corpus_funnel: extract -> quality -> dedup ->
    zones -> rollup). Per version: total zone-joined canonical docs,
    word mass, and distinct (zone, lang) cells — derived ONLY from the
    incremental (append-diff) read, so a snapshot protocol defect
    (overlapping diffs, lost rows) or any funnel drift breaks the
    hash. At 100 TB this is the shape a daily crawl-ingest job runs:
    process the diff, never the table."""
    import tempfile

    from geokit_spark.operators.pipeline import corpus_funnel
    from geokit_spark.sources.snapshots import SnapshotTable

    docs = _docs(spark, sf_dir)
    # per-invocation tmp root; the driver collects lazily so the dir
    # must outlive this function (same convention as q_snapshot_reads)
    root = tempfile.mkdtemp(prefix="geokit_snapinc_")
    t = SnapshotTable(root)
    for c in range(3):
        sl = docs.filter(F.col("doc_id") % 3 == c)
        t.commit_append(sl, commit_key=f"slice-{c}", logical_ts=c)
    frames = []
    for v in (1, 2, 3):
        inc = t.read_incremental(spark, v - 1, v).select(
            "doc_id", "text", "lang", "source"
        )
        frames.append(
            corpus_funnel(spark, inc)
            .agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("sum_words").cast("long").alias("sum_words"),
                F.count("*").cast("long").alias("n_zone_langs"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                "n_docs", "sum_words", "n_zone_langs",
            )
        )
    return frames[0].unionAll(frames[1]).unionAll(frames[2])


def q_contour_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference contours' DEFAULT polygonize=True mode
    (raster.py:2044-2100): polygon bands between the contour edges —
    edge-count band classify (JVM) + the verified distributed
    polygonize engine. Oracle: independent full-matrix flood fill +
    Euler ring counts over the same banding."""
    from geokit_spark.operators.contour_op import contour_polygons

    return contour_polygons(
        tilesrc.raster_table(spark, "elev"), [400.0, 800.0, 1200.0]
    ).select("value", "n", "nh", "nv", "area_px", "n_rings")


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-document-frequency word-n-gram detection (CCNet-style
    boilerplate removal / benchmark-contamination scan): corpus DF
    pass + broadcast semi-join back to positions. Per-doc
    (n_ngrams, n_boiler, boiler_ratio)."""
    from geokit_spark.operators.dedup import boilerplate_flags

    return boilerplate_flags(_docs(spark, sf_dir))


def q_union_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union as GEOMETRY — the reference flatten union tree
    (geom.py:871-913) over all 115 zone polygons, two-level exact
    boundary union (kernels.union_geom / operators.union_op). The
    hashable column is the exact union area; ring structure + WKB are
    pytest-verified (the slab oracle cannot count rings)."""
    from geokit_spark.operators.union_op import union_zones_geometry

    return union_zones_geometry(spark).select("union_area")


def q_pip_region_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial semi-join vs a DONUT region (outer ring + two interior
    rings — the reference's polygon-with-holes input,
    geom.py:261-345): per-lang counts. Even-odd parity over ALL rings'
    edges; hole-interior cells classify OUT at candidate-map build
    time, so points over holes never join."""
    inside = spatial_join.docs_in_polygon(
        spark, _docs(spark, sf_dir), fixtures.REGION_HOLES_RINGS
    )
    return inside.groupBy("lang").agg(F.count("*").alias("n_docs"))


def q_extract_clip_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extractAndClipFeatures against the donut region: areaShare =
    (|z ∩ outer| - sum |z ∩ hole|) / |z| in exact rationals (engine:
    ear-clip + S-H decomposition; oracle: independent boundary-
    integral algorithm — equal rationals, identical float64)."""
    from geokit_spark.operators.clipops import extract_and_clip_zones_general

    return extract_and_clip_zones_general(spark, fixtures.REGION_HOLES_RINGS)


def q_lines_in_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-vs-polygon INTERSECTS join (reference predicates branch
    per geometry type incl. lines, vector.py:365-434): per line the
    proper segment-edge crossing count, waypoints-inside count, and
    the touches predicate — all pure JVM expression trees mirrored by
    the SQL oracle."""
    from geokit_spark.operators.lines import lines_in_polygon

    return lines_in_polygon(spark)


def q_rasterize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line rasterize burn: pixels whose cell rect is intersected by a
    polyline segment (exact segment-vs-cell-rect, the allTouched
    kernel minus ring closure), burn = max line_id."""
    from geokit_spark.operators.lines import rasterize_lines_band

    return rasterize_lines_band(tilesrc.raster_table(spark, "elev"))


# decontamination gram width used by BOTH q_training_mix and its
# oracle (5 = the span-dedup width; the published 13-gram rule is the
# operator default but never matches on the tiny synthetic vocab)
_TRAINING_MIX_N = 5

_PII_INJECT_SPARK = (
    "text"
    " || CASE WHEN doc_id % 5 = 1 THEN"
    " ' contact user' || CAST(doc_id AS STRING)"
    " || '@mail' || CAST(doc_id % 7 AS STRING) || '.org today'"
    " ELSE '' END"
    " || CASE WHEN doc_id % 5 = 3 OR doc_id % 7 = 2 THEN"
    " ' call ' || CAST(5550000 + doc_id AS STRING)"
    " ELSE '' END"
)


def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch MERGEABILITY — the property that makes a sketch
    distributed: sketch each half-corpus (doc_id parity) separately,
    merge the two synopses (sorted distinct union re-truncated to
    k), and compare against sketching the full corpus directly. The
    merged sketch must be IDENTICAL to the direct one (k smallest of
    a union == k smallest of the two k-min sets) — asserted as an
    output column, not just a test."""
    from geokit_spark.operators.dedup import (
        kmv_estimate_col,
        kmv_merge_col,
        kmv_sketch,
    )

    k = 16
    toks = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    a = kmv_sketch(
        toks.filter(F.col("doc_id") % 2 == 0), "tok", by=("lang",), k=k
    ).withColumnRenamed("sketch", "sa")
    b = kmv_sketch(
        toks.filter(F.col("doc_id") % 2 == 1), "tok", by=("lang",), k=k
    ).withColumnRenamed("sketch", "sb")
    direct = kmv_sketch(toks, "tok", by=("lang",), k=k).withColumnRenamed(
        "sketch", "sd"
    )
    # full outer on the halves: a lang whose doc_ids are all one
    # parity has no row on one side — kmv_merge_col treats the NULL
    # sketch as empty, matching the oracle's COALESCE
    merged = kmv_merge_col("sa", "sb", k)
    return (
        a.join(b, "lang", "full")
        .join(direct, "lang")
        .withColumn("sm", merged)
        .select(
            "lang",
            kmv_estimate_col("sm", k).alias("est_merged"),
            kmv_estimate_col("sd", k).alias("est_direct"),
            (F.col("sm") == F.col("sd")).alias("identical"),
        )
    )


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed skew diagnosis over the geocoded cell grid: the
    top-10 hottest cells with exact counts, corpus share, and the
    imbalance factor. The geocoder plants ~20% of docs in one
    hot-spot square by design (north rule), so rank 1 must surface
    it with imbalance >> 1; the per-key counts run through the
    salted two-stage agg (the diagnostic must survive the very skew
    it measures)."""
    from geokit_spark.functions.skew import skew_report

    d = with_geocode(_docs(spark, sf_dir).select("doc_id"))
    cx, cy = cell_cols(F.col("lon"), F.col("lat"))
    cells = d.select(
        "doc_id", cx.alias("cell_x"), cy.alias("cell_y")
    )
    return skew_report(cells, ["cell_x", "cell_y"], top=10)


def q_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang vocabulary cardinality: exact countDistinct next to
    the deterministic KMV (theta) sketch at two k settings — k=64
    exceeds the synthetic vocab so the sketch returns the EXACT
    count (the below-k property), k=16 forces real estimation. Both
    bit-reproducible, unlike engine HLL implementations."""
    from geokit_spark.operators.dedup import kmv_distinct

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    exact = toks.groupBy("lang").agg(
        F.countDistinct("tok").alias("exact_distinct")
    )
    parts = [
        kmv_distinct(toks, "tok", by=("lang",), k=k).withColumn(
            "k", F.lit(k).cast("int")
        )
        for k in (16, 64)
    ]
    est = parts[0].unionByName(parts[1])
    return exact.join(est, "lang").select(
        "lang", "k", "exact_distinct", "est_distinct"
    )


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-word filter (C4 'bad words' stage shape; the list is
    a parameter — here two demo words, one frequent and one absent).
    Codegen IN-set predicate, fully narrow."""
    from geokit_spark.operators.quality import blocklist_stats

    return blocklist_stats(
        _docs(spark, sf_dir), ["vector", "lineitem"]
    )


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone composition of the curation block: PII-injected
    corpus -> 5-gram eval decontamination -> removal via BROADCAST
    ANTI join (the contaminated list is tiny, so the corpus never
    shuffles for the filter) -> PII redaction (narrow) -> per-lang
    data-mixture table over the CLEANED, REDACTED token counts.
    3 shuffles end-to-end (eval distinct, decon agg, lang agg)."""
    from geokit_spark.operators.quality import (
        DECON_EVAL_MOD,
        decontaminate,
        redacted_text_expr,
    )
    from geokit_spark.operators.sampling import mix_weights

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(_PII_INJECT_SPARK)
    )
    eval_docs = docs.filter((F.col("doc_id") % DECON_EVAL_MOD) == 0)
    bad = (
        decontaminate(docs, eval_docs, n=_TRAINING_MIX_N)
        .filter("contaminated")
        .select("doc_id")
    )
    clean = docs.join(F.broadcast(bad), "doc_id", "left_anti")
    red = clean.withColumn("text", F.expr(redacted_text_expr("text")))
    return mix_weights(red, budget=10**9)


def q_media_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified multimodal routing: ONE binary column cycling through
    png/jpeg/gif/wav/mp4/webp containers (doc_id % 6; the webp slot
    rotates all three real chunk layouts VP8/VP8L/VP8X), sniffed by
    magic bytes and dispatched to the matching header parser in a
    single streaming pass — fmt plus the format's two primary
    fields."""
    from geokit_spark.operators.multimodal import (
        build_mixed_payload,
        media_meta,
    )

    return media_meta(build_mixed_payload(_docs(spark, sf_dir)))


def q_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-header plumbing made real: minimal ISO-BMFF/MP4
    containers (ftyp + per-doc variable free box + moov/mvhd v0)
    built per doc; timescale/duration recovered by a real box walk
    with exact int64 millisecond duration."""
    from geokit_spark.operators.multimodal import (
        build_video_payload,
        video_meta,
    )

    return video_meta(build_video_payload(_docs(spark, sf_dir)))


def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-header plumbing made real: standards-valid RIFF/WAVE
    containers (variable-length LIST chunk before 'fmt ' — the reader
    must walk chunks) built per doc and parsed back byte-wise;
    duration in exact int64 ms."""
    from geokit_spark.operators.multimodal import (
        audio_meta,
        build_audio_payload,
    )

    return audio_meta(build_audio_payload(_docs(spark, sf_dir)))


def q_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-header plumbing made real: standards-valid PNG (IHDR +
    true CRC32) / JPEG (marker stream with a per-doc variable-length
    COM segment before SOF0 — fixed-offset peeking cannot pass) /
    GIF89a containers are BUILT per document, then (fmt, width,
    height) parsed BACK byte-wise. The oracle derives the expected
    values structurally; Spark earns them through real serialization
    + a real marker-walking parser."""
    from geokit_spark.operators.multimodal import (
        build_image_payload,
        image_meta,
    )

    return image_meta(build_image_payload(_docs(spark, sf_dir)))


def q_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window chunking (RAG preprocessing): 32-token
    windows every 24 tokens; md5 pins each chunk's exact text.
    Fully narrow — explode only, no shuffle."""
    from geokit_spark.operators.packing import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, overlap=8
    )


def q_snapshot_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction on the snapshot table: three append
    commits -> compact (one rewritten dir, v4) -> one more append
    (v5). Checks the Iceberg maintenance rules the Spark side must
    EARN through the manifest protocol: the rewrite preserves the row
    multiset (v4 == v3 totals), incremental readers SKIP the rewrite
    ((2,4] equals the v3 append; a pure-rewrite range raises), and
    post-compaction appends diff normally ((3,5] = the v5 slice)."""
    import tempfile

    from geokit_spark.sources.snapshots import SnapshotTable

    docs = _docs(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="geokit_snapc_")
    t = SnapshotTable(root)
    for c in range(3):
        t.commit_append(
            docs.filter(F.col("doc_id") % 3 == c),
            commit_key=f"slice-{c}",
            logical_ts=c,
        )
    v4 = t.compact(spark, commit_key="cmp-1")
    assert t.compact(spark, commit_key="cmp-1") == v4 == 4, (
        "compaction retry must be an idempotent no-op"
    )
    try:
        t.read_incremental(spark, 3, 4)
        raise AssertionError("pure-rewrite range must raise")
    except ValueError:
        pass
    t.commit_append(
        docs.filter(F.col("doc_id") % 97 == 1),
        commit_key="late",
        logical_ts=9,
    )
    frames = []
    for v, inc_from in ((3, 2), (4, 2), (5, 3)):
        full = t.read(spark, v).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        inc = t.read_incremental(spark, inc_from, v).agg(
            F.count("*").alias("inc_rows")
        )
        frames.append(
            full.crossJoin(inc).select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "sum_doc_id",
                "inc_rows",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pretraining corpus shuffle: every doc placed at
    a pseudorandom (shard, pos) via the bounded-LCG key — one shard
    exchange + in-partition rank, reproducible at any parallelism."""
    from geokit_spark.operators.packing import corpus_shuffle

    return corpus_shuffle(_docs(spark, sf_dir), n_shards=16)


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-mixture table: per-lang token totals ->
    temperature-0.5 sampling weights and an exact 1B-token budget
    allocation, all in int64 except one final double division."""
    from geokit_spark.operators.sampling import mix_weights

    return mix_weights(_docs(spark, sf_dir))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a deterministically PII-injected corpus:
    email-shaped tokens and >=7-digit runs detected with regex-free
    position arithmetic, redacted to <EMAIL>/<PHONE> sentinels, and
    audited by the md5 of the redacted text. Fully narrow — no
    shuffle, no UDF; the scan pipelines straight through."""
    from geokit_spark.operators.quality import pii_scrub

    docs = _docs(spark, sf_dir).withColumn(
        "text", F.expr(_PII_INJECT_SPARK)
    )
    return pii_scrub(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any
    word n-gram with a deterministic synthetic eval set (doc_id % 97).
    Eval grams broadcast; one corpus-side shuffle. The operator
    default is the published 13-gram rule; the query uses n=5 (the
    span-dedup width) so the tiny synthetic vocab exercises both
    branches — at n=5 exactly one NON-eval doc shares a span with the
    eval set while unrelated word-salad docs stay clean."""
    from geokit_spark.operators.quality import (
        DECON_EVAL_MOD,
        decontaminate,
    )

    docs = _docs(spark, sf_dir)
    eval_docs = docs.filter(
        (F.col("doc_id") % DECON_EVAL_MOD) == 0
    )
    return decontaminate(docs, eval_docs, n=5)


def q_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing audit for LLM pretraining: tokenize, assign
    each document its concat-and-chunk bin span inside a bounded
    (lang, doc_id-range) shard, then roll up per-lang doc/shard/token
    counts, boundary-crossing docs, and an int64 assignment checksum.
    One hash exchange on the shard key + one final agg; no global
    sort, no driver state — the 100-TB tokenize-and-pack layout."""
    from geokit_spark.operators.packing import (
        pack_sequences,
        packing_stats,
    )

    packed = pack_sequences(_docs(spark, sf_dir), context_len=512, shard_docs=256)
    return packing_stats(packed)


def q_token_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts per doc (GPT-2-style splitting
    approximated by character-class runs: letter runs, digit runs,
    punctuation chars — the subword-budget estimator of a training
    pipeline). Pure per-position ascii arithmetic; no engine regex."""
    from geokit_spark.functions.text import token_class_exprs

    cols = token_class_exprs("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()]
    )


def q_region_mask_area_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RegionMask over a DONUT region (interior rings honored by the
    mask/zonal family): rasterized mask pixel count + geo area. The
    oracle rasterizes the same even-odd parity over ALL rings' edges
    on the pixel grid."""
    from geokit_spark.regionmask import RegionMask

    rm = RegionMask(spark, fixtures.REGION_HOLES_RINGS)
    return rm.mask_stats(tilesrc.raster_table(spark, "elev"))


def q_line_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-vs-line INTERSECTS join: pairs of fixture polylines with
    >= 1 proper segment crossing, via the LOSSLESS cell-blocked
    equijoin (no all-pairs theta join); oracle = plain theta join over
    the identical strict-orientation expression tree."""
    from geokit_spark.operators.lines import line_crossing_pairs

    return line_crossing_pairs(spark)


def q_line_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polyline lengths (reference geom Length on line geometries):
    left-assoc fold of per-segment sqrt in waypoint order — sqrt is
    IEEE-correctly-rounded on both engines, the fold pins the sum
    tree, so the row hashes bit-exact."""
    from geokit_spark.operators.lines import line_lengths

    return line_lengths(spark)


def q_extract_clip_concave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extractAndClipFeatures against a CONCAVE star region — general
    non-convex clipping (vector.py:916-931; areaShare goldens
    test_05_vector.py:154-165) via the exact-rational ear-clip + S-H
    kernel; oracle = independent exact boundary-integral algorithm."""
    from geokit_spark.operators.clipops import extract_and_clip_zones_general

    return extract_and_clip_zones_general(spark, fixtures.CONCAVE_CLIP_VERTS)


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tile connected components of the categorical raster
    (polygonize counts artifact, geom.py:525-702 / SURVEY §7).
    Oracle: golden constants from an independent block-level flood
    fill (geooracle); full-matrix oracle in tests/test_components.py.
    Fully distributed: per-tile labeling, seam-pair equijoin, iterative
    min-label contraction — no pixel data reaches the driver."""
    from geokit_spark.operators.components import connected_components

    return connected_components(tilesrc.raster_table(spark, "clc"))


def q_extract_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source extractValues with priority routing: the patch
    raster (elev+1000 in its window, noData outside) overrides the
    base elevation (reference multi-raster routing raster.py:997-1008)."""
    from geokit_spark.operators.extract_values import extract_values_multi
    from geokit_spark.sources.tiles import patch_raster_table

    return extract_values_multi(
        _geo_docs(spark, sf_dir),
        [tilesrc.raster_table(spark, "elev"), patch_raster_table(spark)],
        "value",
    )


def q_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour statistics per level (reference
    contours raster.py:2044-2137; counts/lengths parity per SURVEY
    §7). Lengths are exact integer quanta so the distributed sum is
    partition-order independent; oracle = full-matrix golden
    (geooracle) + hand cases in tests/test_contours.py."""
    from geokit_spark.operators.contour_op import contour_stats

    return contour_stats(
        tilesrc.raster_table(spark, "elev"), [400.0, 800.0, 1200.0]
    )


def q_box_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touches/Overlaps/CentroidWithin on the corner-touching boxes
    (reference predicate semantics vector.py:365-434,
    test_05_vector.py:43-131). Filter box = ron's box."""
    from geokit_spark.operators.predicates import box_predicates

    return box_predicates(spark, 1.0, 1.0, 3.0, 3.0)


def q_box_predicates_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Touches/Overlaps with BOUNDARY-ONLY contact (the edge cases the
    reference warns about, vector.py:365-434): the filter box
    (1, 0, 3, 1) meets harry along the x=1 edge and ron along the y=1
    edge — touches=TRUE (closed-interval bbox contact) while
    overlaps=FALSE (interiors disjoint, neither contains the other)."""
    from geokit_spark.operators.predicates import box_predicates

    return box_predicates(spark, 1.0, 0.0, 3.0, 1.0)


def q_extract_feature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extractFeature exactly-one semantics (reference
    vector.py:591-685: the filter must match exactly one feature, else
    error): extract zone 'Z0042' and return its scalar attributes as a
    one-row DataFrame. The !=1-match error contract is pytest-pinned
    (tests/test_skew_vectorio.py)."""
    from geokit_spark.operators.mutate import zones_feature_df
    from geokit_spark.sources.vector_io import extract_feature

    feat = extract_feature(
        zones_feature_df(spark), F.col("site_code") == "Z0042"
    )
    return spark.createDataFrame(
        [(feat["zone_id"], feat["site_code"], feat["year"],
          feat["designate"], len(feat["xs"]))],
        "zone_id int, site_code string, year int, designate string, "
        "n_verts int",
    )


def q_mutate_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mutateVector user-processor hook: scale zone quads x1.1 about
    the vertex mean, return new shoelace areas (vector.py:1482-1617)."""
    from geokit_spark.operators.mutate import scale_zones

    return scale_zones(spark, 1.1)


def q_union_area_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of all zone polygons at cell level: pixels covered by >= 1
    zone (the engine's native union representation for the flatten /
    union-tree op, geom.py:871-913; cross-tile polygonize is graded on
    counts/areas per SURVEY §7)."""
    from geokit_spark.operators.rasterize import rasterize_zones_tiles

    burned = rasterize_zones_tiles(tilesrc.raster_table(spark, "elev"))
    return (
        burned.select(F.explode("burn").alias("b"))
        .filter(F.col("b") >= 0)
        .agg(
            F.count("*").alias("n_pix"),
            (F.count("*").cast("double") * F.lit(PIX_DX) * F.lit(PIX_DY)).alias(
                "union_area"
            ),
        )
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload decode plumbing with deterministic fake metadata
    (multimodal training-pipeline graft; real codec stubbed)."""
    from geokit_spark.operators.multimodal import multimodal_meta

    return multimodal_meta(_docs(spark, sf_dir))


PIPE_QUALITY_MIN = 2.5
PIPE_LANGS = ("en", "de")
PIPE_FRACTION = 0.5


def q_pipeline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end training-data filter — the composition the
    engine exists for, entirely JVM: (1) exact dedup on NORMALIZED
    content (canonical = min doc_id per md5), (2) quality-score +
    language gate, (3) deterministic stratified sample. Returns the
    surviving (doc_id, lang, n_chars, q_milli)."""
    from geokit_spark.functions.text import lang_guess, quality_score
    from geokit_spark.operators.sampling import sample_hash_col

    docs = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    canon = (
        docs.select(F.md5(norm).alias("m"), "doc_id")
        .groupBy("m")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(canon, "doc_id", "inner")
    q = quality_score(F.col("text"))
    kept = kept.filter(
        (q > F.lit(PIPE_QUALITY_MIN))
        & lang_guess(F.col("text")).isin(*PIPE_LANGS)
    )
    kept = kept.filter(
        sample_hash_col("doc_id") < F.lit(int(PIPE_FRACTION * 1_000_000))
    )
    return kept.select(
        "doc_id", "lang", "n_chars",
        F.floor(q * F.lit(1000.0)).alias("q_milli"),
    )


def q_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDAL-style sieve over the banded raster (reference raster.sieve
    raster.py:2426-2557): components < 50 px absorbed by their largest
    neighbor, deterministic (size, canonical-pixel-id) order contract.
    Distributed labeling/adjacency; component-level merge loop driver-
    side (documented). Oracle: independent full-matrix flood fill +
    the same documented merge contract (geooracle.sieve_rows)."""
    from geokit_spark.operators.components import sieve_merge

    tiles = tilesrc.raster_table(spark, "elev").select(
        "tile_x", "tile_y",
        F.transform("data", lambda x: F.floor(x / F.lit(200.0))
                    .cast("double")).alias("data"),
    )
    pdf = sieve_merge(tiles, min_size=50)
    return spark.createDataFrame(pdf, "value double, n_pixels long")


def q_contour_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour POLYLINES (geometry output of reference contours,
    raster.py:2044-2137): distributed per-tile marching squares ->
    per-level component linking; one row per polyline with exact
    segment/point counts, closed flag, quantized length. Oracle:
    full-matrix segments + an independently written BFS linker
    (geooracle.contour_lines_rows); WKB geometry pinned by pytest."""
    from geokit_spark.operators.contour_op import contour_polylines

    return contour_polylines(
        tilesrc.raster_table(spark, "elev"), [400.0, 800.0, 1200.0]
    ).select("level", "n_segs", "n_points", "closed", "length")


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling + aspect-preserving resize plumbing: one blob
    row explodes to its sampled frames (mapInPandas, numpy repeat —
    the real distributed shape; pixel work is the deterministic fake,
    codecs not shipped)."""
    from geokit_spark.operators.multimodal import sample_frames

    return sample_frames(_docs(spark, sf_dir))


def q_bisect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LocationSet median bisect (reference location.py:485-535):
    rank-median split on lon."""
    from geokit_spark.operators.location import bisect

    return bisect(_geo_docs(spark, sf_dir), "lon")


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis stage: token count, stopword count, quality score,
    lang-ID heuristic, md5 fingerprint (training-pipeline graft)."""
    from geokit_spark.functions.text import with_text_features

    return with_text_features(_docs(spark, sf_dir)).select(
        "doc_id", "n_tokens", "n_stop", "quality", "lang_guess", "fp"
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash."""
    from geokit_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard >= 0.6 over blocked candidates."""
    from geokit_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.6)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (band bucket join + exact verify)."""
    from geokit_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.6)


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.1, "es": 0.75}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sampling (LCG hash of
    doc_id, not rand() — reproducible across retries/resumes); 'zh' is
    absent from the fraction map and therefore dropped, matching
    sampleBy semantics."""
    from geokit_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), SAMPLE_FRACTIONS
    ).select("doc_id", "lang")


def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (posexplode + one hash agg with
    map-side partials — the IVF/k-means centroid-update shape);
    floor-quantized at 1e4 (float sum order differs across engines)."""
    from geokit_spark.operators.sampling import embedding_centroids

    return embedding_centroids(_emb(spark, sf_dir))


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text form (lower + whitespace collapse + trim) with
    md5 fingerprint — the normalize-then-exact-dedup key."""
    from geokit_spark.operators.sampling import normalize_text

    return normalize_text(_docs(spark, sf_dir))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components of the MinHash-LSH pair
    graph via the engine's iterative min-label contraction — the keep-
    one-canonical end stage of the dedup pipeline. Oracle: the same
    pair chain + a recursive-CTE transitive closure in DuckDB."""
    from geokit_spark.operators.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.6)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit simhash sketch (Arrow fast path)."""
    from geokit_spark.operators.dedup import simhash_docs

    return simhash_docs(_docs(spark, sf_dir))


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors over the embeddings table."""
    from geokit_spark.operators.similarity import cosine_topk

    return cosine_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5
    )


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: LSH-bucketed
    candidates + exact float64 verify (>= 0.2). The oracle reproduces
    the hyperplane buckets from the same LCG literals, so the driver
    hash-verifies the real bucketed operator; the all-pairs crossJoin
    survives only as the pytest recall baseline
    (tests/test_text_dedup.py)."""
    from geokit_spark.operators.similarity import cosine_near_dup

    return cosine_near_dup(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), threshold=0.2
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over embeddings with the fixed deterministic coarse
    quantizer (offline-trained-quantizer shape; oracle-verified).
    The data-dependent Lloyd variant stays pytest-verified
    (tests/test_text_dedup.py) — its float centroid means are
    partition-order dependent."""
    from geokit_spark.operators.similarity import ivf_topk_fixed

    return ivf_topk_fixed(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5
    )


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation shape on the events
    table (streaming §2.10 batch-parity path): daily counts per
    event_type."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    from geokit_spark.streaming.incremental import stream_events_windowed

    return stream_events_windowed(spark, events).select(
        "window_start", "event_type", "n"
    )


def _window_extent():
    from geokit_spark.constants import XMAX, XMIN, YMAX, YMIN
    from geokit_spark.extent import Extent

    xs = XMAX - XMIN
    ys = YMAX - YMIN
    return Extent(
        XMIN + 0.27 * xs, YMIN + 0.22 * ys,
        XMIN + 0.63 * xs, YMIN + 0.71 * ys,
    )


def q_extract_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extractMatrix windowed read (raster.py:433-583): the extent's
    snap math becomes an integer tile-key predicate (Catalyst prunes
    the scan); verified as exact per-tile sums of the window."""
    from geokit_spark.extent import extract_matrix_window
    from geokit_spark.operators.kernel import tile_sums

    win = extract_matrix_window(
        tilesrc.raster_table(spark, "elev"), _window_extent()
    )
    return tile_sums(win)


def q_multimodal_container(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary container round-trip: serialize a typed header
    (magic + LE u32/u16 fields) + utf-8 body per doc, then parse it
    back BYTE-WISE (numpy frombuffer at fixed offsets) and hash the
    extracted body — md5(body) == md5(text) iff the plumbing is
    lossless. The real media-container-scan shape minus only the
    codec."""
    from geokit_spark.operators.multimodal import container_roundtrip

    return container_roundtrip(_docs(spark, sf_dir))


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION windows per user (Structured Streaming's session_window
    running on the batch path — §2.10 depth beyond tumbling windows):
    30-minute inactivity gap; value summed in exact integer cents so
    the aggregate is order-independent. Oracle: classic
    gaps-and-islands SQL (LAG + cumulative island id)."""
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    return (
        events.withColumn("cents", cents)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("cents").alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT dedup, end-to-end through Structured Streaming
    (streaming/incremental.stream_dedup_exact: availableNow trigger +
    checkpoint): the documents feed lands as JSON files, the stream
    keeps first-seen content via native dropDuplicates state, and the
    hashable contract is order-independent — EXACTLY ONE surviving row
    per distinct content hash, content set equal to the batch distinct
    set. Returns (text_md5, n_kept)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="geokit_stream_dedup_")
    try:
        inp, out, ck = f"{root}/in", f"{root}/out", f"{root}/ck"
        _docs(spark, sf_dir).select("doc_id", "text", "lang").write.json(inp)
        q = __import__(
            "geokit_spark.streaming.incremental", fromlist=["stream_dedup_exact"]
        ).stream_dedup_exact(spark, inp, out, ck)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError("stream_dedup did not finish within 300s")
        got = (
            spark.read.parquet(out)
            .groupBy("text_md5")
            .agg(F.count("*").alias("n_kept"))
        )
        # materialize before the temp feed is deleted
        pdf = got.toPandas()
        return spark.createDataFrame(pdf, "text_md5 string, n_kept long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with BOUNDED state (the 100-TB shape):
    documents carry a synthetic event time (base + doc_id%1000
    seconds, all inside the 1-day horizon) and run through
    dropDuplicatesWithinWatermark (availableNow + checkpoint). Because
    every event stays within one watermark window of the max, no state
    is evicted mid-feed and every duplicate is suppressed — the
    deterministic, order-independent hashable contract: exactly one
    row per distinct content hash. Returns (text_md5, n_kept)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="geokit_stream_dedup_wm_")
    try:
        inp, out, ck = f"{root}/in", f"{root}/out", f"{root}/ck"
        (
            _docs(spark, sf_dir)
            .select(
                "doc_id", "text", "lang",
                (
                    F.to_timestamp(F.lit("2026-01-15 00:00:00"))
                    + F.make_dt_interval(
                        F.lit(0), F.lit(0), F.lit(0),
                        (F.col("doc_id") % 1000).cast("double"),
                    )
                ).alias("ts"),
            )
            .write.json(inp)
        )
        q = __import__(
            "geokit_spark.streaming.incremental",
            fromlist=["stream_dedup_watermarked"],
        ).stream_dedup_watermarked(spark, inp, out, ck)
        if not q.awaitTermination(300):
            q.stop()
            raise RuntimeError(
                "stream_dedup_watermark did not finish within 300s"
            )
        got = (
            spark.read.parquet(out)
            .groupBy("text_md5")
            .agg(F.count("*").alias("n_kept"))
        )
        pdf = got.toPandas()
        return spark.createDataFrame(pdf, "text_md5 string, n_kept long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# deterministic lineage workload: 57 cells, closed-form payloads — the
# same constants feed the Spark stage and the python-computed golden
_LINEAGE_N = 5000
_LINEAGE_CELLS = 57
_LINEAGE_STAGE = "demo"


def _lineage_payload(i: int) -> int:
    return (i * 2654435761) % 1000003


def q_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage + idempotent resume (north rule;
    plans.lineage.CheckpointTable) as a driver-hashable query:

      1. run the stage on a fresh checkpoint root — all cells process;
      2. run it AGAIN — must be a no-op (raises otherwise);
      3. resume-from-loss: a second root is pre-populated with all but
         3 cells; running the full stage there must process exactly
         the 3 missing cells (raises otherwise);
      4. verify_stage recomputes checksums from the stored parquet.

    Output (cell_id, row_count, checksum, ok) for every cell — any
    duplicate append, lost cell, or checksum drift flips row_count/ok
    and fails the hash against the python-golden oracle."""
    import shutil
    import tempfile

    from geokit_spark.plans.lineage import CheckpointTable

    work = spark.range(_LINEAGE_N).select(
        (F.col("id") % _LINEAGE_CELLS).alias("cell_id"),
        ((F.col("id") * F.lit(2654435761)) % F.lit(1000003)).alias("v"),
    )
    root = tempfile.mkdtemp(prefix="geokit_lineage_")
    try:
        ct = CheckpointTable(spark, f"{root}/a")
        cells1, _rows1 = ct.run_stage(_LINEAGE_STAGE, work)
        cells2, _rows2 = ct.run_stage(_LINEAGE_STAGE, work)
        if cells1 != _LINEAGE_CELLS or cells2 != 0:
            raise ValueError(
                f"idempotent re-run broken: first={cells1}, second={cells2}"
            )
        # lost-cell resume on a second root: pre-populate all but 3
        missing = [0, 17, 56]
        ct2 = CheckpointTable(spark, f"{root}/b")
        ct2.run_stage(
            _LINEAGE_STAGE, work.filter(~F.col("cell_id").isin(missing))
        )
        resumed, _ = ct2.run_stage(_LINEAGE_STAGE, work)
        if resumed != len(missing):
            raise ValueError(
                f"resume processed {resumed} cells, expected {len(missing)}"
            )
        lin = ct2.lineage().select("cell_id", "row_count", "checksum")
        ver = ct2.verify_stage(_LINEAGE_STAGE)
        out = lin.join(ver, "cell_id").toPandas()
        return spark.createDataFrame(
            out, "cell_id long, row_count long, checksum long, ok boolean"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (recall vs the exact baseline is
    pytest-verified in tests/test_text_dedup.py)."""
    from geokit_spark.operators.similarity import ann_topk

    return ann_topk(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5, probe_bits=1
    )


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher repetition signals (top/dup n-gram character
    fractions for n=2,3): one explode + hash-agg on (doc_id, n, gram),
    exact-integer numerators with a single double division."""
    from geokit_spark.operators.quality import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir))


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher composite quality gate — fully narrow per-row JVM
    expressions (word-count bounds, mean word length, stopword
    presence) with the first failing rule named per doc."""
    from geokit_spark.operators.quality import quality_filter

    return quality_filter(_docs(spark, sf_dir))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-50 (count DESC, word ASC total order):
    map-side-combined hash-agg + TakeOrdered, no global sort."""
    from geokit_spark.operators.quality import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=50)


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-span removal WITH text reconstruction:
    word positions covered by corpus-hot 5-grams (df >= 20) are
    dropped and the rebuilt text is md5-audited cross-engine.
    min_df=3 here (production default 20) so the sf0.01 corpus —
    where the max 5-gram df is 3 — actually exercises removal (74 hot
    grams) instead of hashing every text unchanged."""
    from geokit_spark.operators.quality import span_dedup

    return span_dedup(_docs(spark, sf_dir), min_df=3)


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE tokenization with the committed frozen merge
    table (functions/bpe): per doc, word/token counts and a
    position-weighted int64 checksum of the exact token-id sequence.
    The oracle re-derives every id through an independent recursive-
    CTE implementation of the same committed spec — a drift anywhere
    (table, tie-break, leftmost rule, vocab indexing) flips the
    checksum."""
    from geokit_spark.functions.bpe import bpe_token_stats

    return bpe_token_stats(_docs(spark, sf_dir))


def q_seq_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seq_packing on REAL tokenizer output: the committed-BPE token
    counts (lang rides through the Arrow batch — no join back) feed
    the identical pack_counts shard/cumsum/bin arithmetic, making the
    packing audit reflect actual subword budgets instead of the
    whitespace proxy. Plan: one narrow Arrow pass + one shard-key
    exchange + final agg."""
    from geokit_spark.functions.bpe import bpe_token_stats
    from geokit_spark.operators.packing import pack_counts, packing_stats

    counts = bpe_token_stats(_docs(spark, sf_dir), passthrough=("lang",))
    packed = pack_counts(counts, context_len=512, shard_docs=256)
    return packing_stats(packed)


def q_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (fastText-shaped inference):
    unigram+bigram hashing-trick features, deterministic integer
    weights, per-doc score sum, keep = score >= 0. Fully narrow plan
    — fuses with the scan, no shuffle/join/Python."""
    from geokit_spark.operators.quality import classifier_scores

    return classifier_scores(_docs(spark, sf_dir))


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document substring dedup (Lee et al. 2022 style):
    every word position covered by an 8-gram occurring in more than
    one distinct document is removed; reports per doc the removed
    position count, the number of MAXIMAL merged duplicated spans,
    and the md5 of the rebuilt text. Duplicate detection is one
    map-side-combinable gram-keyed exchange (min/max doc_id per
    gram), never a per-gram positions list."""
    from geokit_spark.operators.quality import substring_dedup

    return substring_dedup(_docs(spark, sf_dir))


def q_pages_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-specified input shape (BASELINE.json input_hint):
    (url, warc_ts, html binary, text, lang) pages derived
    deterministically from documents, then the REAL byte-level
    html->text extractor runs over the binary column and the per-row
    byte-identity invariant is audited per source (n_byte_exact must
    equal n_pages), alongside exact html byte totals and the warc_ts
    epoch range."""
    from geokit_spark.sources.pages import extraction_report, pages_from_docs

    return extraction_report(pages_from_docs(_docs(spark, sf_dir)))


def q_pages_extract_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-source extraction audit as pages_extract, but
    through the all-JVM extractor variant (pages.extract_text_sql:
    locate/substring body slice + lazy-regex block scan + per-block
    replace chain, zero Python crossings — the throughput path for
    well-formed crawls; BENCH html_extract_sql row). Sharing
    pages_extract's oracle text makes the gate itself the
    cross-implementation equivalence check at corpus scale."""
    from geokit_spark.sources.pages import extraction_report, pages_from_docs

    return extraction_report(
        pages_from_docs(_docs(spark, sf_dir)), engine="sql"
    )


def q_pages_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship spatial semi-join expressed over the input_hint page
    table end-to-end: doc ids are parsed BACK from the url column
    (roundtrip of the url template), geocoded, and PIP-tested against
    the region polygon — same join path as pip_region but consuming
    (url, lang) instead of (doc_id, lang)."""
    from geokit_spark.sources.pages import pages_from_docs, url_doc_id

    pages = pages_from_docs(_docs(spark, sf_dir))
    docsish = pages.select(
        url_doc_id().alias("doc_id"), "lang"
    )
    inside = spatial_join.docs_in_region(spark, docsish)
    return inside.groupBy("lang").agg(F.count("*").alias("n_docs"))


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization cardinality audit over the three-crawl
    revisit table: every raw url is distinct, canonical_url collapses
    the case/default-port/fragment/query-order variant into the base,
    and the SURT key (scheme + www dropped, host reversed) collapses
    all three crawls of a doc into ONE revisit key. The oracle derives
    the collapse counts closed-form from divisibility; the Spark side
    earns them by building the urls and canonicalizing with pure
    codegen string expressions (functions/url.py)."""
    from geokit_spark.functions.url import canonical_url, surt_key
    from geokit_spark.sources.pages import pages_multicrawl

    pages = pages_multicrawl(_docs(spark, sf_dir))
    return (
        pages.select(
            "lang",
            "url",
            canonical_url(F.col("url")).alias("canon"),
            surt_key(F.col("url")).alias("surt"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("url").alias("n_raw"),
            F.countDistinct("canon").alias("n_canon"),
            F.countDistinct("surt").alias("n_surt"),
        )
    )


def q_pages_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-revision-wins url dedup (the crawl-archive revisit
    workload): group by SURT key, keep max(warc_ts). ONE shuffle with
    map-side partial max/count — no window sort, the shape that holds
    at 10^12 rows. The kept crawl index is recovered arithmetically
    from the kept epoch and cross-checked against the oracle's
    closed-form highest-crawl-present rule."""
    from geokit_spark.functions.url import surt_key, url_path_id
    from geokit_spark.sources.pages import (
        CRAWL_STRIDE,
        WARC_EPOCH,
        pages_multicrawl,
    )

    pages = pages_multicrawl(_docs(spark, sf_dir))
    keyed = pages.select(
        surt_key(F.col("url")).alias("surt"),
        url_path_id(F.col("url")).alias("doc_id"),
        F.unix_timestamp("warc_ts").alias("epoch"),
        "lang",
    )
    per_key = keyed.groupBy("surt").agg(
        F.max("epoch").alias("kept_epoch"),
        F.count("*").alias("n_rev"),
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
    )
    kept_rev = F.expr(
        f"(kept_epoch - {WARC_EPOCH} - doc_id) div {CRAWL_STRIDE}"
    )
    return per_key.groupBy("lang").agg(
        F.count("*").alias("n_urls"),
        F.sum("n_rev").alias("n_revisions"),
        F.sum("kept_epoch").alias("sum_kept_epoch"),
        F.sum(kept_rev).alias("sum_kept_rev"),
    )


def q_host_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup over all crawl rows: hosts rotate
    .example / .co.uk / .net suffix shapes and crawl 2 adds a www.
    prefix, so the rollup must fold www and recognize the multi-label
    co.uk suffix. Narrow parse + one hash aggregation."""
    from geokit_spark.functions.url import registrable_domain, url_path_id
    from geokit_spark.sources.pages import pages_multicrawl

    pages = pages_multicrawl(_docs(spark, sf_dir))
    return (
        pages.select(
            registrable_domain(F.col("url")).alias("domain"),
            url_path_id(F.col("url")).alias("doc_id"),
            "lang",
            F.octet_length("html").cast("long").alias("hb"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("hb").alias("html_bytes"),
        )
    )


def q_snapshot_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table protocol (the Iceberg-shaped source):
    three append commits (doc_id % 3 slices, each committed TWICE —
    the retry must be an idempotent no-op), then per version a
    time-travel read and an incremental (append-diff) read. The
    oracle derives every count/sum from divisibility; the Spark side
    earns them through the real manifest protocol: atomic-rename
    commits, pinned-manifest reads, file-level diffs."""
    import tempfile

    from geokit_spark.sources.snapshots import SnapshotTable

    docs = _docs(spark, sf_dir)
    # tmp root is per-invocation (results are path-independent); the
    # driver collects lazily, so the dir must outlive this function
    root = tempfile.mkdtemp(prefix="geokit_snap_")
    t = SnapshotTable(root)
    for c in range(3):
        sl = docs.filter(F.col("doc_id") % 3 == c)
        v = t.commit_append(sl, commit_key=f"slice-{c}", logical_ts=c)
        retry = t.commit_append(sl, commit_key=f"slice-{c}", logical_ts=c)
        assert retry == v == c + 1, "idempotent retry must not advance"
    frames = []
    for v in (1, 2, 3):
        full = t.read(spark, v).agg(
            F.count("*").alias("n_rows"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.countDistinct("lang").alias("n_langs"),
        )
        inc = t.read_incremental(spark, v - 1, v).agg(
            F.count("*").alias("inc_rows")
        )
        frames.append(
            full.crossJoin(inc).select(
                F.lit(v).cast("int").alias("version"),
                "n_rows",
                "sum_doc_id",
                "n_langs",
                "inc_rows",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def q_host_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo x web fusion: every crawl row is geocoded (url -> doc_id ->
    deterministic lon/lat) and binned to the analysis grid; per
    registrable domain the dominant cell is selected with a
    deterministic tie-break (count desc, cell asc). Two hash
    aggregations + one tiny post-agg window — the window sorts
    per-domain CELL lists (<= cells-per-domain rows), never the page
    rows, so the shape survives 10^12 pages."""
    from geokit_spark.functions.geo import grid_cell_id, with_geocode
    from geokit_spark.functions.url import registrable_domain, url_path_id
    from geokit_spark.sources.pages import pages_multicrawl
    from pyspark.sql import Window

    pages = pages_multicrawl(_docs(spark, sf_dir))
    keyed = with_geocode(
        pages.select(
            registrable_domain(F.col("url")).alias("domain"),
            url_path_id(F.col("url")).alias("doc_id"),
        )
    )
    cells = keyed.select(
        "domain", grid_cell_id(F.col("lon"), F.col("lat")).alias("cell")
    )
    per_cell = cells.groupBy("domain", "cell").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("domain").orderBy(
        F.col("cnt").desc(), F.col("cell").asc()
    )
    top = (
        per_cell.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "domain",
            F.col("cell").alias("top_cell"),
            F.col("cnt").alias("top_cell_n"),
        )
    )
    stats = per_cell.groupBy("domain").agg(
        F.sum("cnt").alias("n_pages"), F.count("*").alias("n_cells")
    )
    return stats.join(top, "domain")


def q_page_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-link extraction audit: the html of every page carries a
    deterministic <nav> of /p/<id> anchors; the byte-level Arrow
    parser (operators/webgraph.extract_links) recovers the edge set
    in one narrow pass and the per-lang edge count / distinct-target
    / integer-checksum totals must match the formula-regenerated
    oracle edges."""
    from geokit_spark.operators.webgraph import extract_links, link_stats
    from geokit_spark.sources.pages import pages_with_links

    docs = _docs(spark, sf_dir)
    n = docs.count()
    return link_stats(extract_links(pages_with_links(docs, n)))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer PageRank (3 iterations) over the parsed page
    graph: scores are int64 with truncating division, so the
    distributed join/agg loop is bit-identical at any parallelism and
    must match DuckDB's sequential chained-CTE evaluation. Edges come
    from the REAL byte parser, not the formula."""
    from geokit_spark.operators.webgraph import extract_links, pagerank
    from geokit_spark.sources.pages import pages_with_links

    docs = _docs(spark, sf_dir)
    n = docs.count()
    edges = extract_links(pages_with_links(docs, n)).select(
        "src_id", "dst_id"
    )
    scores = pagerank(edges, docs.select("doc_id"), iters=3)
    return (
        docs.select("doc_id", "source")
        .join(scores, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("s").alias("score_sum"),
            F.min("s").alias("score_min"),
            F.max("s").alias("score_max"),
        )
    )


def q_ann_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BEYOND-the-broadcast-cap ANN path: bucket-local gemm +
    per-bucket partial top-k + vec_id merge — no driver matrix, no
    sidecar, embeddings cross the wire once per table. Deterministic
    (bucket contents are partition-invariant, merge dedup keeps the
    order-independent max), so it hash-compares against the same
    multi-table LSH SQL as the fold path (probe_bits=0)."""
    from geokit_spark.operators.similarity import ann_topk_bucketed

    return ann_topk_bucketed(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), k=5
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: count geocoded pages per zone at sf0.001."""
    return q_pip_zones_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS for the driver's per-round budget (first 50):
    # _DRIVER_FRONT rotates (a) this round's new/changed rows first,
    # then (b) the rows whose last driver-green is OLDEST, so every
    # query re-earns a driver check at worst every other round. The
    # base dict below keeps its grouped-by-round layout for reading.
    base = _queries_base()
    out = {k: base[k] for k in _DRIVER_FRONT}
    out.update((k, v) for k, v in base.items() if k not in out)
    return out


# round 8 (optimization): rows downstream of this round's plan/operator
# rewrites first (pip UDF fence, batched ann scoring, symmetric simhash
# join, pagerank loop restructure, funnel extraction), then the 43 rows
# last driver-checked in round 5 so no query ages past round 6.
_DRIVER_FRONT = [
    # changed in round 8
    "pip_region",
    "pip_region2",
    "pip_zones_join",
    "extract_clip",
    "extract_clip_concave",
    "ann_topk_bucketed",
    "simhash",
    "simhash_near",
    "pipeline_filter",
    # r5-stale AND downstream of round-8 diffs
    "pagerank",
    "corpus_pipeline",
    "corpus_incremental",
    "mirror_clusters",
    "pip_region_holes",
    "pip_zones_holes",
    "extract_clip_holes",
    "pages_pip",
    "pages_extract",
    "lines_in_region",
    # remaining r5-stale rows
    "anchor_stats",
    "audio_meta",
    "box_predicates_boundary",
    "corpus_shuffle",
    "decontaminate",
    "domain_cap",
    "extract_feature",
    "gopher_repetition",
    "host_domains",
    "host_graph",
    "host_locality",
    "image_meta",
    "indicate_features_buffered_holes",
    "line_lengths",
    "link_depth",
    "mix_weights",
    "noindex_filter",
    "page_links",
    "pages_latest",
    "pii_scrub",
    "quality_filter",
    "rag_chunks",
    "rasterize_lines",
    "seq_packing",
    "snapshot_compact",
    "snapshot_reads",
    "span_dedup",
    "stream_dedup_watermark",
    "token_classes",
    "training_mix",
    "url_canonical",
    "url_filter",
    "vocab_topk",
]


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- new in round 7 -------------------------------------------------
        "warp_lanczos": q_warp_lanczos,
        "pages_extract_sql": q_pages_extract_sql,
        "srs_transform_omerc": q_srs_transform_omerc,
        "srs_transform_world": q_srs_transform_world,
        "bm25_scores": q_bm25_scores,
        # --- new in round 6 -------------------------------------------------
        "substring_dedup": q_substring_dedup,
        "bpe_tokens": q_bpe_tokens,
        "seq_packing_bpe": q_seq_packing_bpe,
        "classifier_scores": q_classifier_scores,
        # --- new in round 5 -------------------------------------------------
        "media_router": q_media_router,
        "video_meta": q_video_meta,
        "sketch_merge": q_sketch_merge,
        "skew_report": q_skew_report,
        "distinct_sketch": q_distinct_sketch,
        "blocklist": q_blocklist,
        "training_mix": q_training_mix,
        "audio_meta": q_audio_meta,
        "image_meta": q_image_meta,
        "rag_chunks": q_rag_chunks,
        "snapshot_compact": q_snapshot_compact,
        "corpus_shuffle": q_corpus_shuffle,
        "mix_weights": q_mix_weights,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "seq_packing": q_seq_packing,
        "corpus_pipeline": q_corpus_pipeline,
        "corpus_incremental": q_corpus_incremental,
        "mirror_clusters": q_mirror_clusters,
        "url_filter": q_url_filter,
        "domain_cap": q_domain_cap,
        "link_depth": q_link_depth,
        "noindex_filter": q_noindex_filter,
        "anchor_stats": q_anchor_stats,
        "host_graph": q_host_graph,
        "snapshot_reads": q_snapshot_reads,
        "url_canonical": q_url_canonical,
        "pages_latest": q_pages_latest,
        "host_domains": q_host_domains,
        "host_locality": q_host_locality,
        "page_links": q_page_links,
        "pagerank": q_pagerank,
        "pages_extract": q_pages_extract,
        "pages_pip": q_pages_pip,
        "gopher_repetition": q_gopher_repetition,
        "quality_filter": q_quality_filter,
        "vocab_topk": q_vocab_topk,
        "span_dedup": q_span_dedup,
        "ann_topk_bucketed": q_ann_topk_bucketed,
        "pip_zones_holes": q_pip_zones_holes,
        "indicate_features_buffered_holes": q_indicate_features_buffered_holes,
        "box_predicates_boundary": q_box_predicates_boundary,
        "extract_feature": q_extract_feature,
        # --- new in round 4 -------------------------------------------------
        "pip_region_holes": q_pip_region_holes,
        "extract_clip_holes": q_extract_clip_holes,
        "lines_in_region": q_lines_in_region,
        "rasterize_lines": q_rasterize_lines,
        "stream_dedup_watermark": q_stream_dedup_watermark,
        "line_lengths": q_line_lengths,
        "token_classes": q_token_classes,
        "line_crossings": q_line_crossings,
        "region_mask_area_holes": q_region_mask_area_holes,
        "srs_transform_lcc": q_srs_transform_lcc,
        # output CHANGED in round 4 (64-bit sketch) — must be inside the
        # driver's per-round budget, not the already-recorded tail
        "simhash": q_simhash,
        "simhash_near": q_simhash_near,
        # --- new in round 3 -------------------------------------------------
        "gradient_raster": q_gradient_raster,
        "gradient_octants": q_gradient_octants,
        "rasterize_all_touched": q_rasterize_all_touched,
        "extract_clip_concave": q_extract_clip_concave,
        "union_geom": q_union_geom,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "contour_polygons": q_contour_polygons,
        "geo_dedup": q_geo_dedup,
        "warp_scale_up": q_warp_scale_up,
        "morton_cells": q_morton_cells,
        "events_sessions": q_events_sessions,
        "multimodal_container": q_multimodal_container,
        "extract_window": q_extract_window,
        "stream_dedup": q_stream_dedup,
        "lineage_resume": q_lineage_resume,
        # --- judge-verified in r2 but not in the driver file ----------------
        "indicate_features_buffered": q_indicate_features_buffered,
        "indicate_values_buffered": q_indicate_values_buffered,
        "lang_zone_cube": q_lang_zone_cube,
        "wkb_areas": q_wkb_areas,
        "srs_transform": q_srs_transform,
        "polygonize": q_polygonize,
        "geom_ops": q_geom_ops,
        "location_dedup": q_location_dedup,
        "embed_topk": q_embed_topk,
        "ann_topk": q_ann_topk,
        "ivf_topk": q_ivf_topk,
        "embed_near_dup": q_embed_near_dup,
        "events_daily": q_events_daily,
        # --- green in CORRECTNESS_r02 ----------------------------------------
        "geocode_cells": q_geocode_cells,
        "cell_counts": q_cell_counts,
        "pip_region": q_pip_region,
        "pip_region2": q_pip_region2,
        "pip_zones_join": q_pip_zones_join,
        "extract_values": q_extract_values,
        "interp_bilinear": q_interp_bilinear,
        "interp_cubic": q_interp_cubic,
        "gradient_points": q_gradient_points,
        "zonal_stats": q_zonal_stats,
        "rasterize_zones": q_rasterize_zones,
        "region_mask_area": q_region_mask_area,
        "indicate_values": q_indicate_values,
        "kernel_max3": q_kernel_max3,
        "warp_average": q_warp_average,
        "warp_near": q_warp_near,
        "warp_bilinear": q_warp_bilinear,
        "warp_cubic": q_warp_cubic,
        "warp_cutline": q_warp_cutline,
        "warp_cubicspline": q_warp_cubicspline,
        "warp_stats": q_warp_stats,
        "mosaic_combine": q_mosaic_combine,
        "knn": q_knn,
        "count_features": q_count_features,
        "interp_average": q_interp_average,
        "subtiles_zones": q_subtiles_zones,
        "extract_clip": q_extract_clip,
        "connected_components": q_connected_components,
        "extract_multi": q_extract_multi,
        "contours": q_contours,
        "box_predicates": q_box_predicates,
        "mutate_vector": q_mutate_vector,
        "union_area_cells": q_union_area_cells,
        "multimodal_meta": q_multimodal_meta,
        "bisect": q_bisect,
        "text_features": q_text_features,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh": q_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "stratified_sample": q_stratified_sample,
        "pipeline_filter": q_pipeline_filter,
        "embed_centroids": q_embed_centroids,
        "normalize_text": q_normalize_text,
        "multimodal_frames": q_multimodal_frames,
        "contour_lines": q_contour_lines,
        "sieve": q_sieve,
        "indicate_features": q_indicate_features,
    }


# ---------------------------------------------------------------------------
# oracles


def _o_geocode_cells() -> str:
    cx, cy = sqlgen.cell_exprs()
    gx, gy = sqlgen.grid_cell_exprs()
    return f"""
WITH {sqlgen.geocode_cte()}
SELECT doc_id, lon, lat, {cx} AS cell_x, {cy} AS cell_y,
       {gx} AS grid_x, {gy} AS grid_y
FROM geo
"""


def _o_cell_counts() -> str:
    cx, cy = sqlgen.cell_exprs()
    return f"""
WITH {sqlgen.geocode_cte()}
SELECT {cx} AS cell_x, {cy} AS cell_y, COUNT(*) AS n_docs
FROM geo GROUP BY 1, 2
"""


def _o_pip_region() -> str:
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
hits AS (
  SELECT g.doc_id
  FROM geo g CROSS JOIN edges
  GROUP BY g.doc_id
  HAVING SUM({cross}) % 2 = 1
)
SELECT d.lang, COUNT(*) AS n_docs
FROM documents d JOIN hits USING (doc_id)
GROUP BY d.lang
"""


def _o_pip_region_holes() -> str:
    """Even-odd over the edges of ALL rings (outer + holes
    concatenated): a point inside a hole crosses outer odd + hole odd
    = even -> excluded. Same expression tree as _o_pip_region."""
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    edges = fixtures.sql_rings_edges_values(fixtures.REGION_HOLES_RINGS)
    return f"""
WITH {sqlgen.geocode_cte()},
edges(x1, y1, x2, y2) AS (VALUES {edges}),
hits AS (
  SELECT g.doc_id
  FROM geo g CROSS JOIN edges
  GROUP BY g.doc_id
  HAVING SUM({cross}) % 2 = 1
)
SELECT d.lang, COUNT(*) AS n_docs
FROM documents d JOIN hits USING (doc_id)
GROUP BY d.lang
"""


def _o_pip_region2() -> str:
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_edges_values(fixtures.REGION2_VERTS)}),
hits AS (
  SELECT g.doc_id
  FROM geo g CROSS JOIN edges
  GROUP BY g.doc_id
  HAVING SUM({cross}) % 2 = 1
)
SELECT d.lang, COUNT(*) AS n_docs
FROM documents d JOIN hits USING (doc_id)
GROUP BY d.lang
"""


def _o_pip_zones_join() -> str:
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT g.doc_id, g.lon, g.lat, z.zone_id
  FROM geo g JOIN zbox z
    ON g.lon >= z.bxmin AND g.lon <= z.bxmax
   AND g.lat >= z.bymin AND g.lat <= z.bymax
),
hits AS (
  SELECT c.doc_id, c.zone_id
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.doc_id, c.zone_id, c.lon, c.lat
  HAVING SUM({sqlgen.pip_crossings_expr("c.lon", "c.lat", "e.x1", "e.y1", "e.x2", "e.y2")}) % 2 = 1
)
SELECT zone_id, COUNT(*) AS n_docs FROM hits GROUP BY zone_id
"""


def _o_pip_zones_holes() -> str:
    """Zones join with a donut zone: zedges carries ALL rings' edges
    under the zone's id (even-odd parity over them = donut PIP), and
    the per-zone bbox over all edges equals the outer-ring bbox (holes
    are nested). Same expression tree as _o_pip_zones_join."""
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    edges = fixtures.sql_id_rings_edges_values(fixtures.ZONES_HOLES_DICT)
    return f"""
WITH {sqlgen.geocode_cte()},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {edges}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT g.doc_id, g.lon, g.lat, z.zone_id
  FROM geo g JOIN zbox z
    ON g.lon >= z.bxmin AND g.lon <= z.bxmax
   AND g.lat >= z.bymin AND g.lat <= z.bymax
),
hits AS (
  SELECT c.doc_id, c.zone_id
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.doc_id, c.zone_id, c.lon, c.lat
  HAVING SUM({sqlgen.pip_crossings_expr("c.lon", "c.lat", "e.x1", "e.y1", "e.x2", "e.y2")}) % 2 = 1
)
SELECT zone_id, COUNT(*) AS n_docs FROM hits GROUP BY zone_id
"""


def _o_extract_values() -> str:
    ix, iy = sqlgen.raster_cell_exprs("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()}
SELECT g.doc_id, CAST({sqlgen.clc_expr(ix, iy)} AS DOUBLE) AS clc_value
FROM geo g
"""


def _o_interp_bilinear() -> str:
    gx = f"(g.lon - {d(XMIN)}) / {d(PIX_DX)} - CAST(0.5 AS DOUBLE)"
    gy = f"({d(YMAX)} - g.lat) / {d(PIX_DY)} - CAST(0.5 AS DOUBLE)"
    return f"""
WITH {sqlgen.geocode_cte()},
st AS (
  SELECT doc_id, gx, gy,
    CAST(LEAST(GREATEST(FLOOR(gx), 0), {RASTER_W - 2}) AS BIGINT) AS ix0,
    CAST(LEAST(GREATEST(FLOOR(gy), 0), {RASTER_H - 2}) AS BIGINT) AS iy0
  FROM (SELECT g.doc_id, {gx} AS gx, {gy} AS gy FROM geo g)
),
v AS (
  SELECT doc_id, gx - CAST(ix0 AS DOUBLE) AS fx, gy - CAST(iy0 AS DOUBLE) AS fy,
    CAST({sqlgen.elev_expr('ix0', 'iy0')} AS DOUBLE) AS v00,
    CAST({sqlgen.elev_expr('(ix0 + 1)', 'iy0')} AS DOUBLE) AS v10,
    CAST({sqlgen.elev_expr('ix0', '(iy0 + 1)')} AS DOUBLE) AS v01,
    CAST({sqlgen.elev_expr('(ix0 + 1)', '(iy0 + 1)')} AS DOUBLE) AS v11
  FROM st
)
SELECT doc_id,
  v00 * (CAST(1.0 AS DOUBLE) - fx) * (CAST(1.0 AS DOUBLE) - fy)
  + v10 * fx * (CAST(1.0 AS DOUBLE) - fy)
  + v01 * (CAST(1.0 AS DOUBLE) - fx) * fy
  + v11 * fx * fy AS elev_bilinear
FROM v
"""


def _sql_cubic(fm1: str, f0: str, f1: str, f2: str, u: str) -> str:
    """Same Horner tree as operators.extract_values._cubic1d."""
    return (
        f"({f0} + CAST(0.5 AS DOUBLE) * {u} * ({f1} - {fm1} + {u} * "
        f"(CAST(2.0 AS DOUBLE) * {fm1} - CAST(5.0 AS DOUBLE) * {f0} "
        f"+ CAST(4.0 AS DOUBLE) * {f1} - {f2} + {u} * "
        f"(CAST(3.0 AS DOUBLE) * ({f0} - {f1}) + {f2} - {fm1}))))"
    )


def _o_interp_cubic() -> str:
    gx = f"(g.lon - {d(XMIN)}) / {d(PIX_DX)} - CAST(0.5 AS DOUBLE)"
    gy = f"({d(YMAX)} - g.lat) / {d(PIX_DY)} - CAST(0.5 AS DOUBLE)"
    taps = ",\n    ".join(
        f"CAST({sqlgen.elev_expr(f'(ixb + {dx - 1})', f'(iyb + {dy - 1})')} AS DOUBLE) AS v{dx}{dy}"
        for dy in range(4)
        for dx in range(4)
    )
    rows = [
        _sql_cubic(f"v0{y}", f"v1{y}", f"v2{y}", f"v3{y}", "fx")
        for y in range(4)
    ]
    final = _sql_cubic(rows[0], rows[1], rows[2], rows[3], "fy")
    return f"""
WITH {sqlgen.geocode_cte()},
st AS (
  SELECT doc_id, gx, gy,
    CAST(LEAST(GREATEST(FLOOR(gx), 1), {RASTER_W - 3}) AS BIGINT) AS ixb,
    CAST(LEAST(GREATEST(FLOOR(gy), 1), {RASTER_H - 3}) AS BIGINT) AS iyb
  FROM (SELECT g.doc_id, {gx} AS gx, {gy} AS gy FROM geo g)
),
v AS (
  SELECT doc_id, gx - CAST(ixb AS DOUBLE) AS fx, gy - CAST(iyb AS DOUBLE) AS fy,
    {taps}
  FROM st
)
SELECT doc_id, {final} AS elev_cubic FROM v
"""


def _o_gradient_points() -> str:
    ix, iy = sqlgen.raster_cell_exprs("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()},
st AS (
  SELECT g.doc_id,
    GREATEST({ix} - 1, 0) AS xm, LEAST({ix} + 1, {RASTER_W - 1}) AS xp,
    GREATEST({iy} - 1, 0) AS ym, LEAST({iy} + 1, {RASTER_H - 1}) AS yp,
    {ix} AS ix, {iy} AS iy
  FROM geo g
)
SELECT doc_id,
  (CAST({sqlgen.elev_expr('xp', 'iy')} AS DOUBLE) - CAST({sqlgen.elev_expr('xm', 'iy')} AS DOUBLE)) / {d(2.0 * PIX_DX)} AS dzdx,
  (CAST({sqlgen.elev_expr('ix', 'ym')} AS DOUBLE) - CAST({sqlgen.elev_expr('ix', 'yp')} AS DOUBLE)) / {d(2.0 * PIX_DY)} AS dzdy
FROM st
"""


def _zone_pixel_hits_sql(field_col: str) -> str:
    """Shared CTE chain: pixel grid x zones -> PIP hits with field."""
    cross = sqlgen.pip_crossings_expr("c.px", "c.py", "e.x1", "e.y1", "e.x2", "e.y2")
    return f"""
{sqlgen.pixel_grid_cte()},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT p.ix, p.iy, p.px, p.py, p.{field_col} AS v, z.zone_id
  FROM pix p JOIN zbox z
    ON p.px >= z.bxmin AND p.px <= z.bxmax
   AND p.py >= z.bymin AND p.py <= z.bymax
),
hits AS (
  SELECT c.ix, c.iy, c.zone_id, ANY_VALUE(c.v) AS v
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.ix, c.iy, c.zone_id, c.px, c.py
  HAVING SUM({cross}) % 2 = 1
)"""


def _o_zonal_stats() -> str:
    from geokit_spark.operators.zonal import ZONAL_SHIFT

    k = int(ZONAL_SHIFT)
    return f"""
WITH {_zone_pixel_hits_sql('elev')},
a AS (
  SELECT zone_id,
    COUNT(*) AS n_pix,
    CAST(COUNT(*) AS DOUBLE) AS nd,
    CAST(SUM(v) AS DOUBLE) AS sum_v,
    CAST(SUM(v * v) AS DOUBLE) AS s2,
    CAST(MIN(v) AS DOUBLE) AS min_v,
    CAST(MAX(v) AS DOUBLE) AS max_v,
    CAST(SUM(v - {k}) AS DOUBLE) AS c1,
    CAST(SUM((v - {k}) * (v - {k})) AS DOUBLE) AS c2,
    CAST(SUM((v - {k}) * (v - {k}) * (v - {k})) AS DOUBLE) AS c3,
    CAST(SUM((v - {k}) * (v - {k}) * (v - {k}) * (v - {k})) AS DOUBLE) AS c4
  FROM hits GROUP BY zone_id
),
b AS (SELECT *, c1 / nd AS mc FROM a),
c AS (
  SELECT *,
    c2 / nd - mc * mc AS mu2,
    c3 / nd - CAST(3.0 AS DOUBLE) * mc * (c2 / nd) + CAST(2.0 AS DOUBLE) * mc * mc * mc AS mu3,
    c4 / nd - CAST(4.0 AS DOUBLE) * mc * (c3 / nd) + CAST(6.0 AS DOUBLE) * mc * mc * (c2 / nd) - CAST(3.0 AS DOUBLE) * mc * mc * mc * mc AS mu4
  FROM b
)
SELECT zone_id, n_pix, sum_v,
  sum_v / nd AS mean_v,
  min_v, max_v,
  (s2 - sum_v * sum_v / nd) / nd AS var_v,
  mu3 / (mu2 * sqrt(mu2)) AS skew_v,
  mu4 / (mu2 * mu2) - CAST(3.0 AS DOUBLE) AS kurt_v
FROM c
"""


def _o_rasterize_zones() -> str:
    return f"""
WITH {_zone_pixel_hits_sql('elev')},
zattr(zone_id, site_code, year, designate, bxmin, bymin, bxmax, bymax) AS (
  VALUES {fixtures.sql_zone_attr_values()}
),
win AS (
  SELECT ix, iy, MAX(zone_id) AS zone_id FROM hits GROUP BY ix, iy
)
SELECT CAST(a.year AS BIGINT) AS burn_value, COUNT(*) AS n_pixels
FROM win w JOIN zattr a USING (zone_id)
GROUP BY a.year
"""


def _o_region_mask_area() -> str:
    cross = sqlgen.pip_crossings_expr("p.px", "p.py")
    return f"""
WITH {sqlgen.pixel_grid_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
hits AS (
  SELECT p.ix, p.iy
  FROM pix p CROSS JOIN edges
  GROUP BY p.ix, p.iy, p.px, p.py
  HAVING SUM({cross}) % 2 = 1
)
SELECT COUNT(*) AS n_pix,
  CAST(COUNT(*) AS DOUBLE) * {d(PIX_DX)} * {d(PIX_DY)} AS area
FROM hits
"""


def _o_indicate_values() -> str:
    from geokit_spark.operators.indicate import sql_classifier_expr

    cls = sql_classifier_expr(INDICATE_DSL, "v")
    return f"""
WITH {_zone_pixel_hits_sql('clc')}
SELECT zone_id,
  COUNT(*) AS n_pix,
  CAST(SUM(CASE WHEN {cls} THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
  CAST(SUM(CASE WHEN {cls} THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac
FROM hits GROUP BY zone_id
"""


def _o_kernel_max3() -> str:
    # 3x3 max with constant edge_value=0 outside the raster
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nx = f"(ix + {dx})"
            ny = f"(iy + {dy})"
            val = f"CAST({sqlgen.elev_expr(nx, ny)} AS DOUBLE)"
            inb = (
                f"{nx} >= 0 AND {nx} < {RASTER_W} AND {ny} >= 0 AND {ny} < {RASTER_H}"
            )
            terms.append(f"CASE WHEN {inb} THEN {val} ELSE CAST(0.0 AS DOUBLE) END")
    mx = "GREATEST(" + ", ".join(terms) + ")"
    return f"""
WITH {sqlgen.pixel_grid_cte()}
SELECT CAST(ix // 64 AS INT) AS tile_x, CAST(iy // 64 AS INT) AS tile_y,
       SUM({mx}) AS sum_v
FROM pix GROUP BY 1, 2
"""


def _o_warp_average() -> str:
    return f"""
WITH {sqlgen.pixel_grid_cte()}
SELECT CAST(ix // 8 AS INT) AS block_x, CAST(iy // 8 AS INT) AS block_y,
       CAST(SUM(elev) AS DOUBLE) / CAST(64.0 AS DOUBLE) AS value
FROM pix GROUP BY 1, 2
"""


def _warp_target_cte() -> str:
    from geokit_spark.operators.warp import WARP_DXT, WARP_DYT, WARP_H, WARP_W

    return f"""
tgt AS (
  SELECT jx, jy,
    {d(XMIN)} + (CAST(jx AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {d(WARP_DXT)} AS cx,
    {d(YMAX)} - (CAST(jy AS DOUBLE) + CAST(0.5 AS DOUBLE)) * {d(WARP_DYT)} AS cy
  FROM (SELECT CAST(range AS BIGINT) AS jx FROM range({WARP_W})),
       (SELECT CAST(range AS BIGINT) AS jy FROM range({WARP_H}))
)"""


def _o_warp_near() -> str:
    return f"""
WITH {_warp_target_cte()},
st AS (
  SELECT jx, jy,
    CAST(LEAST(GREATEST(FLOOR((cx - {d(XMIN)}) / {d(PIX_DX)}), 0), {RASTER_W - 1}) AS BIGINT) AS ix,
    CAST(LEAST(GREATEST(FLOOR(({d(YMAX)} - cy) / {d(PIX_DY)}), 0), {RASTER_H - 1}) AS BIGINT) AS iy
  FROM tgt
)
SELECT CAST(jx AS INT) AS jx, CAST(jy AS INT) AS jy,
       CAST({sqlgen.elev_expr('ix', 'iy')} AS DOUBLE) AS value
FROM st
"""


def _o_warp_bilinear() -> str:
    return f"""
WITH {_warp_target_cte()},
g AS (
  SELECT jx, jy,
    (cx - {d(XMIN)}) / {d(PIX_DX)} - CAST(0.5 AS DOUBLE) AS gx,
    ({d(YMAX)} - cy) / {d(PIX_DY)} - CAST(0.5 AS DOUBLE) AS gy
  FROM tgt
),
st AS (
  SELECT jx, jy, gx, gy,
    CAST(LEAST(GREATEST(FLOOR(gx), 0), {RASTER_W - 2}) AS BIGINT) AS ix0,
    CAST(LEAST(GREATEST(FLOOR(gy), 0), {RASTER_H - 2}) AS BIGINT) AS iy0
  FROM g
),
v AS (
  SELECT jx, jy, gx - CAST(ix0 AS DOUBLE) AS fx, gy - CAST(iy0 AS DOUBLE) AS fy,
    CAST({sqlgen.elev_expr('ix0', 'iy0')} AS DOUBLE) AS v00,
    CAST({sqlgen.elev_expr('(ix0 + 1)', 'iy0')} AS DOUBLE) AS v10,
    CAST({sqlgen.elev_expr('ix0', '(iy0 + 1)')} AS DOUBLE) AS v01,
    CAST({sqlgen.elev_expr('(ix0 + 1)', '(iy0 + 1)')} AS DOUBLE) AS v11
  FROM st
)
SELECT CAST(jx AS INT) AS jx, CAST(jy AS INT) AS jy,
  v00 * (CAST(1.0 AS DOUBLE) - fx) * (CAST(1.0 AS DOUBLE) - fy)
  + v10 * fx * (CAST(1.0 AS DOUBLE) - fy)
  + v01 * (CAST(1.0 AS DOUBLE) - fx) * fy
  + v11 * fx * fy AS value
FROM v
"""


def _sql_catmull_w(s: str) -> str:
    """Catmull-Rom weight — identical Horner tree to warp._catmull_w."""
    ax = f"ABS({s})"
    inner = (
        f"(({d(1.5)} * {ax} - {d(2.5)}) * {ax}) * {ax} + {d(1.0)}"
    )
    outer = (
        f"(({d(-0.5)} * {ax} + {d(2.5)}) * {ax} - {d(4.0)}) * {ax} + {d(2.0)}"
    )
    return (
        f"CASE WHEN {ax} <= {d(1.0)} THEN {inner} "
        f"WHEN {ax} < {d(2.0)} THEN {outer} ELSE {d(0.0)} END"
    )


def _sql_bspline_w(s: str) -> str:
    """Cubic B-spline weight — identical tree to warp._bspline_w."""
    ax = f"ABS({s})"
    inner = (
        f"({d(4.0)} - {d(6.0)} * ({ax} * {ax}) "
        f"+ {d(3.0)} * (({ax} * {ax}) * {ax})) / {d(6.0)}"
    )
    t2 = f"({d(2.0)} - {ax})"
    outer = f"(({t2} * {t2}) * {t2}) / {d(6.0)}"
    return (
        f"CASE WHEN {ax} <= {d(1.0)} THEN {inner} "
        f"WHEN {ax} < {d(2.0)} THEN {outer} ELSE {d(0.0)} END"
    )


def _o_warp_stencil4(kind: str) -> str:
    """Shared oracle for warp cubic / cubicspline: 4x4 stencil at the
    target pixel center, weights per _sql_catmull_w/_sql_bspline_w,
    accumulation tree mirroring warp_to_grid.per_target exactly
    (rows left-assoc over kx, then left-assoc over ky)."""
    wfn = _sql_catmull_w if kind == "cubic" else _sql_bspline_w
    taps = ",\n    ".join(
        f"CAST({sqlgen.elev_expr(f'(ixb + {dx - 1})', f'(iyb + {dy - 1})')} AS DOUBLE) AS v{dx}{dy}"
        for dy in range(4)
        for dx in range(4)
    )
    ws = ",\n    ".join(
        [f"{wfn(f'(fx - {d(float(k - 1))})')} AS wx{k}" for k in range(4)]
        + [f"{wfn(f'(fy - {d(float(k - 1))})')} AS wy{k}" for k in range(4)]
    )
    rows = [
        "(" + " + ".join(f"wx{kx} * v{kx}{ky}" for kx in range(4)) + ")"
        for ky in range(4)
    ]
    final = " + ".join(f"wy{ky} * {rows[ky]}" for ky in range(4))
    return f"""
WITH {_warp_target_cte()},
g AS (
  SELECT jx, jy,
    (cx - {d(XMIN)}) / {d(PIX_DX)} - CAST(0.5 AS DOUBLE) AS gx,
    ({d(YMAX)} - cy) / {d(PIX_DY)} - CAST(0.5 AS DOUBLE) AS gy
  FROM tgt
),
st AS (
  SELECT jx, jy, gx, gy,
    CAST(LEAST(GREATEST(FLOOR(gx), 1), {RASTER_W - 3}) AS BIGINT) AS ixb,
    CAST(LEAST(GREATEST(FLOOR(gy), 1), {RASTER_H - 3}) AS BIGINT) AS iyb
  FROM g
),
v AS (
  SELECT jx, jy, gx - CAST(ixb AS DOUBLE) AS fx, gy - CAST(iyb AS DOUBLE) AS fy,
    {taps}
  FROM st
),
wv AS (
  SELECT *,
    {ws}
  FROM v
)
SELECT CAST(jx AS INT) AS jx, CAST(jy AS INT) AS jy,
  {final} AS value
FROM wv
"""


def _o_warp_lanczos() -> str:
    """Oracle for warp resampleAlg='lanczos' (6x6 windowed sinc, a=3,
    weight-normalized per GDAL). sin is libm — never oracle-safe — so
    the weights are NOT computed in SQL: operators/warp.lanczos_tables
    builds the per-target-index weight table once with python math.sin
    and BOTH engines consume those exact float64s (Spark by array
    lookup, this SQL as VALUES literals joined on jx/jy). The stencil
    base (clamp(floor(g), 2, 508)) and the accumulation tree
    (left-assoc over kx then ky, then / (sx * sy)) mirror
    warp_to_grid.per_target token-for-token."""
    from geokit_spark.operators.warp import lanczos_tables

    wxt, sxt, wyt, syt = lanczos_tables()
    wx_rows = ",\n    ".join(
        "(" + ", ".join(
            [str(j)] + [d(float(wxt[j, k])) for k in range(6)]
            + [d(float(sxt[j]))]
        ) + ")"
        for j in range(wxt.shape[0])
    )
    wy_rows = ",\n    ".join(
        "(" + ", ".join(
            [str(j)] + [d(float(wyt[j, k])) for k in range(6)]
            + [d(float(syt[j]))]
        ) + ")"
        for j in range(wyt.shape[0])
    )
    taps = ",\n    ".join(
        f"CAST({sqlgen.elev_expr(f'(ixb + {dx - 2})', f'(iyb + {dy - 2})')} AS DOUBLE) AS v{dx}{dy}"
        for dy in range(6)
        for dx in range(6)
    )
    rows = [
        "(" + " + ".join(f"wx{kx} * v{kx}{ky}" for kx in range(6)) + ")"
        for ky in range(6)
    ]
    final = " + ".join(f"wy{ky} * {rows[ky]}" for ky in range(6))
    return f"""
WITH {_warp_target_cte()},
wx(kjx, wx0, wx1, wx2, wx3, wx4, wx5, sx) AS (VALUES
    {wx_rows}),
wy(kjy, wy0, wy1, wy2, wy3, wy4, wy5, sy) AS (VALUES
    {wy_rows}),
g AS (
  SELECT jx, jy,
    (cx - {d(XMIN)}) / {d(PIX_DX)} - CAST(0.5 AS DOUBLE) AS gx,
    ({d(YMAX)} - cy) / {d(PIX_DY)} - CAST(0.5 AS DOUBLE) AS gy
  FROM tgt
),
st AS (
  SELECT jx, jy,
    CAST(LEAST(GREATEST(FLOOR(gx), 2), {RASTER_W - 4}) AS BIGINT) AS ixb,
    CAST(LEAST(GREATEST(FLOOR(gy), 2), {RASTER_H - 4}) AS BIGINT) AS iyb
  FROM g
),
v AS (
  SELECT jx, jy, ixb, iyb,
    {taps}
  FROM st
)
SELECT CAST(v.jx AS INT) AS jx, CAST(v.jy AS INT) AS jy,
  ({final}) / (sx * sy) AS value
FROM v
JOIN wx ON v.jx = wx.kjx
JOIN wy ON v.jy = wy.kjy
"""


def _o_warp_cutline() -> str:
    cross = sqlgen.pip_crossings_expr("t.cx", "t.cy")
    return f"""
WITH {_warp_target_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
ins AS (
  SELECT t.jx, t.jy, (SUM({cross}) % 2 = 1) AS inside
  FROM tgt t CROSS JOIN edges
  GROUP BY t.jx, t.jy
),
st AS (
  SELECT jx, jy,
    CAST(LEAST(GREATEST(FLOOR((cx - {d(XMIN)}) / {d(PIX_DX)}), 0), {RASTER_W - 1}) AS BIGINT) AS ix,
    CAST(LEAST(GREATEST(FLOOR(({d(YMAX)} - cy) / {d(PIX_DY)}), 0), {RASTER_H - 1}) AS BIGINT) AS iy
  FROM tgt
)
SELECT CAST(st.jx AS INT) AS jx, CAST(st.jy AS INT) AS jy,
  CASE WHEN ins.inside THEN CAST({sqlgen.elev_expr('st.ix', 'st.iy')} AS DOUBLE)
       ELSE CAST('-9999.0' AS DOUBLE) END AS value
FROM st JOIN ins ON st.jx = ins.jx AND st.jy = ins.jy
"""


def _o_warp_stats() -> str:
    from geokit_spark.operators.warp import WARP_DXT, WARP_DYT, WARP_H, WARP_W

    jx = f"CAST(FLOOR((px - {d(XMIN)}) / {d(WARP_DXT)}) AS INT)"
    jy = f"CAST(FLOOR(({d(YMAX)} - py) / {d(WARP_DYT)}) AS INT)"
    return f"""
WITH {sqlgen.pixel_grid_cte()},
b AS (
  SELECT jx, jy, value FROM (
    SELECT {jx} AS jx, {jy} AS jy, CAST(elev AS DOUBLE) AS value FROM pix
  ) WHERE jx >= 0 AND jx < {WARP_W} AND jy >= 0 AND jy < {WARP_H}
),
s AS (
  SELECT jx, jy, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(value) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_v,
    MIN(value) AS min_v, MAX(value) AS max_v,
    quantile_cont(FLOOR(value * 1024), 0.5) / 1024 AS med_v,
    quantile_cont(FLOOR(value * 1024), 0.25) / 1024 AS q1_v,
    quantile_cont(FLOOR(value * 1024), 0.75) / 1024 AS q3_v,
    CAST(SUM(value) AS DOUBLE) AS sum_v,
    SQRT(CAST(SUM(value * value) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS rms_v
  FROM b GROUP BY jx, jy
),
c AS (SELECT jx, jy, value, COUNT(*) AS cnt FROM b GROUP BY 1, 2, 3),
m AS (SELECT jx, jy, MAX(cnt) AS mc FROM c GROUP BY 1, 2),
md AS (
  SELECT c.jx, c.jy, MIN(c.value) AS mode_v
  FROM c JOIN m ON c.jx = m.jx AND c.jy = m.jy AND c.cnt = m.mc
  GROUP BY 1, 2
)
SELECT s.jx, s.jy, n, avg_v, min_v, max_v, med_v, q1_v, q3_v, sum_v,
       rms_v, mode_v
FROM s JOIN md ON s.jx = md.jx AND s.jy = md.jy
"""


def _o_lines_in_region() -> str:
    """Mirror of operators.lines.lines_in_polygon: strict orientation
    signs for proper crossings + even-odd waypoint parity, identical
    +,-,* expression trees."""
    o1 = "((s.bx - s.ax) * (e.ey1 - s.ay) - (s.by - s.ay) * (e.ex1 - s.ax))"
    o2 = "((s.bx - s.ax) * (e.ey2 - s.ay) - (s.by - s.ay) * (e.ex2 - s.ax))"
    o3 = "((e.ex2 - e.ex1) * (s.ay - e.ey1) - (e.ey2 - e.ey1) * (s.ax - e.ex1))"
    o4 = "((e.ex2 - e.ex1) * (s.by - e.ey1) - (e.ey2 - e.ey1) * (s.bx - e.ex1))"
    proper = f"(({o1} > 0) <> ({o2} > 0)) AND (({o3} > 0) <> ({o4} > 0))"
    crossing = sqlgen.pip_crossings_expr(
        "v.px", "v.py", "e.ex1", "e.ey1", "e.ex2", "e.ey2"
    )
    return f"""
WITH segs(line_id, ax, ay, bx, by) AS (VALUES {fixtures.sql_line_segs_values()}),
verts(line_id, px, py) AS (VALUES {fixtures.sql_line_verts_values()}),
redges(ex1, ey1, ex2, ey2) AS (VALUES {fixtures.sql_region_edges_values()}),
nc AS (
  SELECT s.line_id,
         CAST(SUM(CASE WHEN {proper} THEN 1 ELSE 0 END) AS BIGINT) AS n_cross
  FROM segs s CROSS JOIN redges e GROUP BY s.line_id
),
vin AS (
  SELECT line_id, CAST(COUNT(*) AS BIGINT) AS n_verts_in
  FROM (
    SELECT v.line_id, v.px, v.py
    FROM verts v CROSS JOIN redges e
    GROUP BY v.line_id, v.px, v.py
    HAVING SUM({crossing}) % 2 = 1
  ) GROUP BY line_id
)
SELECT nc.line_id, nc.n_cross,
       COALESCE(vin.n_verts_in, 0) AS n_verts_in,
       (nc.n_cross > 0 OR COALESCE(vin.n_verts_in, 0) > 0) AS touches
FROM nc LEFT JOIN vin ON nc.line_id = vin.line_id
"""


def _o_token_classes() -> str:
    from geokit_spark.oracle.textsql import token_class_exprs_sql

    cols = token_class_exprs_sql("text")
    sel = ", ".join(f"{e} AS {n}" for n, e in cols.items())
    return f"SELECT doc_id, {sel} FROM documents"


def _o_region_mask_area_holes() -> str:
    cross = sqlgen.pip_crossings_expr("p.px", "p.py")
    edges = fixtures.sql_rings_edges_values(fixtures.REGION_HOLES_RINGS)
    return f"""
WITH {sqlgen.pixel_grid_cte()},
edges(x1, y1, x2, y2) AS (VALUES {edges}),
hits AS (
  SELECT p.ix, p.iy
  FROM pix p CROSS JOIN edges
  GROUP BY p.ix, p.iy, p.px, p.py
  HAVING SUM({cross}) % 2 = 1
)
SELECT COUNT(*) AS n_pix,
  CAST(COUNT(*) AS DOUBLE) * {d(PIX_DX)} * {d(PIX_DY)} AS area
FROM hits
"""


def _o_line_crossings() -> str:
    o1 = "((a.bx - a.ax) * (b.ay - a.ay) - (a.by - a.ay) * (b.ax - a.ax))"
    o2 = "((a.bx - a.ax) * (b.by - a.ay) - (a.by - a.ay) * (b.bx - a.ax))"
    o3 = "((b.bx - b.ax) * (a.ay - b.ay) - (b.by - b.ay) * (a.ax - b.ax))"
    o4 = "((b.bx - b.ax) * (a.by - b.ay) - (b.by - b.ay) * (a.bx - b.ax))"
    proper = f"(({o1} > 0) <> ({o2} > 0)) AND (({o3} > 0) <> ({o4} > 0))"
    return f"""
WITH segs(line_id, i, ax, ay, bx, by) AS (VALUES {fixtures.sql_line_seg_idx_values()}),
pairs AS (
  SELECT a.line_id AS id_a, b.line_id AS id_b,
         CASE WHEN {proper} THEN 1 ELSE 0 END AS c
  FROM segs a JOIN segs b ON a.line_id < b.line_id
)
SELECT id_a, id_b, CAST(SUM(c) AS BIGINT) AS n_cross
FROM pairs GROUP BY id_a, id_b HAVING SUM(c) > 0
"""


def _o_line_lengths() -> str:
    """Ordered list_reduce mirror of operators.lines.line_lengths:
    same per-segment sqrt expression, same left-assoc summation order
    (list(d ORDER BY i); reduce without init == fold with 0.0 init
    since 0.0 + d1 == d1 exactly)."""
    return f"""
WITH segs(line_id, i, ax, ay, bx, by) AS (VALUES {fixtures.sql_line_seg_idx_values()}),
attrs(line_id, kind) AS (VALUES {fixtures.sql_line_attr_values()}),
pre AS (
  SELECT line_id, i,
         sqrt((bx - ax) * (bx - ax) + (by - ay) * (by - ay)) AS d
  FROM segs
),
l AS (
  SELECT line_id, list(d ORDER BY i) AS ds FROM pre GROUP BY line_id
)
SELECT a.line_id, a.kind, list_reduce(l.ds, (x, y) -> x + y) AS length
FROM attrs a JOIN l ON a.line_id = l.line_id
"""


def _o_rasterize_lines() -> str:
    from geokit_spark.kernels.cells import _EPS

    eps = d(_EPS)
    dxl, dyl = d(PIX_DX), d(PIX_DY)

    def s_expr(cx: str, cy: str) -> str:
        # same tree as kernels.cells._segs_cross_rects:
        # (bx-ax)*(cy-ay) - (by-ay)*(cx-ax)
        return (
            f"(s.bx - s.ax) * (({cy}) - s.ay)"
            f" - (s.by - s.ay) * (({cx}) - s.ax)"
        )

    corners = [
        s_expr(f"c.cx0 - {eps}", f"c.cy0 - {eps}"),
        s_expr(f"c.cx0 + {dxl} + {eps}", f"c.cy0 - {eps}"),
        s_expr(f"c.cx0 + {dxl} + {eps}", f"c.cy0 + {dyl} + {eps}"),
        s_expr(f"c.cx0 - {eps}", f"c.cy0 + {dyl} + {eps}"),
    ]
    pos = " OR ".join(f"({s}) > 0" for s in corners)
    neg = " OR ".join(f"({s}) < 0" for s in corners)
    return f"""
WITH {sqlgen.pixel_grid_cte()},
segs(line_id, ax, ay, bx, by) AS (VALUES {fixtures.sql_line_segs_values()}),
cell AS (
  SELECT ix, iy,
    {d(XMIN)} + CAST(ix AS DOUBLE) * {dxl} AS cx0,
    {d(YMAX)} - (CAST(iy AS DOUBLE) + CAST(1 AS DOUBLE)) * {dyl} AS cy0
  FROM pix
)
SELECT c.ix, c.iy, CAST(MAX(s.line_id) AS BIGINT) AS burn
FROM cell c JOIN segs s
ON  LEAST(s.ax, s.bx) - {eps} <= c.cx0 + {dxl}
AND c.cx0 <= GREATEST(s.ax, s.bx) + {eps}
AND LEAST(s.ay, s.by) - {eps} <= c.cy0 + {dyl}
AND c.cy0 <= GREATEST(s.ay, s.by) + {eps}
AND ({pos})
AND ({neg})
GROUP BY c.ix, c.iy
"""


def _o_rasterize_all_touched() -> str:
    from geokit_spark.kernels.cells import _EPS

    eps = d(_EPS)
    dxl, dyl = d(PIX_DX), d(PIX_DY)

    def s_expr(cx: str, cy: str) -> str:
        # same tree as kernels.cells._edges_cross_rects:
        # (x2-x1)*(cy-y1) - (y2-y1)*(cx-x1)
        return (
            f"(e.x2 - e.x1) * (({cy}) - e.y1)"
            f" - (e.y2 - e.y1) * (({cx}) - e.x1)"
        )

    corners = [
        s_expr(f"c.cx0 - {eps}", f"c.cy0 - {eps}"),
        s_expr(f"c.cx0 + {dxl} + {eps}", f"c.cy0 - {eps}"),
        s_expr(f"c.cx0 + {dxl} + {eps}", f"c.cy0 + {dyl} + {eps}"),
        s_expr(f"c.cx0 - {eps}", f"c.cy0 + {dyl} + {eps}"),
    ]
    pos = " OR ".join(f"({s}) > 0" for s in corners)
    neg = " OR ".join(f"({s}) < 0" for s in corners)
    cross = sqlgen.pip_crossings_expr("c.px", "c.py", "e.x1", "e.y1",
                                      "e.x2", "e.y2")
    return f"""
WITH {sqlgen.pixel_grid_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
cell AS (
  SELECT ix, iy, px, py,
    {d(XMIN)} + CAST(ix AS DOUBLE) * {dxl} AS cx0,
    {d(YMAX)} - (CAST(iy AS DOUBLE) + CAST(1 AS DOUBLE)) * {dyl} AS cy0
  FROM pix
),
hit AS (
  SELECT c.ix, c.iy
  FROM cell c JOIN edges e
  ON  LEAST(e.x1, e.x2) - {eps} <= c.cx0 + {dxl}
  AND c.cx0 <= GREATEST(e.x1, e.x2) + {eps}
  AND LEAST(e.y1, e.y2) - {eps} <= c.cy0 + {dyl}
  AND c.cy0 <= GREATEST(e.y1, e.y2) + {eps}
  AND ({pos})
  AND ({neg})
  GROUP BY c.ix, c.iy
)
SELECT c.ix, c.iy, (SUM({cross}) % 2 = 1) AS center_in
FROM hit h
JOIN cell c ON h.ix = c.ix AND h.iy = c.iy
CROSS JOIN edges e
GROUP BY c.ix, c.iy
"""


def _o_gradient_raster() -> str:
    from geokit_spark.constants import YMIN
    from geokit_spark.operators.kernel import latlon_to_m_factors

    xf, yf = latlon_to_m_factors(YMIN, YMAX)
    den_x = 2.0 * PIX_DX * xf
    den_y = 2.0 * PIX_DY * yf
    e_n = sqlgen.elev_expr("ix", "(iy - 1)")
    e_s = sqlgen.elev_expr("ix", "(iy + 1)")
    e_w = sqlgen.elev_expr("(ix - 1)", "iy")
    e_e = sqlgen.elev_expr("(ix + 1)", "iy")
    return f"""
WITH {sqlgen.pixel_grid_cte()},
g AS (
  SELECT ix, iy,
    CASE WHEN iy = 0 OR iy = {RASTER_H - 1} THEN CAST(0 AS DOUBLE)
         ELSE (CAST({e_s} AS DOUBLE) - CAST({e_n} AS DOUBLE)) / {d(den_y)}
    END AS ns,
    CASE WHEN ix = 0 OR ix = {RASTER_W - 1} THEN CAST(0 AS DOUBLE)
         ELSE (CAST({e_w} AS DOUBLE) - CAST({e_e} AS DOUBLE)) / {d(den_x)}
    END AS ew
  FROM pix
)
SELECT CAST(ix AS INT) AS ix, CAST(iy AS INT) AS iy, ns, ew,
       SQRT(ns * ns + ew * ew) AS slope
FROM g
"""


def _o_gradient_octants() -> str:
    from geokit_spark.operators.kernel import aspect_octant_case

    inner = _o_gradient_raster()
    return f"""
WITH grad AS ({inner})
SELECT CAST({aspect_octant_case()} AS INT) AS octant,
  CAST(COUNT(*) AS BIGINT) AS n_pixels,
  MIN(slope) AS min_slope,
  MAX(slope) AS max_slope
FROM grad
GROUP BY 1
"""


def _o_extract_window() -> str:
    import math as _m

    from geokit_spark.constants import TILE_SIZE

    ext = _window_extent()
    t = TILE_SIZE
    tx0 = int(_m.floor((ext.xmin - XMIN) / (PIX_DX * t)))
    tx1 = int(_m.ceil((ext.xmax - XMIN) / (PIX_DX * t))) - 1
    ty0 = int(_m.floor((YMAX - ext.ymax) / (PIX_DY * t)))
    ty1 = int(_m.ceil((YMAX - ext.ymin) / (PIX_DY * t))) - 1
    return f"""
WITH {sqlgen.pixel_grid_cte()}
SELECT CAST(ix // {t} AS INT) AS tile_x, CAST(iy // {t} AS INT) AS tile_y,
       CAST(SUM(elev) AS DOUBLE) AS sum_v
FROM pix
WHERE ix // {t} BETWEEN {tx0} AND {tx1}
  AND iy // {t} BETWEEN {ty0} AND {ty1}
GROUP BY 1, 2
"""


def _o_events_sessions() -> str:
    return """
WITH marked AS (
  SELECT user_id, ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
islands AS (
  SELECT user_id, ts, cents,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents
FROM islands
GROUP BY user_id, session_id
"""


def _o_morton_cells() -> str:
    gx, gy = sqlgen.grid_cell_exprs()
    terms = " + ".join(
        f"((CAST(cell_x AS BIGINT) // {1 << k}) % 2) * {1 << (2 * k)}"
        f" + ((CAST(cell_y AS BIGINT) // {1 << k}) % 2) * {1 << (2 * k + 1)}"
        for k in range(16)
    )
    return f"""
WITH {sqlgen.geocode_cte()},
cells AS (
  SELECT doc_id, {gx} AS cell_x, {gy} AS cell_y FROM geo
)
SELECT doc_id, cell_x, cell_y, CAST({terms} AS BIGINT) AS morton
FROM cells
"""


def _o_warp_scale_up() -> str:
    from geokit_spark.constants import TILE_SIZE

    sub = TILE_SIZE // 2  # source pixels per fine tile side (k=2)
    return f"""
WITH {sqlgen.pixel_grid_cte()}
SELECT CAST(ix // {sub} AS INT) AS tile_x,
       CAST(iy // {sub} AS INT) AS tile_y,
       CAST(4 AS DOUBLE) * CAST(SUM(elev) AS DOUBLE) AS sum_v
FROM pix
GROUP BY 1, 2
"""


def _o_mosaic_combine() -> str:
    from geokit_spark.sources.tiles import PATCH_X0, PATCH_X1, PATCH_Y0, PATCH_Y1

    v = (
        f"CASE WHEN ix >= {PATCH_X0} AND ix < {PATCH_X1} "
        f"AND iy >= {PATCH_Y0} AND iy < {PATCH_Y1} "
        f"THEN CAST(elev AS DOUBLE) + CAST(1000.0 AS DOUBLE) "
        f"ELSE CAST(elev AS DOUBLE) END"
    )
    return f"""
WITH {sqlgen.pixel_grid_cte()}
SELECT CAST(ix // 64 AS INT) AS tile_x, CAST(iy // 64 AS INT) AS tile_y,
       SUM({v}) AS sum_v
FROM pix GROUP BY 1, 2
"""


def _o_knn() -> str:
    return f"""
WITH {sqlgen.geocode_cte()},
qpts(query_id, word, qlon, qlat) AS (VALUES {fixtures.sql_points_values()}),
dists AS (
  SELECT p.query_id, g.doc_id,
    (g.lon - p.qlon) * (g.lon - p.qlon) + (g.lat - p.qlat) * (g.lat - p.qlat) AS dist2
  FROM geo g CROSS JOIN qpts p
),
ranked AS (
  SELECT query_id, doc_id, dist2,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist2, doc_id) AS rank
  FROM dists
)
SELECT query_id, CAST(rank AS INT) AS rank, doc_id, dist2
FROM ranked WHERE rank <= 5
"""


def _o_count_features() -> str:
    cross = sqlgen.pip_crossings_expr("g.lon", "g.lat")
    return f"""
WITH {sqlgen.geocode_cte()},
edges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
hits AS (
  SELECT g.doc_id
  FROM geo g CROSS JOIN edges
  GROUP BY g.doc_id
  HAVING SUM({cross}) % 2 = 1
)
SELECT d.lang, COUNT(*) AS n_docs
FROM documents d JOIN hits USING (doc_id)
WHERE d.lang IN ('en', 'de')
GROUP BY d.lang
"""


def _o_interp_average() -> str:
    ix, iy = sqlgen.raster_cell_exprs("g.lon", "g.lat")
    terms = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            nx = f"LEAST(GREATEST(ix + {dx}, 0), {RASTER_W - 1})"
            ny = f"LEAST(GREATEST(iy + {dy}, 0), {RASTER_H - 1})"
            terms.append(f"CAST({sqlgen.elev_expr(f'({nx})', f'({ny})')} AS DOUBLE)")
    total = " + ".join(terms)
    return f"""
WITH {sqlgen.geocode_cte()},
st AS (SELECT g.doc_id, {ix} AS ix, {iy} AS iy FROM geo g)
SELECT doc_id, ({total}) / CAST(9.0 AS DOUBLE) AS elev_avg3 FROM st
"""


def _o_subtiles_zones() -> str:
    from geokit_spark.oracle import geooracle

    return geooracle.subtiles_sql(zoom=15)


def _o_extract_clip() -> str:
    from geokit_spark.oracle import geooracle

    return geooracle.extract_clip_sql((6.05, 50.6, 6.25, 50.8))


def _o_connected_components() -> str:
    from geokit_spark.oracle import geooracle

    return geooracle.components_sql()


def _o_contours() -> str:
    from geokit_spark.oracle import geooracle

    return geooracle.contours_sql([400.0, 800.0, 1200.0])


def _o_extract_multi() -> str:
    from geokit_spark.sources.tiles import PATCH_X0, PATCH_X1, PATCH_Y0, PATCH_Y1

    ix, iy = sqlgen.raster_cell_exprs("g.lon", "g.lat")
    base = f"CAST({sqlgen.elev_expr(f'({ix})', f'({iy})')} AS DOUBLE)"
    inpatch = (
        f"({ix}) >= {PATCH_X0} AND ({ix}) < {PATCH_X1} "
        f"AND ({iy}) >= {PATCH_Y0} AND ({iy}) < {PATCH_Y1}"
    )
    return f"""
WITH {sqlgen.geocode_cte()}
SELECT g.doc_id,
  CASE WHEN {inpatch} THEN {base} + CAST('1000.0' AS DOUBLE) ELSE {base} END AS value
FROM geo g
"""


def _o_box_predicates() -> str:
    from geokit_spark.operators.predicates import sql_box_predicates

    return sql_box_predicates(1.0, 1.0, 3.0, 3.0)


def _o_box_predicates_boundary() -> str:
    from geokit_spark.operators.predicates import sql_box_predicates

    return sql_box_predicates(1.0, 0.0, 3.0, 1.0)


def _o_extract_feature() -> str:
    """The exactly-one extraction as SQL: literal zone-attribute rows,
    filtered to the same site_code (DuckDB enforces nothing about
    cardinality — the engine's !=1 error contract is pytest-pinned)."""
    rows = ",".join(
        f"({z['zone_id']},'{z['site_code']}',{z['year']},"
        f"'{z['designate']}',{len(z['verts'])})"
        for z in fixtures.ZONES
    )
    return f"""
WITH zattr(zone_id, site_code, year, designate, n_verts) AS (VALUES {rows})
SELECT zone_id, site_code, year, designate, n_verts
FROM zattr WHERE site_code = 'Z0042'
"""


def _o_mutate_vector() -> str:
    from geokit_spark.operators.mutate import sql_scale_zones

    return sql_scale_zones(1.1)


def _o_union_area_cells() -> str:
    return f"""
WITH {_zone_pixel_hits_sql('elev')},
upix AS (SELECT ix, iy FROM hits GROUP BY ix, iy)
SELECT COUNT(*) AS n_pix,
  CAST(COUNT(*) AS DOUBLE) * {d(PIX_DX)} * {d(PIX_DY)} AS union_area
FROM upix
"""


def _o_multimodal_meta() -> str:
    from geokit_spark.operators.multimodal import sql_multimodal_meta

    return sql_multimodal_meta()


def _o_multimodal_frames() -> str:
    from geokit_spark.operators.multimodal import sql_sample_frames

    return sql_sample_frames()


def _o_bisect() -> str:
    return f"""
WITH {sqlgen.geocode_cte()},
r AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (ORDER BY lon, doc_id) AS rnk,
    COUNT(*) OVER () AS n
  FROM geo
)
SELECT doc_id, CASE WHEN rnk <= n // 2 THEN 0 ELSE 1 END AS side FROM r
"""


def _o_text_features() -> str:
    from geokit_spark.oracle import textsql as ts

    return f"""
SELECT doc_id,
  CAST({ts.token_count()} AS INT) AS n_tokens,
  CAST({ts.stop_count()} AS INT) AS n_stop,
  {ts.quality_expr()} AS quality,
  {ts.lang_guess_expr()} AS lang_guess,
  {ts.fingerprint_expr()} AS fp
FROM documents
"""


def _o_dedup_exact() -> str:
    return """
SELECT md5(text) AS text_md5, COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc_id
FROM documents GROUP BY md5(text)
"""


def _o_ngram_jaccard() -> str:
    from geokit_spark.oracle import textsql as ts

    return f"""
WITH {ts.shingles_cte()}, {ts.candidate_pairs_sql()}
SELECT id_a, id_b, {ts.jaccard_expr()} AS jac
FROM cand
WHERE {ts.jaccard_expr()} >= CAST(0.6 AS DOUBLE)
"""


def _o_minhash_lsh() -> str:
    from geokit_spark.oracle import textsql as ts

    mh = ",\n    ".join(ts.minhash_cols())
    return f"""
WITH {ts.shingles_cte()},
sig AS (SELECT doc_id, s, {mh} FROM sh),
bands AS ({ts.band_keys_union('sig')}),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
withsh AS (
  SELECT c.id_a, c.id_b, sa.s AS sh_a, sb.s AS sh_b
  FROM cpairs c JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, {ts.jaccard_expr()} AS jac
FROM withsh WHERE {ts.jaccard_expr()} >= CAST(0.6 AS DOUBLE)
"""


def _o_pipeline_filter() -> str:
    from geokit_spark.operators.sampling import (
        SAMPLE_A, SAMPLE_B, SAMPLE_MOD, SAMPLE_PRIME,
    )
    from geokit_spark.oracle import textsql as ts

    langs = ", ".join(f"'{x}'" for x in PIPE_LANGS)
    h = (
        f"(((doc_id % {SAMPLE_PRIME}) * {SAMPLE_A} + {SAMPLE_B})"
        f" % {SAMPLE_MOD})"
    )
    return rf"""
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id
  FROM documents
  GROUP BY MD5(LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g'))))
),
k AS (SELECT d.* FROM documents d JOIN canon USING (doc_id))
SELECT doc_id, lang, n_chars,
  CAST(FLOOR(({ts.quality_expr()}) * CAST('1000.0' AS DOUBLE)) AS BIGINT)
    AS q_milli
FROM k
WHERE {ts.quality_expr()} > {d(PIPE_QUALITY_MIN)}
  AND {ts.lang_guess_expr()} IN ({langs})
  AND {h} < {int(PIPE_FRACTION * 1_000_000)}
"""


def _o_stratified_sample() -> str:
    from geokit_spark.operators.sampling import (
        SAMPLE_A, SAMPLE_B, SAMPLE_MOD, SAMPLE_PRIME,
    )

    cases = " ".join(
        f"WHEN '{k}' THEN {int(round(f * SAMPLE_MOD))}"
        for k, f in sorted(SAMPLE_FRACTIONS.items())
    )
    h = (
        f"(((doc_id % {SAMPLE_PRIME}) * {SAMPLE_A} + {SAMPLE_B})"
        f" % {SAMPLE_MOD})"
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE {h} < (CASE lang {cases} ELSE 0 END)
"""


def _o_embed_centroids() -> str:
    from geokit_spark.operators.similarity import EMB_DIM

    return f"""
SELECT label,
       CAST(r.range AS INT) AS pos,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(FLOOR(SUM(CAST(embedding[CAST(r.range AS INT) + 1] AS DOUBLE))
            / CAST(COUNT(*) AS DOUBLE)
            * CAST('10000.0' AS DOUBLE)) AS BIGINT) AS mean_q
FROM embeddings, range({EMB_DIM}) r
GROUP BY label, pos
"""


def _o_normalize_text() -> str:
    return r"""
SELECT doc_id,
       CAST(LENGTH(LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g')))) AS INT)
         AS n_norm,
       MD5(LOWER(TRIM(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_md5
FROM documents
"""


def _o_dedup_clusters() -> str:
    from geokit_spark.oracle import textsql as ts

    mh = ",\n    ".join(ts.minhash_cols())
    return f"""
WITH RECURSIVE {ts.shingles_cte()},
sig AS (SELECT doc_id, s, {mh} FROM sh),
bands AS ({ts.band_keys_union('sig')}),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
withsh AS (
  SELECT c.id_a, c.id_b, sa.s AS sh_a, sb.s AS sh_b
  FROM cpairs c JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b
),
pairs AS (
  SELECT id_a, id_b FROM withsh
  WHERE {ts.jaccard_expr()} >= CAST(0.6 AS DOUBLE)
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(n, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, reach.r FROM sym s JOIN reach ON s.b = reach.n
),
comp AS (SELECT n, MIN(r) AS root FROM reach GROUP BY n)
SELECT CAST(root AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n) AS BIGINT) AS canonical_doc_id
FROM comp GROUP BY root
"""


def _o_simhash() -> str:
    from geokit_spark.oracle import textsql as ts

    return f"""
WITH {ts.shingles_cte()}
SELECT doc_id, {ts.simhash_expr('s')} AS simhash FROM sh
"""


def _o_wkb_areas() -> str:
    from geokit_spark.operators.mutate import sql_zone_verts_values

    # shoelace over the literal quad vertices, same term order as the
    # WKB kernel's left-assoc accumulation
    area = (
        "((x1 * y2 - x2 * y1)"
        " + (x2 * y3 - x3 * y2)"
        " + (x3 * y4 - x4 * y3)"
        " + (x4 * y1 - x1 * y4)) / CAST(2.0 AS DOUBLE)"
    )
    return f"""
WITH zv(zone_id, x1, x2, x3, x4, y1, y2, y3, y4) AS (VALUES {sql_zone_verts_values()})
SELECT zone_id, abs({area}) AS area FROM zv
"""


def _o_location_dedup() -> str:
    return f"""
WITH {sqlgen.geocode_cte()},
r AS (
  SELECT DISTINCT CAST(FLOOR(lon * CAST('100000.0' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS lonr,
                  CAST(FLOOR(lat * CAST('100000.0' AS DOUBLE) + CAST('0.5' AS DOUBLE)) AS BIGINT) AS latr
  FROM geo
)
SELECT COUNT(*) AS n_locations FROM r
"""


def _o_lang_zone_cube() -> str:
    cross = sqlgen.pip_crossings_expr("c.lon", "c.lat", "e.x1", "e.y1", "e.x2", "e.y2")
    return f"""
WITH {sqlgen.geocode_cte()},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT g.doc_id, g.lon, g.lat, z.zone_id
  FROM geo g JOIN zbox z
    ON g.lon >= z.bxmin AND g.lon <= z.bxmax
   AND g.lat >= z.bymin AND g.lat <= z.bymax
),
hits AS (
  SELECT c.doc_id, c.zone_id
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.doc_id, c.zone_id, c.lon, c.lat
  HAVING SUM({cross}) % 2 = 1
),
joined AS (
  SELECT d.lang, h.zone_id FROM hits h JOIN documents d USING (doc_id)
)
SELECT COALESCE(lang, 'ALL') AS lang,
       COALESCE(CAST(zone_id AS VARCHAR), 'ALL') AS zone,
       COUNT(*) AS n_docs
FROM joined GROUP BY CUBE (lang, zone_id)
"""


def _o_simhash_near() -> str:
    from geokit_spark.oracle import textsql as ts

    sh_expr = ts.simhash_expr("s")
    return f"""
WITH {ts.shingles_cte()},
hs AS (SELECT doc_id, lang, n_chars, {sh_expr} AS h FROM sh),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS h_a, b.h AS h_b
  FROM hs a JOIN hs b
    ON a.lang = b.lang AND a.doc_id < b.doc_id
   AND abs(a.n_chars - b.n_chars) <= 30
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
"""


def _o_indicate_features() -> str:
    cross_r = sqlgen.pip_crossings_expr("p.px", "p.py")
    return f"""
WITH {sqlgen.pixel_grid_cte()},
redges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
rmask AS (
  SELECT p.ix, p.iy, p.px, p.py
  FROM pix p CROSS JOIN redges
  GROUP BY p.ix, p.iy, p.px, p.py
  HAVING SUM({cross_r}) % 2 = 1
),
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zattr(zone_id, site_code, year, designate, bxmin, bymin, bxmax, bymax) AS (
  VALUES {fixtures.sql_zone_attr_values()}
),
bsel AS (SELECT * FROM zattr WHERE designate = 'B'),
cov AS (
  SELECT m.ix, m.iy
  FROM rmask m JOIN bsel z
    ON m.px >= z.bxmin AND m.px <= z.bxmax
   AND m.py >= z.bymin AND m.py <= z.bymax
  JOIN zedges e ON e.zone_id = z.zone_id
  GROUP BY m.ix, m.iy, m.px, m.py, z.zone_id
  HAVING SUM({sqlgen.pip_crossings_expr("m.px", "m.py", "e.x1", "e.y1", "e.x2", "e.y2")}) % 2 = 1
),
covu AS (SELECT ix, iy FROM cov GROUP BY ix, iy)
SELECT (SELECT COUNT(*) FROM rmask) AS n_region_pix,
       (SELECT COUNT(*) FROM covu) AS n_covered,
       CAST((SELECT COUNT(*) FROM covu) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM rmask) AS DOUBLE) AS frac
"""


def _o_indicate_features_buffered() -> str:
    from geokit_spark.kernels.buffer import buffer_convex

    cross_r = sqlgen.pip_crossings_expr("p.px", "p.py")
    buffered = {
        z["zone_id"]: buffer_convex(z["verts"], BUFFER_DIST)
        for z in fixtures.ZONES
        if z["designate"] == "B"
    }
    zed = fixtures.sql_id_edges_values(buffered)
    boxes = []
    for zid, verts in buffered.items():
        b = fixtures.poly_bbox(verts)
        boxes.append(
            f"({zid},{d(b[0])},{d(b[1])},{d(b[2])},{d(b[3])})"
        )
    return f"""
WITH {sqlgen.pixel_grid_cte()},
redges(x1, y1, x2, y2) AS (VALUES {fixtures.sql_region_edges_values()}),
rmask AS (
  SELECT p.ix, p.iy, p.px, p.py
  FROM pix p CROSS JOIN redges
  GROUP BY p.ix, p.iy, p.px, p.py
  HAVING SUM({cross_r}) % 2 = 1
),
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {zed}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (VALUES {','.join(boxes)}),
cov AS (
  SELECT m.ix, m.iy
  FROM rmask m JOIN zbox z
    ON m.px >= z.bxmin AND m.px <= z.bxmax
   AND m.py >= z.bymin AND m.py <= z.bymax
  JOIN zedges e ON e.zone_id = z.zone_id
  GROUP BY m.ix, m.iy, m.px, m.py, z.zone_id
  HAVING SUM({sqlgen.pip_crossings_expr("m.px", "m.py", "e.x1", "e.y1", "e.x2", "e.y2")}) % 2 = 1
),
covu AS (SELECT ix, iy FROM cov GROUP BY ix, iy)
SELECT (SELECT COUNT(*) FROM rmask) AS n_region_pix,
       (SELECT COUNT(*) FROM covu) AS n_covered,
       CAST((SELECT COUNT(*) FROM covu) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM rmask) AS DOUBLE) AS frac
"""


def _o_indicate_features_buffered_holes() -> str:
    """Buffered-zones coverage against the DONUT region mask: rmask
    parity runs over ALL rings' edges (outer + holes); the buffered
    zone side is identical to _o_indicate_features_buffered (the
    buffer runs driver-side, so both engines see the same ring
    literals)."""
    from geokit_spark.kernels.buffer import buffer_convex

    cross_r = sqlgen.pip_crossings_expr("p.px", "p.py")
    buffered = {
        z["zone_id"]: buffer_convex(z["verts"], BUFFER_DIST)
        for z in fixtures.ZONES
        if z["designate"] == "B"
    }
    zed = fixtures.sql_id_edges_values(buffered)
    boxes = []
    for zid, verts in buffered.items():
        b = fixtures.poly_bbox(verts)
        boxes.append(
            f"({zid},{d(b[0])},{d(b[1])},{d(b[2])},{d(b[3])})"
        )
    redges = fixtures.sql_rings_edges_values(fixtures.REGION_HOLES_RINGS)
    return f"""
WITH {sqlgen.pixel_grid_cte()},
redges(x1, y1, x2, y2) AS (VALUES {redges}),
rmask AS (
  SELECT p.ix, p.iy, p.px, p.py
  FROM pix p CROSS JOIN redges
  GROUP BY p.ix, p.iy, p.px, p.py
  HAVING SUM({cross_r}) % 2 = 1
),
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {zed}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (VALUES {','.join(boxes)}),
cov AS (
  SELECT m.ix, m.iy
  FROM rmask m JOIN zbox z
    ON m.px >= z.bxmin AND m.px <= z.bxmax
   AND m.py >= z.bymin AND m.py <= z.bymax
  JOIN zedges e ON e.zone_id = z.zone_id
  GROUP BY m.ix, m.iy, m.px, m.py, z.zone_id
  HAVING SUM({sqlgen.pip_crossings_expr("m.px", "m.py", "e.x1", "e.y1", "e.x2", "e.y2")}) % 2 = 1
),
covu AS (SELECT ix, iy FROM cov GROUP BY ix, iy)
SELECT (SELECT COUNT(*) FROM rmask) AS n_region_pix,
       (SELECT COUNT(*) FROM covu) AS n_covered,
       CAST((SELECT COUNT(*) FROM covu) AS DOUBLE)
         / CAST((SELECT COUNT(*) FROM rmask) AS DOUBLE) AS frac
"""


def _o_indicate_values_buffered() -> str:
    from geokit_spark.operators.indicate import sql_classifier_expr

    radius = 2
    conds = []
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            if dx * dx + dy * dy > radius * radius:
                continue
            nx = f"(ix + {dx})"
            ny = f"(iy + {dy})"
            inb = (
                f"{nx} >= 0 AND {nx} < {RASTER_W} AND {ny} >= 0 AND {ny} < {RASTER_H}"
            )
            cls = sql_classifier_expr(
                INDICATE_DSL, f"({sqlgen.clc_expr(nx, ny)})"
            )
            conds.append(f"({inb} AND ({cls}))")
    dil = " OR ".join(conds)
    cross = sqlgen.pip_crossings_expr("c.px", "c.py", "e.x1", "e.y1", "e.x2", "e.y2")
    return f"""
WITH {sqlgen.pixel_grid_cte()},
pixd AS (
  SELECT ix, iy, px, py, CASE WHEN {dil} THEN 1 ELSE 0 END AS dil
  FROM pix
),
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT p.ix, p.iy, p.px, p.py, p.dil, z.zone_id
  FROM pixd p JOIN zbox z
    ON p.px >= z.bxmin AND p.px <= z.bxmax
   AND p.py >= z.bymin AND p.py <= z.bymax
),
hits AS (
  SELECT c.ix, c.iy, c.zone_id, ANY_VALUE(c.dil) AS dil
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.ix, c.iy, c.zone_id, c.px, c.py
  HAVING SUM({cross}) % 2 = 1
)
SELECT zone_id,
  COUNT(*) AS n_pix,
  CAST(SUM(dil) AS BIGINT) AS n_match,
  CAST(SUM(dil) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS frac
FROM hits GROUP BY zone_id
"""


def _o_embed_topk() -> str:
    from geokit_spark.oracle import textsql as ts

    return f"""
WITH n AS (
  SELECT vec_id, embedding, {ts.norm_expr('embedding')} AS nrm FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
    {ts.dot_expr('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS sim
  FROM n a CROSS JOIN n b WHERE a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT vec_id, CAST(rank AS INT) AS rank, neighbor_id
FROM ranked WHERE rank <= 5
"""


def _o_embed_near_dup() -> str:
    from geokit_spark.oracle import annsql

    return annsql.near_dup_sql(threshold=0.2)


def _o_ann_topk() -> str:
    from geokit_spark.oracle import annsql

    return annsql.ann_topk_sql(k=5, probe_bits=1)


def _o_sketch_merge() -> str:
    from geokit_spark.operators.dedup import SKETCH_M

    k = 16
    est = (
        "CASE WHEN len({s}) < %d THEN len({s}) "
        "ELSE (%d - 1) * %d // {s}[%d] END" % (k, k, SKETCH_M, k)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
h AS (
  SELECT DISTINCT doc_id % 2 AS half, lang,
    CAST(('0x' || substring(md5(tok), 1, 12)) AS BIGINT) AS h
  FROM toks
),
rn AS (
  SELECT half, lang, h, ROW_NUMBER() OVER (
    PARTITION BY half, lang ORDER BY h
  ) AS rn
  FROM (SELECT DISTINCT half, lang, h FROM h) t
),
halves AS (
  SELECT lang,
    list(CASE WHEN half = 0 THEN h END ORDER BY h)
      FILTER (half = 0 AND rn <= {k}) AS sa,
    list(CASE WHEN half = 1 THEN h END ORDER BY h)
      FILTER (half = 1 AND rn <= {k}) AS sb
  FROM rn GROUP BY lang
),
full_rn AS (
  SELECT lang, h, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY h
  ) AS rn
  FROM (SELECT DISTINCT lang, h FROM h) t
),
direct AS (
  SELECT lang, list(h ORDER BY h) AS sd
  FROM full_rn WHERE rn <= {k} GROUP BY lang
),
m AS (
  SELECT hv.lang,
    list_sort(list_distinct(list_concat(
      COALESCE(hv.sa, []), COALESCE(hv.sb, [])
    )))[1:{k}] AS sm,
    d.sd
  FROM halves hv JOIN direct d USING (lang)
)
SELECT lang,
  CAST({est.format(s='sm')} AS BIGINT) AS est_merged,
  CAST({est.format(s='sd')} AS BIGINT) AS est_direct,
  sm = sd AS identical
FROM m
"""


def _o_skew_report() -> str:
    cx, cy = sqlgen.cell_exprs()
    return f"""
WITH {sqlgen.geocode_cte()},
counts AS (
  SELECT {cx} AS cell_x, {cy} AS cell_y,
    CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM geo GROUP BY 1, 2
),
st AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
    CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM counts
),
tk AS (
  SELECT *, ROW_NUMBER() OVER (
    ORDER BY n_docs DESC, cell_x ASC, cell_y ASC
  ) AS rank
  FROM counts
)
SELECT CAST(rank AS BIGINT) AS rank, cell_x, cell_y, n_docs,
  CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
  CAST(n_docs * n_keys AS DOUBLE) / CAST(total AS DOUBLE)
    AS imbalance
FROM tk, st WHERE rank <= 10
"""


def _o_distinct_sketch() -> str:
    from geokit_spark.operators.dedup import SKETCH_M

    per_k = "\n  UNION ALL\n  ".join(
        f"SELECT lang, {k} AS k, MAX(h) AS hk,"
        f" CAST(COUNT(*) AS BIGINT) AS n_kept"
        f" FROM rn WHERE rn <= {k} GROUP BY lang"
        for k in (16, 64)
    )
    return f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT DISTINCT lang,
    CAST(('0x' || substring(md5(tok), 1, 12)) AS BIGINT) AS h
  FROM toks
),
rn AS (
  SELECT lang, h,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM h
),
kept AS (
  {per_k}
),
est AS (
  SELECT lang, k,
    CAST(CASE WHEN n_kept < k THEN n_kept
      ELSE (k - 1) * {SKETCH_M} // hk END AS BIGINT) AS est_distinct
  FROM kept
),
ex AS (
  SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
  FROM toks GROUP BY lang
)
SELECT ex.lang, k, exact_distinct, est_distinct
FROM ex JOIN est USING (lang)
"""


def _o_blocklist() -> str:
    return """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
)
SELECT doc_id,
  CAST(len(list_filter(w, t -> t IN ('lineitem', 'vector')))
    AS BIGINT) AS n_blocked,
  CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(len(list_filter(w, t -> t IN ('lineitem', 'vector')))
    AS DOUBLE) / CAST(len(w) AS DOUBLE) AS blocked_frac,
  len(list_filter(w, t -> t IN ('lineitem', 'vector'))) = 0 AS keep
FROM toks
"""


def _o_training_mix() -> str:
    from geokit_spark.operators.quality import (
        DECON_EVAL_MOD,
        _email_cond,
        _phone_cond,
    )
    from geokit_spark.oracle.qualitysql import PII_INJECT_DUCK
    from geokit_spark.oracle.textsql import token_count

    em = _email_cond("t")
    ph = _phone_cond("t")
    red = (
        f"array_to_string(list_transform(string_split(text, ' '),"
        f" t -> CASE WHEN {em} THEN '<EMAIL>'"
        f" WHEN {ph} THEN '<PHONE>' ELSE t END), ' ')"
    )
    # same gram width / eval mod as q_training_mix — parameterized
    # from the shared constants so the pair cannot silently drift
    n1 = _TRAINING_MIX_N - 1
    gram = f"array_to_string(w[i:i + {n1}], ' ')"
    unn = f"UNNEST(range(1, GREATEST(len(w) - {n1}, 0) + 1)) AS t(i)"
    return f"""
WITH injected AS (
  SELECT doc_id, lang, {PII_INJECT_DUCK} AS text FROM documents
),
words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM injected
),
eval_grams AS (
  SELECT DISTINCT {gram} AS gram FROM words, {unn}
  WHERE doc_id % {DECON_EVAL_MOD} = 0
),
doc_grams AS (
  SELECT DISTINCT doc_id, {gram} AS gram FROM words, {unn}
),
bad AS (
  SELECT DISTINCT g.doc_id
  FROM doc_grams g JOIN eval_grams e USING (gram)
),
clean AS (
  SELECT i.doc_id, i.lang, i.text
  FROM injected i LEFT JOIN bad b USING (doc_id)
  WHERE b.doc_id IS NULL
),
red AS (
  SELECT doc_id, lang, {red} AS text FROM clean
),
agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CAST({token_count()} AS BIGINT)) AS BIGINT)
      AS total_tokens
  FROM red GROUP BY lang
),
num AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE))) AS BIGINT)
    AS w_num
  FROM agg
)
SELECT lang, n_docs, total_tokens, w_num,
  CAST(w_num AS DOUBLE) / CAST(SUM(w_num) OVER () AS DOUBLE) AS weight,
  CAST((1000000000 * w_num) // (SUM(w_num) OVER ()) AS BIGINT)
    AS alloc_tokens
FROM num
"""


def _o_media_router() -> str:
    return """
SELECT doc_id,
  CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
    WHEN 2 THEN 'gif' WHEN 3 THEN 'wav' WHEN 4 THEN 'mp4'
    ELSE 'webp' END AS fmt,
  CAST(CASE doc_id % 6
    WHEN 3 THEN 8000 * (1 + doc_id % 5)
    WHEN 4 THEN 1000 * (1 + doc_id % 4)
    ELSE 16 + (doc_id * 13) % 1000 END AS BIGINT) AS dim1,
  CAST(CASE doc_id % 6
    WHEN 3 THEN 100 + (doc_id * 17) % 4000
    WHEN 4 THEN 1000 + (doc_id * 29) % 100000
    ELSE 16 + (doc_id * 7) % 800 END AS BIGINT) AS dim2
FROM documents
"""


def _o_video_meta() -> str:
    return """
WITH p AS (
  SELECT doc_id,
    1000 * (1 + doc_id % 4) AS timescale,
    1000 + (doc_id * 29) % 100000 AS duration
  FROM documents
)
SELECT doc_id,
  CAST(timescale AS BIGINT) AS timescale,
  CAST(duration AS BIGINT) AS duration,
  CAST((duration * 1000) // timescale AS BIGINT) AS duration_ms
FROM p
"""


def _o_audio_meta() -> str:
    return """
WITH p AS (
  SELECT doc_id,
    1 + doc_id % 2 AS channels,
    8000 * (1 + doc_id % 5) AS sample_rate,
    8 * (1 + doc_id % 3) AS bits,
    100 + (doc_id * 17) % 4000 AS n_samples
  FROM documents
)
SELECT doc_id,
  CAST(channels AS BIGINT) AS channels,
  CAST(sample_rate AS BIGINT) AS sample_rate,
  CAST(bits AS BIGINT) AS bits,
  CAST(n_samples AS BIGINT) AS n_samples,
  CAST((n_samples * 1000) // sample_rate AS BIGINT) AS duration_ms
FROM p
"""


def _o_image_meta() -> str:
    return """
SELECT doc_id,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
    ELSE 'gif' END AS fmt,
  CAST(16 + (doc_id * 13) % 1000 AS BIGINT) AS width,
  CAST(16 + (doc_id * 7) % 800 AS BIGINT) AS height
FROM documents
"""


def _o_rag_chunks() -> str:
    # chunk_tokens=32, overlap=8 -> stride 24; DuckDB list slices are
    # 1-based INCLUSIVE (the gram-helper convention), Spark slice() is
    # (start, length) — both take 32 tokens from i*24
    return """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
nn AS (SELECT doc_id, w, len(w) AS n FROM words),
ch AS (
  SELECT doc_id, i AS chunk_id, i * 24 AS start_tok,
    LEAST(32, n - i * 24) AS n_tok,
    md5(array_to_string(w[i * 24 + 1 : i * 24 + 32], ' '))
      AS chunk_md5
  FROM nn, UNNEST(range(0,
    CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END
  )) AS t(i)
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(n_tok AS BIGINT) AS n_tok, chunk_md5
FROM ch
"""


def _o_snapshot_compact() -> str:
    # the oracle derives every count/sum from divisibility; the Spark
    # side earns them through the real manifest protocol (rewrite,
    # chain-walk incremental reads, idempotent retries)
    return """
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS s
  FROM documents
),
s2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE doc_id % 3 = 2
),
s97 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS s
  FROM documents WHERE doc_id % 97 = 1
)
SELECT 3 AS version, base.n AS n_rows, base.s AS sum_doc_id,
  s2.n AS inc_rows FROM base, s2
UNION ALL
SELECT 4, base.n, base.s, s2.n FROM base, s2
UNION ALL
SELECT 5, base.n + s97.n, base.s + s97.s, s97.n FROM base, s97
"""


def _o_corpus_shuffle() -> str:
    from geokit_spark.operators.packing import (
        SHUF_A, SHUF_B, SHUF_C, SHUF_MOD, SHUF_PRIME,
    )

    return f"""
WITH keyed AS (
  SELECT doc_id,
    ((doc_id % {SHUF_PRIME}) * {SHUF_A}
     + (doc_id // {SHUF_PRIME}) * {SHUF_B}
     + {SHUF_C}) % {SHUF_MOD} AS skey
  FROM documents
)
SELECT doc_id,
  CAST(skey % 16 AS BIGINT) AS shard,
  CAST(ROW_NUMBER() OVER (
    PARTITION BY skey % 16 ORDER BY skey, doc_id
  ) - 1 AS BIGINT) AS pos
FROM keyed
"""


def _o_mix_weights() -> str:
    from geokit_spark.oracle.textsql import token_count

    return f"""
WITH agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(CAST({token_count()} AS BIGINT)) AS BIGINT)
      AS total_tokens
  FROM documents GROUP BY lang
),
num AS (
  SELECT *, CAST(FLOOR(SQRT(CAST(total_tokens AS DOUBLE))) AS BIGINT)
    AS w_num
  FROM agg
)
SELECT lang, n_docs, total_tokens, w_num,
  CAST(w_num AS DOUBLE) / CAST(SUM(w_num) OVER () AS DOUBLE) AS weight,
  CAST((1000000000 * w_num) // (SUM(w_num) OVER ()) AS BIGINT)
    AS alloc_tokens
FROM num
"""


def _o_pii_scrub() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.pii_scrub_sql()


def _o_decontaminate() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.decontaminate_sql(n=5, eval_mod=97)


def _o_seq_packing() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.pack_sequences_sql(context_len=512, shard_docs=256)


def _o_gopher_repetition() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.gopher_repetition_sql()


def _o_quality_filter() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.quality_filter_sql()


def _o_vocab_topk() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.vocab_topk_sql(k=50)


def _o_span_dedup() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.span_dedup_sql(min_df=3)


def _o_substring_dedup() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.substring_dedup_sql()


def _o_bpe_tokens() -> str:
    from geokit_spark.oracle import bpesql

    return bpesql.bpe_tokens_sql()


def _o_seq_packing_bpe() -> str:
    from geokit_spark.oracle import bpesql

    return bpesql.bpe_pack_sql(context_len=512, shard_docs=256)


def _o_classifier_scores() -> str:
    from geokit_spark.oracle import qualitysql

    return qualitysql.classifier_scores_sql()


def _o_pages_extract() -> str:
    from geokit_spark.oracle import pagesql

    return pagesql.pages_extract_sql()


def _o_pages_pip() -> str:
    from geokit_spark.oracle import pagesql

    return pagesql.pages_pip_sql(
        sqlgen.pip_crossings_expr,
        sqlgen.geocode_cte,
        fixtures.sql_region_edges_values,
    )


def _o_ann_topk_bucketed() -> str:
    # same candidate semantics as the fold path with probe_bits=0:
    # the bucketed operator's per-bucket partial top-k union provably
    # contains the global top-k (any same-bucket neighbor ranking
    # <= k globally ranks <= k inside that bucket too)
    from geokit_spark.oracle import annsql

    return annsql.ann_topk_sql(k=5, probe_bits=0)


def _o_ivf_topk() -> str:
    from geokit_spark.oracle import annsql

    return annsql.ivf_topk_sql(k=5)


def _o_events_daily() -> str:
    # Spark window('ts', '1 day') buckets align to epoch-day boundaries
    # == date_trunc('day', ts) for UTC timestamps
    return """
SELECT date_trunc('day', ts) AS window_start, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def _o_boilerplate_ngrams() -> str:
    from geokit_spark.operators.dedup import BOILER_DF, BOILER_N

    n = BOILER_N
    return f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         md5(array_to_string(w[i:i + {n - 1}], ' ')) AS ngram_md5
  FROM words, UNNEST(range(1, GREATEST(len(w) - {n - 1}, 0) + 1)) AS t(i)
),
hot AS (
  SELECT ngram_md5
  FROM (SELECT ngram_md5, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY 1)
  WHERE df >= {BOILER_DF}
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
  FROM grams WHERE ngram_md5 IN (SELECT ngram_md5 FROM hot)
  GROUP BY doc_id
),
totals AS (
  SELECT doc_id,
         CAST(GREATEST(len(string_split(text, ' ')) - {n - 1}, 0) AS BIGINT)
           AS n_ngrams
  FROM documents
)
SELECT t.doc_id, t.n_ngrams,
       CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
       CASE WHEN t.n_ngrams > 0 THEN
         CAST(COALESCE(p.n_boiler, 0) AS DOUBLE) / CAST(t.n_ngrams AS DOUBLE)
       END AS boiler_ratio
FROM totals t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
"""


def _o_geo_dedup() -> str:
    from geokit_spark.oracle import textsql as ts

    cross = sqlgen.pip_crossings_expr("c.lon", "c.lat", "e.x1", "e.y1",
                                      "e.x2", "e.y2")
    mh = ",\n    ".join(ts.minhash_cols())
    return f"""
WITH {sqlgen.geocode_cte()},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT g.doc_id, g.lon, g.lat, z.zone_id
  FROM geo g JOIN zbox z
    ON g.lon >= z.bxmin AND g.lon <= z.bxmax
   AND g.lat >= z.bymin AND g.lat <= z.bymax
),
hits AS (
  SELECT c.doc_id, c.zone_id
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.doc_id, c.zone_id, c.lon, c.lat
  HAVING SUM({cross}) % 2 = 1
),
{ts.shingles_cte()},
sig AS (SELECT doc_id, s, {mh} FROM sh),
bands AS ({ts.band_keys_union('sig')}),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
withsh AS (
  SELECT c.id_a, c.id_b, sa.s AS sh_a, sb.s AS sh_b
  FROM cpairs c JOIN sh sa ON sa.doc_id = c.id_a
                JOIN sh sb ON sb.doc_id = c.id_b
),
lshp AS (
  SELECT id_a, id_b FROM withsh
  WHERE {ts.jaccard_expr()} >= CAST(0.6 AS DOUBLE)
),
per_zone AS (
  SELECT zone_id, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM hits GROUP BY zone_id
),
dupz AS (
  SELECT ha.zone_id, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
  FROM lshp p
  JOIN hits ha ON ha.doc_id = p.id_a
  JOIN hits hb ON hb.doc_id = p.id_b AND hb.zone_id = ha.zone_id
  GROUP BY ha.zone_id
)
SELECT z.zone_id, z.n_docs,
       CAST(COALESCE(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs
FROM per_zone z LEFT JOIN dupz d USING (zone_id)
"""


def _corpus_funnel_ctes(crawl_body: str) -> str:
    """The oracle mirror of operators/pipeline.corpus_funnel as a CTE
    chain (crawl -> urls -> ids -> qf -> kept -> canon -> geo ->
    zedges/zbox/cand -> hits), parameterized by the crawl relation
    body so both the full-corpus and the per-snapshot-slice oracles
    share one mirror."""
    from geokit_spark.oracle.qualitysql import quality_filter_sql

    cross = sqlgen.pip_crossings_expr("c.lon", "c.lat", "e.x1", "e.y1",
                                      "e.x2", "e.y2")
    return f"""crawl AS ({crawl_body}),
urls AS (
  SELECT 'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR)
           AS url
  FROM crawl
),
ids AS (
  SELECT CAST(string_split(url, '/')[-1] AS BIGINT) AS doc_id FROM urls
),
qf AS ({quality_filter_sql(relation="crawl")}),
kept AS (
  SELECT c.doc_id, c.text, c.lang, q.n_words
  FROM ids i
  JOIN crawl c USING (doc_id)
  JOIN qf q ON q.doc_id = c.doc_id
  WHERE q.keep
),
canon AS (
  SELECT MIN(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
         MIN(n_words) AS n_words
  FROM kept GROUP BY md5(text)
),
{sqlgen.geocode_cte(source="canon")},
zedges(zone_id, x1, y1, x2, y2) AS (VALUES {fixtures.sql_zone_edges_values()}),
zbox(zone_id, bxmin, bymin, bxmax, bymax) AS (
  SELECT zone_id, MIN(LEAST(x1, x2)), MIN(LEAST(y1, y2)),
         MAX(GREATEST(x1, x2)), MAX(GREATEST(y1, y2))
  FROM zedges GROUP BY zone_id
),
cand AS (
  SELECT g.doc_id, g.lon, g.lat, z.zone_id
  FROM geo g JOIN zbox z
    ON g.lon >= z.bxmin AND g.lon <= z.bxmax
   AND g.lat >= z.bymin AND g.lat <= z.bymax
),
hits AS (
  SELECT c.doc_id, c.zone_id
  FROM cand c JOIN zedges e USING (zone_id)
  GROUP BY c.doc_id, c.zone_id, c.lon, c.lat
  HAVING SUM({cross}) % 2 = 1
)"""


def _o_corpus_pipeline() -> str:
    ctes = _corpus_funnel_ctes(
        f"""
  SELECT doc_id, text, lang, source FROM documents
  UNION ALL
  SELECT doc_id + {_REVISIT_OFF}, text, lang, source FROM documents
"""
    )
    return f"""
WITH {ctes}
SELECT h.zone_id, c.lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(c.n_words) AS BIGINT) AS sum_words
FROM hits h JOIN canon c USING (doc_id)
GROUP BY h.zone_id, c.lang
"""


def _o_corpus_incremental() -> str:
    branches = []
    for v in (1, 2, 3):
        ctes = _corpus_funnel_ctes(
            f"SELECT doc_id, text, lang, source FROM documents "
            f"WHERE doc_id % 3 = {v - 1}"
        )
        branches.append(
            f"""SELECT * FROM (
WITH {ctes},
sub AS (
  SELECT h.zone_id, c.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(c.n_words) AS BIGINT) AS sum_words
  FROM hits h JOIN canon c USING (doc_id)
  GROUP BY h.zone_id, c.lang
)
SELECT CAST({v} AS INTEGER) AS version,
  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
  CAST(SUM(sum_words) AS BIGINT) AS sum_words,
  CAST(COUNT(*) AS BIGINT) AS n_zone_langs
FROM sub
)"""
        )
    return "\nUNION ALL\n".join(branches)


def _o_stream_dedup() -> str:
    return """
SELECT text_md5, CAST(1 AS BIGINT) AS n_kept
FROM (SELECT DISTINCT md5(text) AS text_md5 FROM documents)
"""


def _o_lineage_resume() -> str:
    """Python-computed golden of the lineage table: the same md5-JSON
    digest formula (plans.lineage.row_digest_col) over the same
    closed-form workload, entirely independent of Spark."""
    import hashlib

    rows: dict[int, int] = {}
    sums: dict[int, int] = {}
    for i in range(_LINEAGE_N):
        c = i % _LINEAGE_CELLS
        v = _lineage_payload(i)
        dg = int(
            hashlib.md5(f'{{"v":{v}}}'.encode()).hexdigest()[:15], 16
        )
        rows[c] = rows.get(c, 0) + 1
        sums[c] = (sums.get(c, 0) + dg) % (1 << 61)
    vals = ",".join(
        f"({c},{rows[c]},{sums[c]},TRUE)" for c in sorted(rows)
    )
    return f"""
WITH golden(cell_id, row_count, checksum, ok) AS (VALUES {vals})
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(row_count AS BIGINT) AS row_count,
       CAST(checksum AS BIGINT) AS checksum, ok
FROM golden
"""


def oracle_sql() -> dict[str, str]:
    return {
        "substring_dedup": _o_substring_dedup(),
        "bpe_tokens": _o_bpe_tokens(),
        "seq_packing_bpe": _o_seq_packing_bpe(),
        "classifier_scores": _o_classifier_scores(),
        "geocode_cells": _o_geocode_cells(),
        "cell_counts": _o_cell_counts(),
        "pip_region": _o_pip_region(),
        "pip_region2": _o_pip_region2(),
        "pip_zones_join": _o_pip_zones_join(),
        "pages_extract": _o_pages_extract(),
        # intentionally the SAME oracle text as pages_extract: the JVM
        # extractor variant must reproduce the byte kernel's audit
        # bit-for-bit (n_byte_exact == n_pages through a different
        # execution path)
        "pages_extract_sql": _o_pages_extract(),
        "pages_pip": _o_pages_pip(),
        "media_router": _o_media_router(),
        "video_meta": _o_video_meta(),
        "sketch_merge": _o_sketch_merge(),
        "skew_report": _o_skew_report(),
        "distinct_sketch": _o_distinct_sketch(),
        "blocklist": _o_blocklist(),
        "training_mix": _o_training_mix(),
        "audio_meta": _o_audio_meta(),
        "image_meta": _o_image_meta(),
        "rag_chunks": _o_rag_chunks(),
        "snapshot_compact": _o_snapshot_compact(),
        "corpus_shuffle": _o_corpus_shuffle(),
        "mix_weights": _o_mix_weights(),
        "pii_scrub": _o_pii_scrub(),
        "decontaminate": _o_decontaminate(),
        "seq_packing": _o_seq_packing(),
        "corpus_pipeline": _o_corpus_pipeline(),
        "corpus_incremental": _o_corpus_incremental(),
        "mirror_clusters": _o_mirror_clusters(),
        "url_filter": _wg.url_filter_sql(),
        "domain_cap": _wg.domain_cap_sql(),
        "link_depth": _wg.link_depth_sql(),
        "noindex_filter": _wg.noindex_filter_sql(),
        "anchor_stats": _wg.anchor_stats_sql(),
        "host_graph": _wg.host_graph_sql(),
        "snapshot_reads": _wg.snapshot_reads_sql(),
        "url_canonical": _wg.url_canonical_sql(),
        "pages_latest": _wg.pages_latest_sql(),
        "host_domains": _wg.host_domains_sql(),
        "host_locality": _wg.host_locality_sql(
            sqlgen.geocode_cte(), sqlgen.grid_cell_exprs("g.lon", "g.lat")
        ),
        "page_links": _wg.page_links_sql(),
        "pagerank": _wg.pagerank_sql(iters=3),
        "gopher_repetition": _o_gopher_repetition(),
        "quality_filter": _o_quality_filter(),
        "vocab_topk": _o_vocab_topk(),
        "span_dedup": _o_span_dedup(),
        "ann_topk_bucketed": _o_ann_topk_bucketed(),
        "pip_zones_holes": _o_pip_zones_holes(),
        "extract_values": _o_extract_values(),
        "interp_bilinear": _o_interp_bilinear(),
        "interp_cubic": _o_interp_cubic(),
        "gradient_points": _o_gradient_points(),
        "gradient_raster": _o_gradient_raster(),
        "gradient_octants": _o_gradient_octants(),
        "zonal_stats": _o_zonal_stats(),
        "rasterize_zones": _o_rasterize_zones(),
        "rasterize_all_touched": _o_rasterize_all_touched(),
        "region_mask_area": _o_region_mask_area(),
        "indicate_values": _o_indicate_values(),
        "kernel_max3": _o_kernel_max3(),
        "warp_average": _o_warp_average(),
        "warp_near": _o_warp_near(),
        "warp_bilinear": _o_warp_bilinear(),
        "warp_cubic": _o_warp_stencil4("cubic"),
        "warp_lanczos": _o_warp_lanczos(),
        "warp_cutline": _o_warp_cutline(),
        "warp_cubicspline": _o_warp_stencil4("cubicspline"),
        "warp_stats": _o_warp_stats(),
        "mosaic_combine": _o_mosaic_combine(),
        "knn": _o_knn(),
        "count_features": _o_count_features(),
        "interp_average": _o_interp_average(),
        # subtiles / clip / components / contours are not
        # SQL-expressible; their oracles are golden constant tables
        # derived by independent driver-side implementations
        # (oracle.geooracle) — fixture/raster-only, valid at any sf
        "subtiles_zones": _o_subtiles_zones(),
        "extract_clip": _o_extract_clip(),
        "extract_clip_concave": geooracle.extract_clip_concave_sql(
            fixtures.CONCAVE_CLIP_VERTS
        ),
        "pip_region_holes": _o_pip_region_holes(),
        "extract_clip_holes": geooracle.extract_clip_holes_sql(
            fixtures.REGION_HOLES_RINGS
        ),
        "lines_in_region": _o_lines_in_region(),
        "rasterize_lines": _o_rasterize_lines(),
        "stream_dedup_watermark": _o_stream_dedup(),
        "line_lengths": _o_line_lengths(),
        "token_classes": _o_token_classes(),
        "line_crossings": _o_line_crossings(),
        "region_mask_area_holes": _o_region_mask_area_holes(),
        "srs_transform_lcc": geooracle.srs_transform_lcc_sql(
            fixtures.ZONES
        ),
        "srs_transform_omerc": geooracle.srs_transform_omerc_sql(
            fixtures.ZONES
        ),
        "srs_transform_world": geooracle.srs_transform_world_sql(
            fixtures.ZONES
        ),
        "bm25_scores": __import__(
            "geokit_spark.operators.retrieval", fromlist=["x"]
        ).bm25_oracle_sql(),
        "union_geom": geooracle.union_geom_sql(
            [z["verts"] for z in fixtures.ZONES]
        ),
        "boilerplate_ngrams": _o_boilerplate_ngrams(),
        "contour_polygons": geooracle.contour_polygons_sql(
            [400.0, 800.0, 1200.0]
        ),
        "geo_dedup": _o_geo_dedup(),
        "warp_scale_up": _o_warp_scale_up(),
        "morton_cells": _o_morton_cells(),
        "events_sessions": _o_events_sessions(),
        "multimodal_container": __import__(
            "geokit_spark.operators.multimodal",
            fromlist=["sql_container_roundtrip"],
        ).sql_container_roundtrip(),
        "extract_window": _o_extract_window(),
        "connected_components": _o_connected_components(),
        "contours": _o_contours(),
        "extract_multi": _o_extract_multi(),
        "box_predicates": _o_box_predicates(),
        "mutate_vector": _o_mutate_vector(),
        "union_area_cells": _o_union_area_cells(),
        "multimodal_meta": _o_multimodal_meta(),
        "multimodal_frames": _o_multimodal_frames(),
        "contour_lines": geooracle.contour_lines_sql(
            [400.0, 800.0, 1200.0]
        ),
        "sieve": geooracle.sieve_sql(50),
        "bisect": _o_bisect(),
        "text_features": _o_text_features(),
        "dedup_exact": _o_dedup_exact(),
        "ngram_jaccard": _o_ngram_jaccard(),
        "minhash_lsh": _o_minhash_lsh(),
        "dedup_clusters": _o_dedup_clusters(),
        "stratified_sample": _o_stratified_sample(),
        "pipeline_filter": _o_pipeline_filter(),
        "embed_centroids": _o_embed_centroids(),
        "normalize_text": _o_normalize_text(),
        "simhash": _o_simhash(),
        "simhash_near": _o_simhash_near(),
        "indicate_features": _o_indicate_features(),
        "indicate_features_buffered": _o_indicate_features_buffered(),
        "indicate_features_buffered_holes": _o_indicate_features_buffered_holes(),
        "box_predicates_boundary": _o_box_predicates_boundary(),
        "extract_feature": _o_extract_feature(),
        "indicate_values_buffered": _o_indicate_values_buffered(),
        "lang_zone_cube": _o_lang_zone_cube(),
        "wkb_areas": _o_wkb_areas(),
        "srs_transform": geooracle.srs_transform_sql(fixtures.ZONES),
        "polygonize": geooracle.polygonize_sql(),
        "geom_ops": geooracle.geom_ops_sql(
            fixtures.REGION_VERTS, fixtures.ZONES
        ),
        "location_dedup": _o_location_dedup(),
        "embed_topk": _o_embed_topk(),
        "ann_topk": _o_ann_topk(),
        "ivf_topk": _o_ivf_topk(),
        "embed_near_dup": _o_embed_near_dup(),
        "events_daily": _o_events_daily(),
        "stream_dedup": _o_stream_dedup(),
        "lineage_resume": _o_lineage_resume(),
    }
