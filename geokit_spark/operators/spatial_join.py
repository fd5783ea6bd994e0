"""Two-phase spatial joins: cell-equijoin prefilter + exact refine.

Physical shape (the scale story):

  points ──cell_id── (pure JVM arithmetic, codegen)
         ⋈ broadcast{cell_id → polygon candidates}      (hash join, no shuffle)
         ──refine──► exact ray-casting PIP, Arrow-batched pandas UDF,
                     applied ONLY to boundary-cell rows

At 1000 executors the broadcast side stays tiny (cells × candidate
ids); the points side never shuffles for a semi-join. Skewed hot cells
are irrelevant here (map-side work only); they matter for groupBy
stages, where AQE + salting handle them (see operators.knn and bench).

The polygon side is a PARAMETER everywhere (vertex lists / feature
dicts), matching the reference contract where any geometry can filter
any layer (extractFeatures(geom=...), vector.py:290-455). The aachen
analogs (fixtures.REGION_VERTS / fixtures.ZONES) are passed in by thin
wrappers, not closed over by the operators.

Semantics mirror the reference's extractFeatures(geom=...) /
countFeatures spatial semi-join (vector.py:172-202, 290-455) and the
applyGeopandasMethod("sjoin") general join (vector.py:1851-1901).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fixtures
from ..constants import JOIN_GRID_N, XMIN, XSPAN, YMIN, YSPAN
from ..functions.geo import join_cell_id, with_geocode
from ..kernels.cells import (
    BOUNDARY,
    IN,
    classify_covering_cells,
    classify_subcells,
)
from ..kernels.pip import as_rings, points_in_poly_rings

# adaptive resolution refinement (north rule): boundary cells of the
# coarse join grid are re-classified at REFINE x finer resolution, so
# the exact-PIP UDF only sees the fine boundary band
REFINE = 8
FINE_N = JOIN_GRID_N * REFINE


# Above this ring size the unrolled JVM crossing test blows the
# whole-stage-codegen budget when fused into the broadcast join
# (measured on this box: 4-vertex zones codegen fine and run 2.8x
# faster than the UDF; a 24-vertex region falls out of codegen and
# runs 3x slower) — larger rings take the Arrow-UDF boundary band.
_JVM_PIP_MAX_VERTS = 12


def _open(verts):
    """Open ring (shared contract: kernels.geom_ops._open_ring)."""
    from ..kernels.geom_ops import _open_ring

    return _open_ring(verts)


def _verts_key(verts) -> tuple:
    """Cache key for a polygon parameter (single ring or ring list)."""
    return tuple(
        tuple((float(x), float(y)) for x, y in ring)
        for ring in as_rings(verts)
    )


def _polys_key(polys: dict) -> tuple:
    return tuple(sorted((int(pid), _verts_key(v)) for pid, v in polys.items()))


def pip_udf(verts):
    """Vectorized exact-PIP pandas UDF for ONE polygon (single ring or
    ring list with holes), closing over its vertex lists (tiny;
    shipped with the serialized closure — the broadcast-side of the
    two-phase join)."""
    rings = [
        [(float(x), float(y)) for x, y in ring] for ring in as_rings(verts)
    ]

    @F.pandas_udf(T.BooleanType())
    def _udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
        inside = points_in_poly_rings(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), rings
        )
        return pd.Series(inside)

    # nondeterministic marking is a PLAN fence, not a semantics change
    # (the test is a pure function): without it the optimizer pushes
    # the filter UDF BELOW the broadcast join and the cell_class
    # prefilter, so EVERY point crosses into Python instead of the
    # boundary band (measured at 80M rows: 1.24 GB py_sent, 2.9 s ->
    # 1.5 s with the fence; band = 0.58% of rows).
    return _udf.asNondeterministic()


def pip_multi_udf(polys: dict):
    """Exact-PIP pandas UDF where each row tests against its own
    polygon id (post-join refinement). polys: {poly_id: verts} where
    verts is a single ring or a ring list (holes)."""
    pdict = {
        int(pid): [
            [(float(x), float(y)) for x, y in ring] for ring in as_rings(v)
        ]
        for pid, v in polys.items()
    }

    @F.pandas_udf(T.BooleanType())
    def _udf(lon: pd.Series, lat: pd.Series, poly_id: pd.Series) -> pd.Series:
        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        zid = poly_id.to_numpy(np.int64)
        out = np.zeros(len(px), dtype=bool)
        for z in np.unique(zid):
            m = zid == z
            out[m] = points_in_poly_rings(px[m], py[m], pdict[int(z)])
        return pd.Series(out)

    # same plan fence as pip_udf: keep the exact test ABOVE the
    # prefilter joins so only the (fine) boundary band pays the
    # Python crossing
    return _udf.asNondeterministic()


# ---------------------------------------------------------------------------
# single-polygon semi-join (general API)

_CELL_CACHE: dict[tuple, pd.DataFrame] = {}
_CELL_CACHE_MAX = 32  # FIFO cap: de-fixtured callers may stream many
# distinct polygon sets through the join; an unbounded memo would leak
# one candidate frame per distinct set for driver-process lifetime


def _cache_put(key, value):
    if len(_CELL_CACHE) >= _CELL_CACHE_MAX:
        _CELL_CACHE.pop(next(iter(_CELL_CACHE)))
    _CELL_CACHE[key] = value
    return value


def _polygon_cells_pdf(verts, grid_n: int = JOIN_GRID_N) -> pd.DataFrame:
    """Driver-side candidate map for one polygon, memoized on the
    vertex values (pure function of the polygon + grid)."""
    key = ("poly", _verts_key(verts), grid_n)
    if key not in _CELL_CACHE:
        arr = np.asarray(classify_covering_cells(verts, grid_n), dtype=np.int64)
        _cache_put(key, pd.DataFrame(
            {"cell_id": arr[:, 0], "cell_class": arr[:, 1].astype(np.int32)}
        ))
    return _CELL_CACHE[key]


def points_in_polygon(spark: SparkSession, pts: DataFrame, verts) -> DataFrame:
    """Spatial semi-join: rows of `pts` (needs lon/lat columns) whose
    point lies inside the polygon — a single ring OR a ring list
    [outer, hole, ...] (donut regions: even-odd parity over all rings,
    same two-phase shape — hole-interior cells classify OUT at build
    time and never join). Interior-cell rows bypass the exact test
    entirely; only the boundary band reaches Python."""
    from ..functions.geo import pip_literal_col

    cell_df = spark.createDataFrame(_polygon_cells_pdf(verts))
    keyed = pts.withColumn("cell_id", join_cell_id(F.col("lon"), F.col("lat")))
    joined = keyed.join(F.broadcast(cell_df), "cell_id", "inner")
    if sum(len(_open(r)) for r in as_rings(verts)) <= _JVM_PIP_MAX_VERTS:
        # ONE scan + broadcast join + codegen filter: interior cells
        # pass unconditionally; boundary cells evaluate the exact
        # crossing test as an UNROLLED JVM expression (identical rule
        # to kernels.pip). No Python and no union re-scan.
        return joined.filter(
            (F.col("cell_class") == IN)
            | (
                (F.col("cell_class") == BOUNDARY)
                & pip_literal_col(F.col("lon"), F.col("lat"), verts)
            )
        ).drop("cell_class")
    # Complex rings: the unrolled condition exceeds what whole-stage
    # codegen will compile (measured: a 24-vertex condition pushed into
    # the join falls back to interpreted eval, 3x slower than the UDF
    # it replaced) — keep the join codegen-clean and run the exact test
    # as an Arrow-batched UDF on the BOUNDARY BAND ONLY (the union form
    # re-scans, but a UDF inside the OR would run on every row).
    interior = joined.filter(F.col("cell_class") == IN)
    boundary = joined.filter(F.col("cell_class") == BOUNDARY).filter(
        pip_udf(verts)(F.col("lon"), F.col("lat"))
    )
    return interior.unionByName(boundary).drop("cell_class")


def docs_in_region(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Fixture wrapper: documents geocoded into the aachen-analog
    region polygon."""
    return docs_in_polygon(spark, docs, fixtures.REGION_VERTS)


def docs_in_polygon(spark: SparkSession, docs: DataFrame, verts) -> DataFrame:
    """Semi-join of geocoded documents vs an arbitrary polygon."""
    return points_in_polygon(spark, with_geocode(docs), verts)


# ---------------------------------------------------------------------------
# many-polygons inner join (general API)


def _poly_candidates_pdf(polys: dict, grid_n: int = JOIN_GRID_N) -> pd.DataFrame:
    """Exploded (cell_id, poly_id, cell_class) candidate map, memoized
    on the polygon values. Cells fully outside a polygon are dropped at
    build time; interior cells carry class IN so matching rows skip the
    exact test entirely (analog of the reference's per-source envelope
    pruning, extent.py:718-795, strengthened by cell classification)."""
    key = ("set", _polys_key(polys), grid_n)
    if key not in _CELL_CACHE:
        frames = []
        for pid, verts in polys.items():
            pairs = classify_covering_cells(verts, grid_n)
            if pairs:
                arr = np.asarray(pairs, dtype=np.int64)
                frames.append(
                    pd.DataFrame(
                        {
                            "cell_id": arr[:, 0],
                            "zone_id": np.int32(pid),
                            "cell_class": arr[:, 1].astype(np.int32),
                        }
                    )
                )
        _cache_put(key, pd.concat(frames, ignore_index=True))
    return _CELL_CACHE[key]


def _poly_fine_pdf(polys: dict, grid_n: int = JOIN_GRID_N) -> pd.DataFrame:
    """Level-2 refinement map: boundary coarse cells re-classified at
    grid_n*REFINE (north rule: adaptive resolution refinement)."""
    key = ("fine", _polys_key(polys), grid_n, REFINE)
    if key not in _CELL_CACHE:
        coarse = _poly_candidates_pdf(polys, grid_n)
        frames = []
        for pid, verts in polys.items():
            zb = coarse[
                (coarse.zone_id == int(pid)) & (coarse.cell_class == BOUNDARY)
            ]
            fine = classify_subcells(verts, zb["cell_id"].tolist(), grid_n, REFINE)
            if fine:
                arr = np.asarray(fine, dtype=np.int64)
                frames.append(
                    pd.DataFrame(
                        {
                            "fine_id": arr[:, 0],
                            "zone_id": np.int32(pid),
                            "fine_class": arr[:, 1].astype(np.int32),
                        }
                    )
                )
        _cache_put(key, pd.concat(frames, ignore_index=True))
    return _CELL_CACHE[key]


def _fine_cell_col():
    fx = F.floor((F.col("lon") - F.lit(XMIN)) * F.lit(FINE_N / XSPAN))
    fy = F.floor((F.col("lat") - F.lit(YMIN)) * F.lit(FINE_N / YSPAN))
    fx = F.least(F.greatest(fx, F.lit(0)), F.lit(FINE_N - 1))
    fy = F.least(F.greatest(fy, F.lit(0)), F.lit(FINE_N - 1))
    return fx * F.lit(FINE_N) + fy


def _points_join_polygons_udf(
    spark: SparkSession, pts: DataFrame, polys: dict, refine: bool
) -> DataFrame:
    """Complex-ring fallback: the round-1 union shape — interior cells
    JVM-side, the boundary band through pip_multi_udf (Arrow)."""
    cand = spark.createDataFrame(_poly_candidates_pdf(polys))
    keyed = pts.withColumn("cell_id", join_cell_id(F.col("lon"), F.col("lat")))
    pairs = keyed.join(F.broadcast(cand), "cell_id", "inner")
    interior = pairs.filter(F.col("cell_class") == IN).drop("cell_class")
    exact_udf = pip_multi_udf(polys)
    if not refine:
        boundary = (
            pairs.filter(F.col("cell_class") == BOUNDARY)
            .drop("cell_class")
            .filter(exact_udf(F.col("lon"), F.col("lat"), F.col("zone_id")))
        )
        return interior.unionByName(boundary)
    fine_map = spark.createDataFrame(_poly_fine_pdf(polys))
    bnd = (
        pairs.filter(F.col("cell_class") == BOUNDARY)
        .drop("cell_class")
        .withColumn("fine_id", _fine_cell_col())
        .join(F.broadcast(fine_map), ["fine_id", "zone_id"], "left")
    )
    fine_in = bnd.filter(F.col("fine_class") == IN).drop(
        "fine_id", "fine_class"
    )
    exact = (
        bnd.filter(F.col("fine_class") == BOUNDARY)
        .filter(exact_udf(F.col("lon"), F.col("lat"), F.col("zone_id")))
        .drop("fine_id", "fine_class")
    )
    return interior.unionByName(fine_in).unionByName(exact)


def _points_join_polygons_rings_jvm(
    spark: SparkSession,
    pts: DataFrame,
    polys: dict,
    ringed: dict,
    max_rings: int,
    max_ring_verts: int,
    refine: bool,
) -> DataFrame:
    """Donut-zone fast path: same one-scan broadcast-join plan as the
    flat-array form, with boundary candidate rows carrying their
    zone's ring list and the exact test as the unrolled
    pip_rings_array_col codegen expression — no Python stage for
    bounded ring sets (reference accepts holes in every predicate,
    geom.py:261-345 / vector.py:365-434)."""
    from ..functions.geo import pip_rings_array_col

    cpdf = _poly_candidates_pdf(polys)
    is_b = cpdf["cell_class"].to_numpy() == BOUNDARY
    zid = cpdf["zone_id"].to_numpy()
    rows = [
        (
            int(c), int(z), int(k),
            [[x for x, _ in ring] for ring in ringed[int(z)]] if b else None,
            [[y for _, y in ring] for ring in ringed[int(z)]] if b else None,
        )
        for c, z, k, b in zip(
            cpdf["cell_id"].to_numpy(), zid,
            cpdf["cell_class"].to_numpy(), is_b,
        )
    ]
    cand = spark.createDataFrame(
        rows,
        "cell_id long, zone_id int, cell_class int, "
        "_rxs array<array<double>>, _rys array<array<double>>",
    )
    keyed = pts.withColumn("cell_id", join_cell_id(F.col("lon"), F.col("lat")))
    pairs = keyed.join(F.broadcast(cand), "cell_id", "inner")
    drop_aux = ["cell_class", "_rxs", "_rys"]
    exact_jvm = pip_rings_array_col(
        F.col("lon"), F.col("lat"), F.col("_rxs"), F.col("_rys"),
        max_rings=max_rings, max_verts=max_ring_verts,
    )
    if not refine:
        return pairs.filter(
            (F.col("cell_class") == IN)
            | ((F.col("cell_class") == BOUNDARY) & exact_jvm)
        ).drop(*drop_aux)
    interior = pairs.filter(F.col("cell_class") == IN).drop(*drop_aux)
    fine_map = spark.createDataFrame(_poly_fine_pdf(polys))
    bnd = (
        pairs.filter(F.col("cell_class") == BOUNDARY)
        .drop("cell_class")
        .withColumn("fine_id", _fine_cell_col())
        .join(F.broadcast(fine_map), ["fine_id", "zone_id"], "left")
    )
    fine_in = bnd.filter(F.col("fine_class") == IN).drop(
        "fine_id", "fine_class", "_rxs", "_rys"
    )
    exact = (
        bnd.filter(F.col("fine_class") == BOUNDARY)
        .filter(exact_jvm)
        .drop("fine_id", "fine_class", "_rxs", "_rys")
    )
    return interior.unionByName(fine_in).unionByName(exact)


def points_join_polygons(
    spark: SparkSession, pts: DataFrame, polys: dict, refine: bool = False
) -> DataFrame:
    """Inner spatial join: (point, zone_id) pairs where the point is
    inside polys[zone_id]. `pts` needs lon/lat columns; polys is
    {poly_id: verts} (arbitrary polygon set — the join's broadcast
    side). One point may match several overlapping polygons. Only
    boundary-cell candidates reach the Python refine; interior-cell
    candidates are accepted JVM-side.

    refine=True adds the level-2 adaptive resolution split (north
    rule): boundary rows re-key at FINE_N against a refinement map, so
    only the thin fine band hits the UDF. Measured trade-off on this
    box: the extra broadcast join + third union branch costs more than
    the UDF it saves for 4-vertex zones (ray-casting 4 edges is ~as
    cheap as the join) — it pays off when polygons are complex enough
    that exact PIP dominates (100+-vertex coastlines etc.)."""
    from ..functions.geo import pip_array_col

    # candidate map with the polygon vertex ARRAYS inlined on boundary
    # rows: the one broadcast join delivers both the prefilter and the
    # exact-test operands, and the crossing rule runs as an unrolled
    # whole-stage-codegen JVM expression — no Python worker and no
    # second join in the boundary band (round-1's normalized-0.61
    # scaling miss was that band's pandas-UDF throughput)
    if any(len(as_rings(v)) > 1 for v in polys.values()):
        # polygons with holes: boundary rows carry RING LISTS
        # (array<array<double>>) and the parity test unrolls to
        # rings x verts codegen edge terms — the donut analog of the
        # flat-array fast path. Oversized ring sets (term count past
        # the codegen budget) take the Arrow-UDF boundary band.
        ringed = {
            int(pid): [_open(r) for r in as_rings(v)]
            for pid, v in polys.items()
        }
        max_rings = max(len(rs) for rs in ringed.values())
        max_ring_verts = max(
            len(r) for rs in ringed.values() for r in rs
        )
        if max_rings * max_ring_verts > _JVM_PIP_MAX_VERTS:
            return _points_join_polygons_udf(spark, pts, polys, refine)
        return _points_join_polygons_rings_jvm(
            spark, pts, polys, ringed, max_rings, max_ring_verts, refine
        )
    opened = {int(pid): _open(v) for pid, v in polys.items()}
    max_verts = max(len(v) for v in opened.values())
    if max_verts > _JVM_PIP_MAX_VERTS:
        # complex rings blow the codegen budget (see points_in_polygon)
        # — Arrow-UDF boundary band instead of the unrolled expression
        return _points_join_polygons_udf(spark, pts, polys, refine)
    cpdf = _poly_candidates_pdf(polys).copy()
    is_b = cpdf["cell_class"].to_numpy() == BOUNDARY
    zid = cpdf["zone_id"].to_numpy()
    cpdf["_pxs"] = [
        [x for x, _ in opened[int(z)]] if b else None
        for z, b in zip(zid, is_b)
    ]
    cpdf["_pys"] = [
        [y for _, y in opened[int(z)]] if b else None
        for z, b in zip(zid, is_b)
    ]
    cand = spark.createDataFrame(cpdf)
    keyed = pts.withColumn("cell_id", join_cell_id(F.col("lon"), F.col("lat")))
    pairs = keyed.join(F.broadcast(cand), "cell_id", "inner")
    drop_aux = ["cell_class", "_pxs", "_pys"]
    interior = pairs.filter(F.col("cell_class") == IN).drop(*drop_aux)
    exact_jvm = pip_array_col(
        F.col("lon"), F.col("lat"), F.col("_pxs"), F.col("_pys"),
        max_verts=max_verts,
    )

    if not refine:
        # one scan, one broadcast join, one codegen filter: interior
        # cells pass unconditionally, boundary cells evaluate the
        # unrolled crossing test — no union, so the 100M-row side is
        # read once (the union form re-derived the join per branch)
        return pairs.filter(
            (F.col("cell_class") == IN)
            | ((F.col("cell_class") == BOUNDARY) & exact_jvm)
        ).drop(*drop_aux)

    fine_map = spark.createDataFrame(_poly_fine_pdf(polys))
    bnd = (
        pairs.filter(F.col("cell_class") == BOUNDARY)
        .drop("cell_class")
        .withColumn("fine_id", _fine_cell_col())
        .join(F.broadcast(fine_map), ["fine_id", "zone_id"], "left")
    )
    fine_in = bnd.filter(F.col("fine_class") == IN).drop(
        "fine_id", "fine_class", "_pxs", "_pys"
    )
    exact = (
        bnd.filter(F.col("fine_class") == BOUNDARY)
        .filter(exact_jvm)
        .drop("fine_id", "fine_class", "_pxs", "_pys")
    )
    return interior.unionByName(fine_in).unionByName(exact)


def zones_dict(zones=None) -> dict:
    """{zone_id: verts} for a zone feature list (fixtures.ZONES shape)."""
    return {z["zone_id"]: z["verts"] for z in (zones or fixtures.ZONES)}


def docs_join_zones(
    spark: SparkSession, docs: DataFrame, refine: bool = False, zones=None
) -> DataFrame:
    """Inner spatial join of geocoded documents vs a zone feature list
    (defaults to the aachen-analog fixtures)."""
    return points_join_polygons(
        spark, with_geocode(docs), zones_dict(zones), refine=refine
    )
