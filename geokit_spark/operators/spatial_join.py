"""Two-phase spatial joins: cell-equijoin prefilter + exact refine.

Physical shape (the scale story):

  points ──cell_id── (pure JVM arithmetic, codegen)
         ⋈ broadcast{cell_id → polygon candidates}      (hash join, no shuffle)
         ──refine──► exact ray-casting PIP on boundary-cell rows ONLY:
                     an unrolled whole-stage-codegen expression over the
                     ring arrays the candidate rows carry, or, for
                     polygon sets past the codegen budget
                     (_JVM_PIP_MAX_VERTS), an Arrow-batched pandas UDF

One engine serves both query shapes: points_join_polygons is the
sjoin inner join, and points_in_polygon (the extractFeatures(geom=...)
semi-join) is its one-polygon case.

The broadcast side is (cells × candidate ids) on the JOIN_GRID_N²
prefilter grid; its size is a fixed per-call cost (built in pandas,
shipped through createDataFrame, broadcast), while a coarser grid sends
more rows to the exact test — JOIN_GRID_N is the measured optimum of
that trade (see constants). A point outside the grid's bbox clamps
into a border cell, which is BOUNDARY for every polygon the point
could lie in, so it always takes the exact test. The points side never
shuffles for a semi-join. Skewed
hot cells are irrelevant here (map-side work only); they matter for
groupBy stages, where AQE + salting handle them (see operators.knn and
bench).

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
from ..constants import JOIN_GRID_N
from ..functions.geo import join_cell_id, pip_array_col, with_geocode
from ..kernels.cells import (
    BOUNDARY,
    IN,
    clamped_border_cells,
    classify_covering_cells,
)
from ..kernels.geom_ops import _open_ring
from ..kernels.pip import as_rings, points_in_poly_rings

# Codegen budget of the exact test, in unrolled edge terms (rings x
# vertices of the largest polygon): past it the unrolled JVM crossing
# test blows the whole-stage-codegen budget when fused into the
# broadcast join (measured: 4-vertex zones codegen fine and run 2.8x
# faster than the UDF; a 24-vertex region falls out of codegen and runs
# 3x slower) — larger sets take the Arrow-UDF boundary band.
_JVM_PIP_MAX_VERTS = 12

_CAND_SCHEMA = "cell_id long, zone_id int, cell_class int"


def _verts_key(verts) -> tuple:
    """Cache key for a polygon parameter (single ring or ring list)."""
    return tuple(
        tuple((float(x), float(y)) for x, y in ring)
        for ring in as_rings(verts)
    )


def _polys_key(polys: dict) -> tuple:
    return tuple(sorted((int(pid), _verts_key(v)) for pid, v in polys.items()))


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

    # The filter stays above the broadcast join, so only boundary-band
    # rows cross into Python, because its zone_id argument comes from
    # the broadcast side: a predicate over both sides' columns cannot be
    # pushed below the join (the cell_class prefilter, over broadcast
    # columns alone, is folded into that side). A UDF over lon/lat
    # alone would be pushed below it, onto every point.
    return _udf


_CELL_CACHE: dict[tuple, pd.DataFrame] = {}
_CELL_CACHE_MAX = 32  # FIFO cap: de-fixtured callers may stream many
# distinct polygon sets through the join; an unbounded memo would leak
# one candidate frame per distinct set for driver-process lifetime


def _poly_candidates_pdf(polys: dict) -> pd.DataFrame:
    """Exploded (cell_id, zone_id, cell_class) candidate map, memoized
    on the polygon values. Cells fully outside a polygon are dropped at
    build time; interior cells carry class IN so matching rows skip the
    exact test entirely (analog of the reference's per-source envelope
    pruning, extent.py:718-795, strengthened by cell classification).
    For a polygon reaching past the bbox, the border cells its outside
    points clamp into are BOUNDARY, so those points take the exact
    test."""
    key = _polys_key(polys)
    if key not in _CELL_CACHE:
        rows = []
        for pid, verts in polys.items():
            cells = dict(classify_covering_cells(verts, JOIN_GRID_N))
            cells.update(
                dict.fromkeys(clamped_border_cells(verts, JOIN_GRID_N), BOUNDARY)
            )
            rows.extend((c, int(pid), k) for c, k in cells.items())
        arr = np.asarray(rows, dtype=np.int64).reshape(-1, 3)
        if len(_CELL_CACHE) >= _CELL_CACHE_MAX:
            _CELL_CACHE.pop(next(iter(_CELL_CACHE)))
        _CELL_CACHE[key] = pd.DataFrame(
            {
                "cell_id": arr[:, 0],
                "zone_id": arr[:, 1].astype(np.int32),
                "cell_class": arr[:, 2].astype(np.int32),
            }
        )
    return _CELL_CACHE[key]


def _candidate_pairs(
    spark: SparkSession, pts: DataFrame, cand: pd.DataFrame, schema: str
) -> DataFrame:
    """The prefilter: points keyed to their join cell, hash-joined with
    the broadcast candidate map."""
    keyed = pts.withColumn("cell_id", join_cell_id(F.col("lon"), F.col("lat")))
    return keyed.join(
        F.broadcast(spark.createDataFrame(cand, schema)), "cell_id", "inner"
    )


def _points_join_polygons_udf(
    spark: SparkSession, pts: DataFrame, polys: dict
) -> DataFrame:
    """Arrow-UDF path for polygon sets past the codegen budget: the
    union shape — interior cells JVM-side, the boundary band through
    pip_multi_udf (the union re-scans, but a UDF inside the OR would
    run on every row)."""
    pairs = _candidate_pairs(spark, pts, _poly_candidates_pdf(polys), _CAND_SCHEMA)
    interior = pairs.filter(F.col("cell_class") == IN).drop("cell_class")
    boundary = (
        pairs.filter(F.col("cell_class") == BOUNDARY)
        .drop("cell_class")
        .filter(pip_multi_udf(polys)(F.col("lon"), F.col("lat"), F.col("zone_id")))
    )
    return interior.unionByName(boundary)


def points_join_polygons(
    spark: SparkSession, pts: DataFrame, polys: dict
) -> DataFrame:
    """Inner spatial join: (point, zone_id) pairs where the point is
    inside polys[zone_id]. `pts` needs lon/lat columns (and no zone_id
    column); polys is {poly_id: verts}, verts a single ring or a ring
    list [outer, hole, ...] (arbitrary polygon set — the join's
    broadcast side). One point may match several overlapping polygons;
    a point over a hole matches by even-odd parity over all rings. Only
    boundary-cell candidates reach the exact test; interior-cell
    candidates are accepted JVM-side. Output: the pts columns plus
    cell_id and zone_id.

    Two exact-test paths, chosen by _JVM_PIP_MAX_VERTS alone: within
    the codegen budget, boundary candidate rows carry one (_xs<r>,
    _ys<r>) array pair per ring index and the crossing rule runs as
    the unrolled pip_array_col expression — one scan, one broadcast
    join, one codegen filter, no Python worker; past it, the Arrow-UDF
    boundary band (_points_join_polygons_udf).

    Resolution is the single JOIN_GRID_N grid: a second, finer split
    of the boundary cells cost more (one more broadcast join and union
    branch) than the exact test it saved for the fixture zones."""
    if not polys:
        raise ValueError("points_join_polygons: polys is empty; "
                         "pass at least one {poly_id: verts} entry")
    if "zone_id" in pts.columns:
        raise ValueError("points_join_polygons: pts already has a zone_id "
                         "column, which the join adds; rename it first")
    rings = {
        int(pid): [_open_ring(r) for r in as_rings(v)] for pid, v in polys.items()
    }
    n_rings = max(len(rs) for rs in rings.values())
    max_verts = max(len(r) for rs in rings.values() for r in rs)
    if n_rings * max_verts > _JVM_PIP_MAX_VERTS:
        return _points_join_polygons_udf(spark, pts, polys)
    cand = _poly_candidates_pdf(polys).copy()
    is_b = cand["cell_class"].to_numpy() == BOUNDARY
    zid = cand["zone_id"].to_numpy()
    schema, aux = _CAND_SCHEMA, []
    for r in range(n_rings):
        for axis, name in enumerate((f"_xs{r}", f"_ys{r}")):
            ring_arr = {
                z: [v[axis] for v in rs[r]]
                for z, rs in rings.items() if r < len(rs)
            }
            cand[name] = [
                ring_arr.get(int(z)) if b else None for z, b in zip(zid, is_b)
            ]
            schema += f", {name} array<double>"
            aux.append(name)
    pairs = _candidate_pairs(spark, pts, cand, schema)
    exact_jvm = pip_array_col(
        F.col("lon"), F.col("lat"),
        [(F.col(f"_xs{r}"), F.col(f"_ys{r}")) for r in range(n_rings)],
        max_verts=max_verts,
    )
    # one scan, one broadcast join, one codegen filter: interior cells
    # pass unconditionally, boundary cells evaluate the unrolled
    # crossing test — no union, so the 100M-row side is read once (the
    # union form re-derived the join per branch)
    return pairs.filter(
        (F.col("cell_class") == IN)
        | ((F.col("cell_class") == BOUNDARY) & exact_jvm)
    ).drop("cell_class", *aux)


def points_in_polygon(spark: SparkSession, pts: DataFrame, verts) -> DataFrame:
    """Spatial semi-join: rows of `pts` (needs lon/lat columns) whose
    point lies inside the polygon — a single ring OR a ring list
    [outer, hole, ...] (donut regions: even-odd parity over all rings;
    hole-interior cells classify OUT at build time and never join).
    The one-polygon case of points_join_polygons, with the same two
    exact-test paths. Output: the pts columns plus cell_id."""
    return points_join_polygons(spark, pts, {0: verts}).drop("zone_id")


def docs_in_region(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Fixture wrapper: documents geocoded into the aachen-analog
    region polygon."""
    return docs_in_polygon(spark, docs, fixtures.REGION_VERTS)


def docs_in_polygon(spark: SparkSession, docs: DataFrame, verts) -> DataFrame:
    """Semi-join of geocoded documents vs an arbitrary polygon."""
    return points_in_polygon(spark, with_geocode(docs), verts)


def zones_dict(zones=None) -> dict:
    """{zone_id: verts} for a zone feature list (fixtures.ZONES shape)."""
    return {z["zone_id"]: z["verts"] for z in (zones or fixtures.ZONES)}


def docs_join_zones(
    spark: SparkSession, docs: DataFrame, zones=None
) -> DataFrame:
    """Inner spatial join of geocoded documents vs a zone feature list
    (defaults to the aachen-analog fixtures)."""
    return points_join_polygons(spark, with_geocode(docs), zones_dict(zones))
