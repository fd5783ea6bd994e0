"""Spark-side spatial join tests: engine results must equal the
brute-force numpy oracle (same kernels, no cell shortcut)."""

import numpy as np
import pandas as pd
import pytest

from geokit_spark import fixtures
from geokit_spark.constants import JOIN_GRID_N, XMIN, XSPAN, YMIN, YSPAN
from geokit_spark.kernels.geocode import geocode
from geokit_spark.kernels.pip import as_rings, points_in_poly, points_in_poly_rings
from geokit_spark.operators import spatial_join


def _brute_force_region(ids):
    lon, lat = geocode(ids)
    return set(ids[points_in_poly(lon, lat, fixtures.REGION_VERTS)].tolist())


def test_docs_in_region_matches_brute_force(spark, docs):
    got = spatial_join.docs_in_region(spark, docs).select("doc_id").toPandas()
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    expected = _brute_force_region(ids)
    assert set(got["doc_id"]) == expected
    assert len(got) == len(expected)  # no duplicate rows from the union


def test_docs_join_zones_matches_brute_force(spark, docs):
    got = (
        spatial_join.docs_join_zones(spark, docs)
        .select("doc_id", "zone_id")
        .toPandas()
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    expected = set()
    for z in fixtures.ZONES:
        inside = points_in_poly(lon, lat, z["verts"])
        for d in ids[inside]:
            expected.add((int(d), z["zone_id"]))
    assert set(map(tuple, got.values.tolist())) == expected


def test_general_api_second_polygon(spark, docs):
    """The polygon side is a parameter: the same operator over
    REGION2_VERTS must match brute force (de-fixtured general API)."""
    got = (
        spatial_join.docs_in_polygon(spark, docs, fixtures.REGION2_VERTS)
        .select("doc_id")
        .toPandas()
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    expected = set(ids[points_in_poly(lon, lat, fixtures.REGION2_VERTS)].tolist())
    assert set(got["doc_id"]) == expected
    assert len(got) == len(expected)


def test_general_api_custom_polygon_set(spark, docs):
    """points_join_polygons over an ad-hoc polygon dict (triangle +
    pentagon) must match brute force — no fixture involvement."""
    from geokit_spark.constants import XMIN, XSPAN, YMIN, YSPAN
    import math

    tri = [
        (XMIN + 0.1 * XSPAN, YMIN + 0.1 * YSPAN),
        (XMIN + 0.6 * XSPAN, YMIN + 0.2 * YSPAN),
        (XMIN + 0.2 * XSPAN, YMIN + 0.7 * YSPAN),
    ]
    pent = [
        (
            XMIN + 0.7 * XSPAN + 0.25 * XSPAN * math.cos(2 * math.pi * k / 5),
            YMIN + 0.6 * YSPAN + 0.25 * YSPAN * math.sin(2 * math.pi * k / 5),
        )
        for k in range(5)
    ]
    polys = {7: tri, 11: pent}
    from geokit_spark.functions.geo import with_geocode

    got = (
        spatial_join.points_join_polygons(spark, with_geocode(docs), polys)
        .select("doc_id", "zone_id")
        .toPandas()
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    expected = set()
    for pid, verts in polys.items():
        inside = points_in_poly(lon, lat, verts)
        for d in ids[inside]:
            expected.add((int(d), pid))
    assert set(map(tuple, got.values.tolist())) == expected


def _python_nodes(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if "EvalPython" in ln or "MapInArrow" in ln]


def _subtree(lines: list[str], i: int) -> list[str]:
    """Lines of the plan-tree node at lines[i] and all its children."""

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    end = i + 1
    while end < len(lines) and depth(lines[end]) > depth(lines[i]):
        end += 1
    return lines[i:end]


def _executed_plan(df) -> str:
    df.collect()  # AQE finalizes THIS Dataset's plan only on execution
    return df._jdf.queryExecution().executedPlan().toString()


def test_zone_join_is_broadcast(spark, docs):
    """Plan pins: the flat-zone join and a <=12-edge single polygon run
    with no Python node; the region semi-join (24 edges, Arrow-UDF
    path) keeps its UDF ABOVE the broadcast join, so only the boundary
    band crosses into Python (the asNondeterministic fence)."""
    plan = _executed_plan(spatial_join.docs_join_zones(spark, docs))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert not _python_nodes(plan)

    quad = spatial_join.docs_in_polygon(spark, docs, fixtures.ZONES[0]["verts"])
    plan = _executed_plan(quad)
    assert "BroadcastHashJoin" in plan
    assert not _python_nodes(plan)

    lines = _executed_plan(spatial_join.docs_in_region(spark, docs)).splitlines()
    udf_at = [i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln]
    assert udf_at
    for i in udf_at:
        assert any("BroadcastHashJoin" in ln for ln in _subtree(lines, i))


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"zone_id", "n_docs"}
    assert (pdf["n_docs"] > 0).all()


def test_points_in_polygon_donut_vs_brute_force(spark, docs):
    """Two-phase join with a ring-list region == brute-force even-odd
    parity over all rings (and strictly fewer rows than outer-only)."""
    import numpy as np

    from geokit_spark import fixtures
    from geokit_spark.functions.geo import with_geocode
    from geokit_spark.kernels.geocode import geocode
    from geokit_spark.kernels.pip import points_in_poly_rings

    rings = fixtures.REGION_HOLES_RINGS
    got = (
        spatial_join.points_in_polygon(
            spark, with_geocode(docs.select("doc_id")), rings
        )
        .select("doc_id")
        .toPandas()["doc_id"]
        .to_numpy()
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    expect = ids[points_in_poly_rings(lon, lat, rings)]
    assert set(got.tolist()) == set(expect.tolist())
    outer_only = spatial_join.points_in_polygon(
        spark, with_geocode(docs.select("doc_id")), rings[0]
    ).count()
    assert len(got) < outer_only


def test_points_join_polygons_with_donut_zone(spark, docs):
    """A {id: ring-list} entry in the polys dict (zone with a hole)
    routes through the Arrow refine and matches brute-force parity;
    single-ring zones in the same dict are unaffected."""
    rings = fixtures.REGION_HOLES_RINGS
    polys = {
        1: rings,                       # donut zone
        2: fixtures.ZONES[0]["verts"],  # plain quad
    }
    from geokit_spark.functions.geo import with_geocode
    from geokit_spark.kernels.pip import points_in_poly_rings

    got = (
        spatial_join.points_join_polygons(
            spark, with_geocode(docs.select("doc_id")), polys
        )
        .select("doc_id", "zone_id")
        .toPandas()
    )
    ids = docs.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
    lon, lat = geocode(ids)
    for zid, poly in polys.items():
        expect = set(ids[points_in_poly_rings(lon, lat, poly)].tolist())
        have = set(got[got.zone_id == zid]["doc_id"].tolist())
        assert have == expect, zid


def test_zones_holes_jvm_fast_path_plan_and_parity(spark):
    """Donut zones within the codegen budget run with NO Python stage
    (the round-4 silent degradation is closed), and the codegen
    result equals the Arrow-UDF path row-for-row."""
    from pyspark.sql import functions as F

    from geokit_spark import fixtures
    from geokit_spark.functions.geo import with_geocode
    from geokit_spark.operators.spatial_join import (
        _points_join_polygons_udf,
        points_join_polygons,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pts = with_geocode(docs.select("doc_id"))
    fast = points_join_polygons(
        spark, pts, fixtures.ZONES_HOLES_DICT
    ).select("doc_id", "zone_id")
    got = fast.toPandas()
    # AQE finalizes THIS Dataset's physical plan only after execution
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInArrow" not in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in the final plan
    assert "*(" in plan and "BroadcastHashJoin" in plan
    ref = (
        _points_join_polygons_udf(spark, pts, fixtures.ZONES_HOLES_DICT)
        .select("doc_id", "zone_id")
        .toPandas()
    )
    key = lambda df: sorted(map(tuple, df.to_numpy().tolist()))  # noqa: E731
    assert key(got) == key(ref)
    assert len(got) > 0
    # the donut zone must reject points over its hole: probe with the
    # hole's centroid (inside hole -> OUT) and a point in the annulus
    outer, hole = fixtures.ZONES_HOLES_DICT[13]
    hx = sum(x for x, _ in hole) / len(hole)
    hy = sum(y for _, y in hole) / len(hole)
    # annulus probe: midpoint between outer vertex 0 and hole vertex 0
    ax = (outer[0][0] + hole[0][0]) / 2
    ay = (outer[0][1] + hole[0][1]) / 2
    probes = spark.createDataFrame(
        [(1, hx, hy), (2, ax, ay)], "doc_id long, lon double, lat double"
    )
    hits = points_join_polygons(spark, probes, fixtures.ZONES_HOLES_DICT)
    matched = {
        r["doc_id"] for r in hits.filter(F.col("zone_id") == 13).collect()
    }
    assert matched == {2}


def test_zones_holes_oversized_rings_fall_back_to_udf(spark):
    """Ring sets past the codegen budget (rings x verts > 12) route to
    the Arrow-UDF boundary band and still produce donut semantics."""
    from geokit_spark import fixtures
    from geokit_spark.functions.geo import with_geocode
    from geokit_spark.operators.spatial_join import points_join_polygons

    # 20-vertex outer + 8-vertex hole: 2 x 20 = 40 terms > 12
    outer = fixtures.REGION_HOLES_RINGS[0]
    hole = fixtures.REGION_HOLES_RINGS[1]
    assert len(outer) > 4
    polys = {1: [outer, hole]}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pts = with_geocode(docs.select("doc_id"))
    joined = points_join_polygons(spark, pts, polys)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" in plan or "ArrowEvalPython" in plan
    # cross-check against the single-region rings semi-join (same rings)
    from geokit_spark.operators.spatial_join import points_in_polygon

    semi = points_in_polygon(spark, pts, [outer, hole])
    assert sorted(r["doc_id"] for r in joined.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in semi.select("doc_id").collect())


def test_candidate_broadcast_size_pinned():
    """The broadcast candidate maps are rebuilt, shipped and broadcast
    on every join call, so their size is a fixed per-call cost: the
    115 fixture zones keep under 20k rows and the 24-vertex region
    under 8k (a 512^2 grid gave 265,110 and 115,135)."""
    from geokit_spark.operators.spatial_join import (
        _poly_candidates_pdf,
        zones_dict,
    )

    assert len(_poly_candidates_pdf(zones_dict())) <= 20_000
    assert len(_poly_candidates_pdf({0: fixtures.REGION_VERTS})) <= 8_000


def _grid_line_probes():
    """Probe points exactly on JOIN_GRID_N cell corners and cell-edge
    midpoints over the whole bbox: the points where cell keying
    (floor of a product) and cell classification (inflated cell
    rects) could disagree."""
    n = JOIN_GRID_N
    ticks = np.arange(2 * n + 1, dtype=np.float64) / (2 * n)
    fx, fy = np.meshgrid(ticks, ticks, indexing="ij")
    i, j = np.meshgrid(np.arange(2 * n + 1), np.arange(2 * n + 1), indexing="ij")
    # corners (both even) and edge midpoints (one odd); drop centers
    keep = ((i % 2) == 0) | ((j % 2) == 0)
    lon = XMIN + fx[keep] * XSPAN
    lat = YMIN + fy[keep] * YSPAN
    return np.arange(len(lon), dtype=np.int64), lon, lat


def _frac(fx, fy):
    """Point at bbox fractions (fx, fy); outside the bbox past [0, 1]."""
    return (XMIN + fx * XSPAN, YMIN + fy * YSPAN)


def _at(i, j):
    """Corner (i, j) of the JOIN_GRID_N grid."""
    return _frac(i / JOIN_GRID_N, j / JOIN_GRID_N)


def _grid_aligned_polys():
    """Polygons whose edges run along grid lines or through grid
    corners, so probes sit on a cell border AND a polygon edge."""
    return {
        1: [_at(10, 20), _at(50, 20), _at(50, 70), _at(10, 70)],
        2: [_at(90, 40), _at(110, 60), _at(90, 80), _at(70, 60)],
    }


def _small_donut():
    """Quad outer ring + diamond hole through grid corners: 2 rings x 4
    vertices, inside the codegen budget."""
    return [
        [_at(20, 20), _at(60, 20), _at(60, 60), _at(20, 60)],
        [_at(40, 30), _at(50, 40), _at(40, 50), _at(30, 40)],
    ]


def test_grid_line_probes_match_brute_force(spark):
    """Zones joins and single-polygon semi-joins agree with the numpy
    kernel on every grid-line probe, on both exact-test paths: the
    codegen path (fixture zones, grid-aligned quad, small donut) and
    the Arrow-UDF path (24-vertex region)."""
    ids, lon, lat = _grid_line_probes()
    probes = spark.createDataFrame(
        pd.DataFrame({"doc_id": ids, "lon": lon, "lat": lat})
    )

    for polys in (spatial_join.zones_dict(), _grid_aligned_polys()):
        got = spatial_join.points_join_polygons(spark, probes, polys).select(
            "doc_id", "zone_id"
        )
        expected = {
            (int(d), int(pid))
            for pid, verts in polys.items()
            for d in ids[points_in_poly(lon, lat, verts)]
        }
        pairs = [tuple(r) for r in got.collect()]
        assert len(pairs) == len(set(pairs))
        assert set(pairs) == expected

    for verts in (
        _grid_aligned_polys()[1], _small_donut(), fixtures.REGION_VERTS,
    ):
        got = spatial_join.points_in_polygon(spark, probes, verts)
        assert got.columns == ["cell_id", "doc_id", "lon", "lat"]
        have = [r["doc_id"] for r in got.select("doc_id").collect()]
        expected = ids[points_in_poly_rings(lon, lat, as_rings(verts))]
        assert len(have) == len(expected)
        assert set(have) == set(expected.tolist())


def _off_bbox_polys():
    """Polygons reaching past (or lying wholly outside) the join grid's
    bbox, one per exact-test path and clamp failure mode."""
    circle = [
        _frac(1.0 + 0.1 * np.cos(2 * np.pi * k / 16),
              0.5 + 0.1 * np.sin(2 * np.pi * k / 16))
        for k in range(16)
    ]
    return {
        # east half of the bbox plus 5% beyond it: its clamped border
        # cells are IN, so outside points used to pass untested
        1: [_frac(0.5, -0.05), _frac(1.05, -0.05),
            _frac(1.05, 1.05), _frac(0.5, 1.05)],
        # apex pokes into the bbox: its clamped border cells are OUT,
        # so true matches below the bbox used to be lost
        2: [_frac(0.2, -0.3), _frac(0.4, -0.3), _frac(0.3, 0.05)],
        # wholly outside the bbox: no covering cell of its own; its
        # points clamp into east border cells
        3: [_frac(1.2, 0.4), _frac(1.4, 0.4), _frac(1.4, 0.6), _frac(1.2, 0.6)],
        # 16 vertices: the Arrow-UDF path
        4: circle,
        # the bbox's south-west corner cell is IN: a NaN point used to
        # key there and pass untested
        5: [_frac(-0.1, -0.1), _frac(0.1, -0.1), _frac(0.1, 0.1), _frac(-0.1, 0.1)],
    }


def test_points_outside_bbox_get_exact_answers(spark):
    """Points outside the join grid's bbox reach the exact test instead
    of inheriting a clamped border cell's class."""
    fx = [3.0, 2.1, 1.02, 1.08, 1.15, 0.22, 1.3, 1.5, 0.75, -0.5, 0.3,
          -0.05, np.nan]
    fy = [0.5, 0.5, 0.5, 0.45, 0.5, -0.28, 0.5, 0.5, 0.5, 0.5, -0.01,
          -0.05, np.nan]
    lon, lat = np.array([_frac(x, y) for x, y in zip(fx, fy)]).T
    ids = np.arange(len(lon), dtype=np.int64)
    # from tuples: a pandas frame would turn NaN into null on the way in
    probes = spark.createDataFrame(
        [(int(d), float(x), float(y)) for d, x, y in zip(ids, lon, lat)],
        "doc_id long, lon double, lat double",
    )
    polys = _off_bbox_polys()
    expected = {
        pid: set(ids[points_in_poly(lon, lat, verts)].tolist())
        for pid, verts in polys.items()
    }
    assert all(expected.values())  # every polygon holds a probe
    got = spatial_join.points_join_polygons(spark, probes, polys).select(
        "doc_id", "zone_id"
    )
    pairs = [tuple(r) for r in got.collect()]
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == {(d, pid) for pid, ds in expected.items() for d in ds}
    for pid, verts in polys.items():
        semi = spatial_join.points_in_polygon(spark, probes, verts)
        assert {r["doc_id"] for r in semi.collect()} == expected[pid], pid


def test_points_join_polygons_rejects_bad_input(spark):
    probes = spark.createDataFrame(
        [(1, XMIN, YMIN)], "doc_id long, lon double, lat double"
    )
    with pytest.raises(ValueError, match="polys is empty"):
        spatial_join.points_join_polygons(spark, probes, {})
    # the output's zone_id would be ambiguous, and points_in_polygon
    # would drop the caller's column with its own
    with pytest.raises(ValueError, match="already has a zone_id"):
        spatial_join.points_in_polygon(
            spark, probes.withColumn("zone_id", probes.doc_id),
            fixtures.ZONES[0]["verts"],
        )
