"""Expected query results, computed in-process without Spark.

Each function rebuilds the workload's generated inputs with numpy and
answers the queries by an independent path: the library's numpy
kernels (``kernels.geocode``, ``kernels.pip``, ``kernels.raster_fields``)
and closed forms the generators fix. Nothing here runs inside a timed
region.
"""

from __future__ import annotations

import numpy as np

from geokit_spark import fixtures
from geokit_spark.constants import (
    CELL_N, GRID_INV_X, GRID_INV_Y, GRID_N, RASTER_H, RASTER_W, XMIN, XSPAN, YMIN, YSPAN,
)
from geokit_spark.kernels.geocode import geocode
from geokit_spark.kernels.pip import as_rings, points_in_poly, points_in_poly_rings
from geokit_spark.kernels.raster_fields import clc_value, elev_value, pixel_center, raster_cell_no

from . import gen

KNN_K = 5
ANN_K = 5


def _zone_counts(lon: np.ndarray, lat: np.ndarray) -> dict[int, int]:
    """{zone_id: points inside} for the fixture zones (zones may
    overlap, so a point can count for two); bbox prefilter, exact
    even-odd test on the survivors."""
    order = np.argsort(lon, kind="stable")
    xs, ys = lon[order], lat[order]
    out = {}
    for z in fixtures.ZONES:
        rings = as_rings(z["verts"])
        x0, y0, x1, y1 = fixtures.poly_bbox(rings[0])
        lo, hi = np.searchsorted(xs, x0, "left"), np.searchsorted(xs, x1, "right")
        px, py = xs[lo:hi], ys[lo:hi]
        m = (py >= y0) & (py <= y1)
        n = int(points_in_poly_rings(px[m], py[m], z["verts"]).sum())
        if n:
            out[z["zone_id"]] = n
    return out


def grid_cells_np(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """numpy twin of functions.geo.grid_cell_id."""
    cx = np.clip(np.floor((lon - XMIN) * GRID_INV_X), 0, GRID_N - 1).astype(np.int64)
    cy = np.clip(np.floor((lat - YMIN) * GRID_INV_Y), 0, GRID_N - 1).astype(np.int64)
    return cx * GRID_N + cy


def zonal_elev() -> dict[int, tuple[int, float]]:
    """{zone_id: (n_pix, sum_v)} of the elev raster over the fixture
    zones, pixel centres tested against every zone."""
    iy, ix = np.divmod(np.arange(RASTER_W * RASTER_H, dtype=np.int64), RASTER_W)
    px, py = pixel_center(ix, iy)
    v = elev_value(ix, iy).astype(np.float64)
    out = {}
    for z in fixtures.ZONES:
        m = points_in_poly_rings(px, py, z["verts"])
        if m.any():
            out[z["zone_id"]] = (int(m.sum()), float(v[m].sum()))
    return out


def geo_join(n: int, offset: int) -> dict:
    ids = np.arange(offset, offset + n, dtype=np.int64)
    lon, lat = geocode(ids)
    knn = []
    for q in fixtures.POINTS:
        dx, dy = lon - q["lon"], lat - q["lat"]
        d2 = dx * dx + dy * dy
        kth = np.partition(d2, KNN_K - 1)[KNN_K - 1]
        cand = np.flatnonzero(d2 <= kth)
        best = cand[np.lexsort((ids[cand], d2[cand]))][:KNN_K]
        knn += [(q["id"], r + 1, int(ids[i])) for r, i in enumerate(best)]
    cx = np.floor((lon + 180.0) / 360.0 * float(CELL_N))
    cy = np.floor((90.0 - lat) / 180.0 * float(CELL_N))
    n_cells = len(np.unique(cx.astype(np.int64) * CELL_N + cy.astype(np.int64)))
    ix, iy = raster_cell_no(lon, lat)
    ok = ix >= 0
    return {
        "pip_region_semi_join": int(points_in_poly(lon, lat, fixtures.REGION_VERTS).sum()),
        "pip_zones_join": _zone_counts(lon, lat),
        "knn_ring": sorted(knn),
        "tiling_cell_counts": (n, n_cells),
        "extract_values": float(clc_value(ix[ok], iy[ok]).sum()),
        "zonal_stats": zonal_elev(),
    }


def pagerank_sum(n: int, offset: int) -> int:
    """Sum of the exact integer PageRank scores after 3 rounds, by the
    operator's documented update rule."""
    from geokit_spark.operators.webgraph import DAMP_DEN, DAMP_NUM, PR_BASE, PR_SCALE

    src, dst = gen.link_graph_np(n, offset)
    src, dst = src - offset, dst - offset
    outdeg = np.bincount(src, minlength=n).astype(np.int64)
    s = np.full(n, PR_SCALE, dtype=np.int64)
    for _ in range(3):
        c = (DAMP_NUM * s[src]) // (DAMP_DEN * outdeg[src])
        inflow = np.zeros(n, dtype=np.int64)
        np.add.at(inflow, dst, c)
        s = PR_BASE + inflow
    return int(s.sum())


def crawl_funnel(n: int, offset: int) -> dict:
    # canonical doc ids are 0 .. n-1 whatever the seed; each canonical
    # counts once per zone it falls in, with CRAWL_WORDS words
    lon, lat = geocode(np.arange(n, dtype=np.int64))
    in_zones = sum(_zone_counts(lon, lat).values())
    return {
        "corpus_pipeline": (in_zones, gen.CRAWL_WORDS * in_zones),
        "html_extract": n * gen.HTML_TEXT_BYTES,
        "pagerank": pagerank_sum(n, offset),
    }


def ann_topk(n: int) -> dict:
    return {"ann_topk_large": n * ANN_K, "ann_topk_large_q8": n * ANN_K}


def range_box() -> tuple[float, float, float, float]:
    """The tile_store scan box: the middle fifth of the bbox in x and
    in y."""
    return (XMIN + 0.4 * XSPAN, YMIN + 0.4 * YSPAN, XMIN + 0.6 * XSPAN, YMIN + 0.6 * YSPAN)


def tile_store(n: int, offset: int) -> dict:
    lon, lat = geocode(np.arange(offset, offset + n, dtype=np.int64))
    n_cells = len(np.unique(grid_cells_np(lon, lat)))
    x0, y0, x1, y1 = range_box()
    in_box = int(((lon >= x0) & (lon < x1) & (lat >= y0) & (lat < y1)).sum())
    return {
        "zorder_write": n,
        "lineage_stage": (n_cells, n),
        "lineage_resume": (0, 0),
        "lineage_verify": (n_cells, n_cells, n),
        "range_scan": in_box,
    }
