"""Cell classification for the two-phase spatial join.

For a polygon and the GRID_N x GRID_N analysis grid, classify every
cell as OUT (0), IN (1), or BOUNDARY (2). Points in IN/OUT cells need
no exact test; only BOUNDARY-cell points go through the ray-casting
refinement UDF. This is the engineered analog of the reference's bbox
prefilter + exact refine (vector.py:144-160, 365-434) — but stronger:
at 100 TB the vast majority of points fall in interior cells and never
touch Python.

Correctness argument: a cell is BOUNDARY if any polygon edge's bbox
overlaps the (slightly inflated) cell rect. If no edge bbox overlaps,
no edge crosses the cell, so polygon membership is constant over the
cell and the cell-center PIP decides for every point in it.
"""

from __future__ import annotations

import math

import numpy as np

from ..constants import GRID_N, XMIN, XSPAN, YMIN, YSPAN
from .pip import as_rings, points_in_poly_rings

OUT, IN, BOUNDARY = 0, 1, 2

_EPS = 1e-9  # inflation swallowing float rounding at cell borders


def _opened_rings(poly):
    """Normalize to ring list and strip closing vertices; returns
    [(vx, vy), ...] float64 arrays. Every classifier below accepts
    polygons with holes: the correctness argument generalizes ring-
    wise — a cell crossed by NO ring's edge has constant even-odd
    parity, decided by the cell-center test over all rings."""
    out = []
    for ring in as_rings(poly):
        vx = np.asarray([v[0] for v in ring], dtype=np.float64)
        vy = np.asarray([v[1] for v in ring], dtype=np.float64)
        if vx[0] == vx[-1] and vy[0] == vy[-1]:
            vx, vy = vx[:-1], vy[:-1]
        out.append((vx, vy))
    return out


def poly_bbox(verts) -> tuple[float, float, float, float]:
    xs = [v[0] for v in verts]
    ys = [v[1] for v in verts]
    return min(xs), min(ys), max(xs), max(ys)


def clamped_border_cells(verts, grid_n: int = GRID_N) -> list[int]:
    """Cell ids (cx * grid_n + cy) of the border cells that points of
    the polygon lying OUTSIDE the bbox key to, since a point's cell
    index is clamped into the grid (functions.geo.join_cell_id). Such
    a point's class can't be read off the cell, so these cells must be
    BOUNDARY for the polygon. Empty when the polygon's envelope (OUTER
    ring bbox, inflated by _EPS) keeps inside the grid. Flooring and
    clamping are monotone, so the cells lie in the polygon's clamped
    envelope range and on the grid border."""
    inv_x = grid_n / XSPAN
    inv_y = grid_n / YSPAN
    bx0, by0, bx1, by1 = poly_bbox(as_rings(verts)[0])
    fx0 = math.floor((bx0 - _EPS - XMIN) * inv_x)
    fx1 = math.floor((bx1 + _EPS - XMIN) * inv_x)
    fy0 = math.floor((by0 - _EPS - YMIN) * inv_y)
    fy1 = math.floor((by1 + _EPS - YMIN) * inv_y)
    if min(fx0, fy0) >= 0 and max(fx1, fy1) < grid_n:
        return []

    def clamp(c):
        return min(max(c, 0), grid_n - 1)

    edge = (0, grid_n - 1)
    return [
        cx * grid_n + cy
        for cx in range(clamp(fx0), clamp(fx1) + 1)
        for cy in range(clamp(fy0), clamp(fy1) + 1)
        if cx in edge or cy in edge
    ]


def covering_cells(verts, pad: int = 0, grid_n: int = GRID_N) -> list[tuple[int, int]]:
    """Grid cells (grid_n x grid_n over the bbox) covering a polygon's
    envelope — the engine's spatial-join prefilter key set (the analog
    of the reference's bbox SetSpatialFilter, vector.py:144-160)."""
    inv_x = grid_n / XSPAN
    inv_y = grid_n / YSPAN
    bx0, by0, bx1, by1 = poly_bbox(verts)
    cx0 = max(0, int(math.floor((bx0 - XMIN) * inv_x)) - pad)
    cx1 = min(grid_n - 1, int(math.floor((bx1 - XMIN) * inv_x)) + pad)
    cy0 = max(0, int(math.floor((by0 - YMIN) * inv_y)) - pad)
    cy1 = min(grid_n - 1, int(math.floor((by1 - YMIN) * inv_y)) + pad)
    return [(cx, cy) for cx in range(cx0, cx1 + 1) for cy in range(cy0, cy1 + 1)]


def _edges_cross_rects(vx, vy, x0, y0, dx, dy) -> np.ndarray:
    """Exact segment-vs-rectangle intersection for a CLOSED RING,
    vectorized over cells (vx/vy: ring vertices; the closing edge is
    added here). See _segs_cross_rects for the test itself."""
    return _segs_cross_rects(
        vx, vy, np.roll(vx, -1), np.roll(vy, -1), x0, y0, dx, dy
    )


def _segs_cross_rects(ax, ay, bx, by, x0, y0, dx, dy) -> np.ndarray:
    """Exact segment-vs-rectangle intersection, vectorized over cells.

    ax/ay -> bx/by: explicit segment endpoint arrays (a polyline's
    consecutive waypoints, or a ring's closed edges via
    _edges_cross_rects); x0/y0: arrays of cell lower-left corners;
    dx/dy: cell size. Returns bool (n_cells,): any segment intersects
    the (slightly inflated) cell rectangle. A segment intersects a
    rect iff their bboxes overlap AND the rect's four corners are not
    all strictly on one side of the segment's line. Exact (not just
    bbox-conservative), so long diagonal segments don't smear a whole
    band of cells."""
    ex0 = np.minimum(ax, bx) - _EPS
    ex1 = np.maximum(ax, bx) + _EPS
    ey0 = np.minimum(ay, by) - _EPS
    ey1 = np.maximum(ay, by) + _EPS

    # bbox overlap (cells, edges)
    bb = (
        (ex0[None, :] <= (x0 + dx)[:, None])
        & (x0[:, None] <= ex1[None, :])
        & (ey0[None, :] <= (y0 + dy)[:, None])
        & (y0[:, None] <= ey1[None, :])
    )
    # line-side test: sign of cross((p1-p0), (corner-p0)) per corner
    exd = (bx - ax)[None, :]
    eyd = (by - ay)[None, :]
    vx, vy = ax, ay
    pos = np.zeros(bb.shape, dtype=bool)
    neg = np.zeros(bb.shape, dtype=bool)
    for cx, cy in (
        (x0 - _EPS, y0 - _EPS),
        (x0 + dx + _EPS, y0 - _EPS),
        (x0 + dx + _EPS, y0 + dy + _EPS),
        (x0 - _EPS, y0 + dy + _EPS),
    ):
        s = exd * (cy[:, None] - vy[None, :]) - eyd * (cx[:, None] - vx[None, :])
        pos |= s > 0
        neg |= s < 0
    return (bb & pos & neg).any(axis=1)


def _any_ring_crosses(rings_vxy, x0, y0, dx, dy) -> np.ndarray:
    bnd = np.zeros(len(x0), dtype=bool)
    for vx, vy in rings_vxy:
        bnd |= _edges_cross_rects(vx, vy, x0, y0, dx, dy)
    return bnd


def classify_cells(verts, grid_n: int = GRID_N) -> np.ndarray:
    """Returns int8 array (grid_n, grid_n) indexed [cx, cy]. Accepts a
    single ring or a ring list (polygon with holes)."""
    rings_vxy = _opened_rings(verts)
    dx = XSPAN / grid_n
    dy = YSPAN / grid_n
    cls = np.zeros((grid_n, grid_n), dtype=np.int8)
    cxs, cys = np.meshgrid(np.arange(grid_n), np.arange(grid_n), indexing="ij")
    cxs, cys = cxs.ravel(), cys.ravel()
    x0 = XMIN + cxs * dx
    y0 = YMIN + cys * dy
    bnd = _any_ring_crosses(rings_vxy, x0, y0, dx, dy)
    cls[cxs[bnd], cys[bnd]] = BOUNDARY
    free = ~bnd
    if free.any():
        inside = points_in_poly_rings(
            x0[free] + dx / 2, y0[free] + dy / 2,
            [list(zip(vx, vy)) for vx, vy in rings_vxy],
        )
        cls[cxs[free][inside], cys[free][inside]] = IN
    return cls


def classify_covering_cells(verts, grid_n: int = GRID_N) -> list[tuple[int, int]]:
    """For one polygon: [(cell_id, class)] over its envelope's covering
    cells, class in {IN, BOUNDARY} (OUT cells are dropped — they can
    never contain a member point, the bbox prefilter alone would have
    sent them to the exact test). Same conservative edge-bbox argument
    as classify_cells. Vectorized over the covering-cell grid.
    Accepts a single ring or a ring list (holes): the envelope is the
    OUTER ring's bbox (holes lie inside it)."""
    rings = as_rings(verts)
    rings_vxy = _opened_rings(rings)
    dx = XSPAN / grid_n
    dy = YSPAN / grid_n
    cover = covering_cells(rings[0], grid_n=grid_n)
    if not cover:
        return []
    cxs = np.array([c[0] for c in cover], dtype=np.int64)
    cys = np.array([c[1] for c in cover], dtype=np.int64)
    x0 = XMIN + cxs * dx
    y0 = YMIN + cys * dy
    bnd = _any_ring_crosses(rings_vxy, x0, y0, dx, dy)
    ids = cxs * grid_n + cys
    out = [(int(i), BOUNDARY) for i in ids[bnd]]
    free = ~bnd
    if free.any():
        inside = points_in_poly_rings(
            x0[free] + dx / 2, y0[free] + dy / 2, rings
        )
        out.extend((int(i), IN) for i in ids[free][inside])
    return out
