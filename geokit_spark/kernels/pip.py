"""Point-in-polygon, polygon clipping, and area kernels.

Vectorized even-odd ray casting over coordinate arrays — the
Shapely-free exact-refinement step of the two-phase spatial join
(reference semantics: OGR ``Within``/``Intersects`` refinement after
bbox prefilter, /root/reference/geokit/core/vector.py:290-455).

The crossing test is written with the *exact same expression tree* as
the DuckDB oracle SQL (see plans in __spark_entry__.py) so both sides
take identical IEEE-754 branch decisions:

    crosses = (y1 > py) != (y2 > py)
              AND px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
"""

from __future__ import annotations

import numpy as np


def points_in_poly(px: np.ndarray, py: np.ndarray, verts) -> np.ndarray:
    """Even-odd ray-casting PIP. px/py: float64 arrays (N,);
    verts: [(x, y), ...] open or closed ring. Returns bool (N,)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    vx = np.asarray([v[0] for v in verts], dtype=np.float64)
    vy = np.asarray([v[1] for v in verts], dtype=np.float64)
    if vx[0] == vx[-1] and vy[0] == vy[-1]:
        vx, vy = vx[:-1], vy[:-1]
    inside = np.zeros(px.shape, dtype=bool)
    n = len(vx)
    for i in range(n):
        x1, y1 = vx[i], vy[i]
        x2, y2 = vx[(i + 1) % n], vy[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge never crosses the upward ray test
        straddle = (y1 > py) != (y2 > py)
        # over=: near-degenerate edges (tiny y2-y1) can overflow the
        # division to +/-inf, which still orders correctly against px
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            xcross = (x2 - x1) * (py - y1) / (y2 - y1) + x1
        inside ^= straddle & (px < xcross)
    return inside


def as_rings(poly):
    """Normalize a polygon parameter to a list of rings. Accepts the
    single-ring shape used everywhere ([(x, y), ...]) or a ring list
    ([outer, hole, ...]) — outer first, holes after (reference
    geom.polygon builds the same outer+interior-ring structure,
    /root/reference/geokit/core/geom.py:261-345)."""
    first = poly[0]
    try:
        len(first[0])  # ring list: first element is itself a ring
        return [list(r) for r in poly]
    except TypeError:
        return [list(poly)]


def points_in_poly_rings(px: np.ndarray, py: np.ndarray, rings) -> np.ndarray:
    """Even-odd PIP over a polygon WITH HOLES (ring list): the parity
    of crossings over ALL rings' edges — a point inside the outer ring
    and inside a hole has even total parity, i.e. outside. Identical
    per-edge expression tree to points_in_poly."""
    out = np.zeros(np.shape(px), dtype=bool)
    for ring in as_rings(rings):
        out ^= points_in_poly(px, py, ring)
    return out


def poly_area(verts) -> float:
    """Shoelace area (positive regardless of winding)."""
    vx = np.asarray([v[0] for v in verts], dtype=np.float64)
    vy = np.asarray([v[1] for v in verts], dtype=np.float64)
    if len(vx) >= 2 and vx[0] == vx[-1] and vy[0] == vy[-1]:
        vx, vy = vx[:-1], vy[:-1]
    if len(vx) < 3:
        return 0.0
    x2 = np.roll(vx, -1)
    y2 = np.roll(vy, -1)
    return float(abs(np.sum(vx * y2 - x2 * vy)) / 2.0)


def clip_poly_box(verts, box):
    """Sutherland–Hodgman clip of a polygon by an axis-aligned box
    (xmin, ymin, xmax, ymax). Covers the reference's tileize /
    extractAndClipFeatures-on-box semantics (geom.py:244-251,
    vector.py:916-931 for convex clip windows). Returns vertex list
    (possibly empty)."""
    xmin, ymin, xmax, ymax = box
    out = [(float(x), float(y)) for x, y in verts]
    if len(out) >= 2 and out[0] == out[-1]:
        out = out[:-1]

    def clip_edge(poly, inside, intersect):
        res = []
        n = len(poly)
        for i in range(n):
            cur, nxt = poly[i], poly[(i + 1) % n]
            cin, nin = inside(cur), inside(nxt)
            if cin:
                res.append(cur)
                if not nin:
                    res.append(intersect(cur, nxt))
            elif nin:
                res.append(intersect(cur, nxt))
        return res

    def ix_at_x(p, q, x):
        t = (x - p[0]) / (q[0] - p[0])
        return (x, p[1] + t * (q[1] - p[1]))

    def ix_at_y(p, q, y):
        t = (y - p[1]) / (q[1] - p[1])
        return (p[0] + t * (q[0] - p[0]), y)

    for inside, intersect in (
        (lambda p: p[0] >= xmin, lambda p, q: ix_at_x(p, q, xmin)),
        (lambda p: p[0] <= xmax, lambda p, q: ix_at_x(p, q, xmax)),
        (lambda p: p[1] >= ymin, lambda p, q: ix_at_y(p, q, ymin)),
        (lambda p: p[1] <= ymax, lambda p, q: ix_at_y(p, q, ymax)),
    ):
        if not out:
            return []
        out = clip_edge(out, inside, intersect)
    return out


def centroid(verts):
    """Polygon centroid (area-weighted, shoelace formula)."""
    vx = np.asarray([v[0] for v in verts], dtype=np.float64)
    vy = np.asarray([v[1] for v in verts], dtype=np.float64)
    if vx[0] == vx[-1] and vy[0] == vy[-1]:
        vx, vy = vx[:-1], vy[:-1]
    x2 = np.roll(vx, -1)
    y2 = np.roll(vy, -1)
    cross = vx * y2 - x2 * vy
    a = np.sum(cross) / 2.0
    cx = np.sum((vx + x2) * cross) / (6.0 * a)
    cy = np.sum((vy + y2) * cross) / (6.0 * a)
    return float(cx), float(cy)
