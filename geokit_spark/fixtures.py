"""Deterministic synthetic geo fixtures (FIXTURES.md §2-§8).

These mirror the *shapes* of the reference's aachen fixture family
(/root/reference/test/helpers.py:34-150) without shipping its data:

* ``REGION``   — one 24-vertex star-convex polygon inscribed in the bbox
                 (aachenShapefile.shp analog)
* ``ZONES``    — 115 jittered convex quadrilaterals with attributes
                 (aachen_zones.shp analog: 115 features,
                 /root/reference/test/test_05_vector.py:412-440)
* ``POINTS``   — 13 labeled points (aachen_points.shp analog,
                 test_05_vector.py:317-331)
* ``BOXES``    — harry/ron/hermoine boxes, areas 1/4/9
                 (boxes.shp analog, test_05_vector.py:43-131)

All coordinates are produced once here by a seeded integer LCG and are
treated as *literal constants* by both the Spark queries and the DuckDB
oracle SQL (emitted via ``repr`` which round-trips doubles exactly), so
the two sides always agree bit-for-bit.
"""

from __future__ import annotations

import math

from .constants import (
    GRID_INV_X,
    GRID_INV_Y,
    GRID_N,
    XMAX,
    XMIN,
    XSPAN,
    YMAX,
    YMIN,
    YSPAN,
)


def _lcg_stream(seed: int):
    """Deterministic uniform [0,1) stream (glibc-style LCG)."""
    state = seed & 0x7FFFFFFF
    while True:
        state = (state * 1103515245 + 12345) % 2147483648
        yield state / 2147483648.0


def _make_region(n_vertices: int = 24) -> list[tuple[float, float]]:
    cx = (XMIN + XMAX) / 2.0
    cy = (YMIN + YMAX) / 2.0
    rx = XSPAN / 2.0
    ry = YSPAN / 2.0
    rng = _lcg_stream(42)
    verts = []
    for k in range(n_vertices):
        ang = 2.0 * math.pi * k / n_vertices
        # star-convex: radius wobbles between 55% and 95% of half-extent
        r = 0.55 + 0.40 * next(rng)
        verts.append((cx + r * rx * math.cos(ang), cy + r * ry * math.sin(ang)))
    return verts


def _make_zones(n_zones: int = 115, nx: int = 12, ny: int = 10):
    """Jittered convex quadrilaterals on an nx x ny grid over the bbox.

    Corners are jittered inward/outward by up to 35% of a grid cell so
    neighboring zones overlap / leave gaps — exercising the exact-PIP
    refinement rather than pure bbox tests.
    """
    rng = _lcg_stream(1337)
    dx = XSPAN / nx
    dy = YSPAN / ny
    zones = []
    for zid in range(n_zones):
        gx, gy = zid % nx, zid // nx
        x0 = XMIN + gx * dx
        y0 = YMIN + gy * dy
        j = [0.35 * dx * (2 * next(rng) - 1) for _ in range(4)]
        k = [0.35 * dy * (2 * next(rng) - 1) for _ in range(4)]
        # counter-clockwise quad: BL, BR, TR, TL
        quad = [
            (x0 + j[0], y0 + k[0]),
            (x0 + dx + j[1], y0 + k[1]),
            (x0 + dx + j[2], y0 + dy + k[2]),
            (x0 + j[3], y0 + dy + k[3]),
        ]
        zones.append(
            {
                "zone_id": zid,
                "site_code": f"Z{zid:04d}",
                "year": 1950 + (zid * 7) % 75,
                "designate": ["A", "B", "C", "D"][zid % 4],
                "verts": quad,
            }
        )
    return zones


def _make_points():
    words = "Never have I ever ridden on a horse Did you know that ?".split()
    assert len(words) == 13
    rng = _lcg_stream(777)
    pts = []
    for i, w in enumerate(words):
        pts.append(
            {
                "id": i,
                "word": w,
                "lon": XMIN + next(rng) * XSPAN,
                "lat": YMIN + next(rng) * YSPAN,
            }
        )
    return pts


REGION_VERTS: list[tuple[float, float]] = _make_region()
ZONES: list[dict] = _make_zones()
POINTS: list[dict] = _make_points()

# A SECOND, independent polygon set exercising the general-API path
# (the engine must take any polygon side as a parameter, not close
# over one fixture): an 18-vertex star-convex polygon from a different
# seed, offset toward the north-east quadrant of the bbox.
def _make_region2(n_vertices: int = 18) -> list[tuple[float, float]]:
    cx = XMIN + 0.62 * XSPAN
    cy = YMIN + 0.58 * YSPAN
    rx = 0.33 * XSPAN
    ry = 0.36 * YSPAN
    rng = _lcg_stream(20240)
    verts = []
    for k in range(n_vertices):
        ang = 2.0 * math.pi * k / n_vertices
        r = 0.50 + 0.45 * next(rng)
        verts.append((cx + r * rx * math.cos(ang), cy + r * ry * math.sin(ang)))
    return verts


REGION2_VERTS: list[tuple[float, float]] = _make_region2()


def _make_concave_clip(n_spikes: int = 6) -> list[tuple[float, float]]:
    """A strongly CONCAVE star polygon (n_spikes reflex vertices):
    alternating outer/inner radii with jittered angles so no vertex or
    edge coincides with the zone grid (general position — required by
    the exact-rational clip oracles)."""
    cx = XMIN + 0.48 * XSPAN
    cy = YMIN + 0.52 * YSPAN
    rx = 0.46 * XSPAN
    ry = 0.44 * YSPAN
    rng = _lcg_stream(9090)
    verts = []
    for k in range(2 * n_spikes):
        ang = (
            2.0 * math.pi * k / (2 * n_spikes)
            + 0.12 * (2 * next(rng) - 1)
        )
        r = (0.93 if k % 2 == 0 else 0.34) + 0.05 * (2 * next(rng) - 1)
        verts.append((cx + r * rx * math.cos(ang), cy + r * ry * math.sin(ang)))
    return verts


CONCAVE_CLIP_VERTS: list[tuple[float, float]] = _make_concave_clip()


def _make_region_holes() -> list[list[tuple[float, float]]]:
    """DONUT region: star-convex outer ring + two interior holes
    (ring list [outer, hole1, hole2] — the reference's polygon with
    interior rings, geom.py:261-345). Holes are strictly inside the
    outer ring (outer min radius 0.60 of the half-extents; hole
    center offset + radius < 0.55) and pairwise disjoint; all vertex
    angles/radii jittered (general position for the exact-rational
    clip oracles)."""
    cx = (XMIN + XMAX) / 2.0
    cy = (YMIN + YMAX) / 2.0
    rx = XSPAN / 2.0
    ry = YSPAN / 2.0
    rng = _lcg_stream(31415)
    outer = []
    for k in range(20):
        ang = 2.0 * math.pi * k / 20 + 0.06 * (2 * next(rng) - 1)
        r = 0.60 + 0.33 * next(rng)
        outer.append((cx + r * rx * math.cos(ang), cy + r * ry * math.sin(ang)))

    def hole(ox, oy, hx, hy, n, seed):
        hrng = _lcg_stream(seed)
        hc_x = cx + ox * rx
        hc_y = cy + oy * ry
        ring = []
        for k in range(n):
            ang = 2.0 * math.pi * k / n + 0.10 * (2 * next(hrng) - 1)
            r = 0.70 + 0.28 * next(hrng)
            ring.append(
                (hc_x + r * hx * rx * math.cos(ang),
                 hc_y + r * hy * ry * math.sin(ang))
            )
        return ring

    return [
        outer,
        hole(-0.22, -0.10, 0.14, 0.16, 8, 2718),
        hole(0.25, 0.18, 0.12, 0.10, 6, 1618),
    ]


REGION_HOLES_RINGS: list[list[tuple[float, float]]] = _make_region_holes()


def _make_zones_holes() -> dict:
    """Small {zone_id: verts-or-rings} set where zone 13 is a DONUT
    (its quad outer ring + a 0.4-scaled centered hole) — the
    multi-polygon-join analog of REGION_HOLES_RINGS. Exercises the
    codegen path of points_join_polygons with two ring columns (2
    rings x 4 vertices, inside the codegen budget): a point over the
    lake must not match zone 13 but may match overlapping neighbors."""
    outer = ZONES[13]["verts"]
    cx = (outer[0][0] + outer[1][0] + outer[2][0] + outer[3][0]) / 4.0
    cy = (outer[0][1] + outer[1][1] + outer[2][1] + outer[3][1]) / 4.0
    hole = [
        (cx + 0.4 * (x - cx), cy + 0.4 * (y - cy)) for x, y in outer
    ]
    return {
        7: ZONES[7]["verts"],
        13: [outer, hole],
        14: ZONES[14]["verts"],
        25: ZONES[25]["verts"],
        26: ZONES[26]["verts"],
    }


ZONES_HOLES_DICT: dict = _make_zones_holes()


def _make_lines(n_lines: int = 14, n_pts: int = 5):
    """LINE features (roads analog — the reference's line geometries,
    geom.py:355-391, join subjects in vector.py:365-434): jittered
    random-walk polylines across the bbox. General position w.r.t.
    the region polygons (LCG endpoints never coincide with region
    vertices/edges)."""
    rng = _lcg_stream(60606)
    lines = []
    for lid in range(n_lines):
        x = XMIN + next(rng) * XSPAN
        y = YMIN + next(rng) * YSPAN
        pts = [(x, y)]
        for _ in range(n_pts - 1):
            x = min(max(x + (2 * next(rng) - 1) * 0.30 * XSPAN, XMIN), XMAX)
            y = min(max(y + (2 * next(rng) - 1) * 0.30 * YSPAN, YMIN), YMAX)
            pts.append((x, y))
        lines.append(
            {
                "line_id": lid,
                "kind": ["road", "rail", "river"][lid % 3],
                "pts": pts,
            }
        )
    return lines


LINES: list[dict] = _make_lines()


def sql_line_seg_idx_values(lines=None) -> str:
    """DuckDB VALUES literal (line_id, i, ax, ay, bx, by) of every
    polyline segment WITH its 1-based index (ordered fold mirrors)."""
    rows = []
    for ln in lines if lines is not None else LINES:
        p = ln["pts"]
        for i in range(len(p) - 1):
            rows.append(
                f"({int(ln['line_id'])},{i + 1},{_dl(p[i][0])},{_dl(p[i][1])},"
                f"{_dl(p[i + 1][0])},{_dl(p[i + 1][1])})"
            )
    return ",".join(rows)


def sql_line_attr_values(lines=None) -> str:
    """DuckDB VALUES literal (line_id, kind)."""
    return ",".join(
        f"({int(ln['line_id'])},'{ln['kind']}')"
        for ln in (lines if lines is not None else LINES)
    )


def sql_line_verts_values(lines=None) -> str:
    """DuckDB VALUES literal (line_id, px, py) of every waypoint."""
    rows = []
    for ln in lines if lines is not None else LINES:
        for x, y in ln["pts"]:
            rows.append(f"({int(ln['line_id'])},{_dl(x)},{_dl(y)})")
    return ",".join(rows)


def sql_line_segs_values(lines=None) -> str:
    """DuckDB VALUES literal (line_id, x1, y1, x2, y2) of every
    polyline segment (consecutive waypoints, NO closing edge)."""
    rows = []
    for ln in lines if lines is not None else LINES:
        p = ln["pts"]
        for i in range(len(p) - 1):
            rows.append(
                f"({int(ln['line_id'])},{_dl(p[i][0])},{_dl(p[i][1])},"
                f"{_dl(p[i + 1][0])},{_dl(p[i + 1][1])})"
            )
    return ",".join(rows)

# boxes.shp analog: unit box, 2x2 box, 3x3 box — pairwise corner-touching
BOXES = [
    {"name": "harry", "smart": 0, "verts": [(0, 0), (1, 0), (1, 1), (0, 1)]},
    {"name": "ron", "smart": 0, "verts": [(1, 1), (3, 1), (3, 3), (1, 3)]},
    {"name": "hermoine", "smart": 1, "verts": [(3, 3), (6, 3), (6, 6), (3, 6)]},
]


# pure grid helpers live in kernels.cells; re-exported here for callers
from .kernels.cells import covering_cells, poly_bbox  # noqa: E402,F401


def _dl(x: float) -> str:
    """Exact DOUBLE literal. Plain decimal literals parse as DECIMAL in
    DuckDB (exact decimal arithmetic diverges from IEEE doubles), so
    every coordinate literal must be cast."""
    return f"CAST('{x!r}' AS DOUBLE)"


def sql_zone_edges_values() -> str:
    """DuckDB VALUES literal: one row per directed zone edge
    (zone_id, x1, y1, x2, y2) — the oracle's ray-casting input."""
    rows = []
    for z in ZONES:
        v = z["verts"]
        for i in range(len(v)):
            x1, y1 = v[i]
            x2, y2 = v[(i + 1) % len(v)]
            rows.append(
                f"({z['zone_id']},{_dl(x1)},{_dl(y1)},{_dl(x2)},{_dl(y2)})"
            )
    return ",".join(rows)


def sql_zone_attr_values() -> str:
    """DuckDB VALUES literal: (zone_id, site_code, year, designate,
    bxmin, bymin, bxmax, bymax)."""
    rows = []
    for z in ZONES:
        b = poly_bbox(z["verts"])
        rows.append(
            f"({z['zone_id']},'{z['site_code']}',{z['year']},"
            f"'{z['designate']}',{_dl(b[0])},{_dl(b[1])},{_dl(b[2])},{_dl(b[3])})"
        )
    return ",".join(rows)


def sql_edges_values(verts) -> str:
    """DuckDB VALUES literal of a polygon's directed edges."""
    rows = []
    v = verts
    for i in range(len(v)):
        x1, y1 = v[i]
        x2, y2 = v[(i + 1) % len(v)]
        rows.append(f"({_dl(x1)},{_dl(y1)},{_dl(x2)},{_dl(y2)})")
    return ",".join(rows)


def sql_rings_edges_values(rings) -> str:
    """DuckDB VALUES literal of a ring list's directed edges (outer +
    holes concatenated: even-odd parity over all edges = donut PIP)."""
    return ",".join(sql_edges_values(r) for r in rings)


def sql_id_edges_values(polys) -> str:
    """DuckDB VALUES literal: (poly_id, x1, y1, x2, y2) directed edges
    for a {poly_id: verts} dict (general polygon sets, e.g. buffered
    zones)."""
    rows = []
    for pid, v in polys.items():
        for i in range(len(v)):
            x1, y1 = v[i]
            x2, y2 = v[(i + 1) % len(v)]
            rows.append(f"({int(pid)},{_dl(x1)},{_dl(y1)},{_dl(x2)},{_dl(y2)})")
    return ",".join(rows)


def sql_id_rings_edges_values(polys) -> str:
    """Ring-aware variant of sql_id_edges_values: a {poly_id:
    verts-or-rings} dict emits ALL rings\' directed edges under the
    polygon\'s id — even-odd parity over them gives donut PIP, and the
    per-id bbox over all edges equals the outer-ring bbox (holes are
    nested)."""
    from .kernels.pip import as_rings

    rows = []
    for pid, v in polys.items():
        for ring in as_rings(v):
            for i in range(len(ring)):
                x1, y1 = ring[i]
                x2, y2 = ring[(i + 1) % len(ring)]
                rows.append(
                    f"({int(pid)},{_dl(x1)},{_dl(y1)},{_dl(x2)},{_dl(y2)})"
                )
    return ",".join(rows)


def sql_region_edges_values() -> str:
    rows = []
    v = REGION_VERTS
    for i in range(len(v)):
        x1, y1 = v[i]
        x2, y2 = v[(i + 1) % len(v)]
        rows.append(f"({_dl(x1)},{_dl(y1)},{_dl(x2)},{_dl(y2)})")
    return ",".join(rows)


def sql_points_values() -> str:
    return ",".join(
        f"({p['id']},'{p['word']}',{_dl(p['lon'])},{_dl(p['lat'])})"
        for p in POINTS
    )
