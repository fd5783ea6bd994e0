"""Polygon UNION as geometry — the reference's pairwise union tree
(`flatten`, /root/reference/geokit/core/geom.py:871-913) re-expressed
as an N-way exact-rational boundary algorithm:

  the boundary of ∪ regions = the sub-segments of each region's
  boundary that are NOT strictly inside any OTHER region.

Each input edge is split at its intersections with every other
region's edges; surviving sub-segments keep their direction
(interior-on-the-left), so at every proper boundary crossing exactly
one kept segment leaves each kept segment's endpoint — tracing the
successor map yields the union's rings directly, outers CCW and holes
CW, with NO pairwise clipping cascade. A "region" is a ring LIST with
even-odd membership, so union outputs feed back in as inputs — the
treeReduce shape of the reference's union tree.

All arithmetic is exact rational (fractions.Fraction over the input
doubles): orientation, point-in-region and intersection tests cannot
misclassify, and the final area is the true rational rounded once —
which is what lets the independent slab-decomposition oracle
(oracle.geooracle.union_area_slab_fr) reproduce it bit-for-bit.
Degenerate inputs (collinear overlapping edges, tangencies,
three-way crossings) raise ValueError — the fixtures are in general
position by construction.
"""

from __future__ import annotations

from fractions import Fraction

Ring = list[tuple[Fraction, Fraction]]
Region = list[Ring]


def fr_ring(verts) -> Ring:
    v = [(Fraction(float(x)), Fraction(float(y))) for x, y in verts]
    if len(v) > 1 and v[0] == v[-1]:
        v = v[:-1]
    return v


def signed_area2(ring: Ring) -> Fraction:
    s = Fraction(0)
    n = len(ring)
    for i in range(n):
        x0, y0 = ring[i]
        x1, y1 = ring[(i + 1) % n]
        s += x0 * y1 - x1 * y0
    return s


def _point_on_edge(p, a, b) -> bool:
    """p strictly inside segment ab or at an endpoint (exact)."""
    cross = (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0])
    if cross != 0:
        return False
    dot = (p[0] - a[0]) * (b[0] - a[0]) + (p[1] - a[1]) * (b[1] - a[1])
    if dot < 0:
        return False
    sq = (b[0] - a[0]) ** 2 + (b[1] - a[1]) ** 2
    return dot <= sq


def point_in_region(p, region: Region) -> bool:
    """Exact even-odd membership over all of a region's rings.
    Raises on boundary points (degenerate for the union algorithm)."""
    inside = False
    for ring in region:
        n = len(ring)
        for i in range(n):
            a = ring[i]
            b = ring[(i + 1) % n]
            if _point_on_edge(p, a, b):
                raise ValueError(
                    "degenerate union input: boundary point lies on "
                    "another region's edge (collinear overlap?)"
                )
            if (a[1] > p[1]) != (b[1] > p[1]):
                xc = (b[0] - a[0]) * (p[1] - a[1]) / (b[1] - a[1]) + a[0]
                if p[0] < xc:
                    inside = not inside
    return inside


def _cut_params(a, b, region: Region):
    """Exact parameters t in (0,1) where segment a->b properly crosses
    an edge of `region`."""
    rx = b[0] - a[0]
    ry = b[1] - a[1]
    ts = []
    for ring in region:
        n = len(ring)
        for i in range(n):
            c = ring[i]
            q = ring[(i + 1) % n]
            sx = q[0] - c[0]
            sy = q[1] - c[1]
            den = rx * sy - ry * sx
            if den == 0:
                continue
            qpx = c[0] - a[0]
            qpy = c[1] - a[1]
            t = (qpx * sy - qpy * sx) / den
            u = (qpx * ry - qpy * rx) / den
            if 0 < t < 1 and 0 < u < 1:
                ts.append(t)
    return ts


def _normalize_region(region_verts_list) -> Region:
    """Input simple polygons -> one CCW Fraction ring each."""
    out = []
    for verts in region_verts_list:
        r = fr_ring(verts)
        if signed_area2(r) < 0:
            r = r[::-1]
        out.append([r])
    return out


def _region_bbox(region: Region):
    xs = [p[0] for ring in region for p in ring]
    ys = [p[1] for ring in region for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


def union_regions(regions: list[Region]) -> Region:
    """Union of even-odd regions: returns the union's rings, outers
    CCW and holes CW (interior-on-the-left orientation preserved from
    the inputs). Single-region input passes through unchanged.

    Pure pruning (no effect on the result): an edge is only cut
    against, and a midpoint only tested against, regions whose
    bounding box can possibly be involved — exact rational compares,
    so the skip is sound, and spatially coherent groupings become
    near-linear instead of all-pairs."""
    regions = [r for r in regions if r]
    if not regions:
        return []
    if len(regions) == 1:
        return regions[0]
    bboxes = [_region_bbox(r) for r in regions]
    kept = []  # directed sub-segments (p0, p1) on the union boundary
    for i, region in enumerate(regions):
        others = [
            (r, bboxes[j])
            for j, r in enumerate(regions)
            if j != i
        ]
        for ring in region:
            n = len(ring)
            for k in range(n):
                a = ring[k]
                b = ring[(k + 1) % n]
                ex0, ex1 = min(a[0], b[0]), max(a[0], b[0])
                ey0, ey1 = min(a[1], b[1]), max(a[1], b[1])
                near = [
                    (o, bb)
                    for o, bb in others
                    if not (
                        ex1 < bb[0] or ex0 > bb[2]
                        or ey1 < bb[1] or ey0 > bb[3]
                    )
                ]
                cuts = [Fraction(0)]
                for other, _bb in near:
                    cuts.extend(_cut_params(a, b, other))
                cuts.append(Fraction(1))
                cuts = sorted(set(cuts))
                for t0, t1 in zip(cuts[:-1], cuts[1:]):
                    tm = (t0 + t1) / 2
                    mid = (
                        a[0] + (b[0] - a[0]) * tm,
                        a[1] + (b[1] - a[1]) * tm,
                    )
                    if any(
                        bb[0] <= mid[0] <= bb[2]
                        and bb[1] <= mid[1] <= bb[3]
                        and point_in_region(mid, o)
                        for o, bb in near
                    ):
                        continue
                    p0 = (a[0] + (b[0] - a[0]) * t0,
                          a[1] + (b[1] - a[1]) * t0)
                    p1 = (a[0] + (b[0] - a[0]) * t1,
                          a[1] + (b[1] - a[1]) * t1)
                    kept.append((p0, p1))
    # successor map: exactly one kept segment starts where another ends
    start_of: dict[tuple, int] = {}
    for idx, (p0, _p1) in enumerate(kept):
        if p0 in start_of:
            raise ValueError(
                "degenerate union: two boundary segments start at the "
                "same point (tangency / >2-way crossing?)"
            )
        start_of[p0] = idx
    used = [False] * len(kept)
    rings: Region = []
    for s0 in range(len(kept)):
        if used[s0]:
            continue
        ring: Ring = []
        cur = s0
        while not used[cur]:
            used[cur] = True
            p0, p1 = kept[cur]
            ring.append(p0)
            if p1 not in start_of:
                raise ValueError("open union boundary (corrupt input)")
            cur = start_of[p1]
        if cur != s0:
            raise ValueError("union boundary chain re-entered mid-ring")
        rings.append(ring)
    return rings


def union_area_fr(regions_verts: list) -> Fraction:
    """Exact |∪ polygons| — sum of the union rings' SIGNED areas
    (outers positive, holes negative)."""
    rings = union_regions(_normalize_region(regions_verts))
    return sum((signed_area2(r) for r in rings), Fraction(0)) / 2
