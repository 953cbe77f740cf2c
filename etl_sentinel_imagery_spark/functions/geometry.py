"""Geometry kernel: WKT parsing, areas, and polygon overlay — numpy-pure.

The reference leans on shapely/geopandas (`dataset.py:37-40`,
`imagery_store.py:242-251`); neither ships in this environment, so the
engine carries a small exact kernel: WKT polygon parse, shoelace area,
Sutherland–Hodgman clipping (exact intersection of any simple polygon
with a CONVEX clip region — AOIs are bboxes/convex in the reference's
usage), and point-in-polygon. Vectorized entry points are Arrow-batched
pandas UDFs; the AOI side is closed over (a handful of scalars — Spark
serializes it into the task closure, the moral equivalent of a broadcast
variable for this size).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, DoubleType

_WKT_POLY_RE = re.compile(r"POLYGON\s*\(\((.+?)\)\)", re.IGNORECASE)


def parse_wkt_polygon(wkt: str) -> np.ndarray:
    """Outer ring of a WKT POLYGON as an (n, 2) float array (closed ring's
    duplicate last vertex dropped; interior rings/holes skipped). Raises
    ValueError on malformed input."""
    m = _WKT_POLY_RE.search(wkt)
    if not m:
        raise ValueError(f"not a WKT polygon: {wkt[:80]!r}")
    # a hole-bearing polygon matches as 'outer),(hole...' — keep the
    # outer ring (text before the first close-paren)
    outer = m.group(1).split(")")[0]
    pts = np.array(
        [[float(v) for v in p.strip().split()] for p in outer.split(",")]
    )
    if len(pts) > 1 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    return pts


def to_wkt_polygon(ring: np.ndarray) -> str:
    pts = list(ring) + [ring[0]]
    inner = ", ".join(f"{x:g} {y:g}" for x, y in pts)
    return f"POLYGON (({inner}))"


def shoelace_area(ring: np.ndarray) -> float:
    """Absolute polygon area via the shoelace formula."""
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))) / 2.0


def bbox(ring: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


def _is_ccw(ring: np.ndarray) -> bool:
    x, y = ring[:, 0], ring[:, 1]
    return (np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)) > 0


def clip_polygon_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland–Hodgman: clip `subject` (any simple polygon) against the
    CONVEX polygon `clip`. Returns the intersection ring (possibly empty).
    Exact for the coverage-ranking use case (AOI bboxes are convex)."""
    if not _is_ccw(clip):
        clip = clip[::-1]
    output = [tuple(p) for p in subject]
    n = len(clip)
    for i in range(n):
        if not output:
            return np.empty((0, 2))
        ax, ay = clip[i]
        bx, by = clip[(i + 1) % n]
        ex, ey = bx - ax, by - ay

        def inside(p):
            return ex * (p[1] - ay) - ey * (p[0] - ax) >= 0

        def intersect(p, q):
            # t solves cross(e, p + t·d − a) = 0 → t = −cross(e, p−a)/cross(e, d)
            dx, dy = q[0] - p[0], q[1] - p[1]
            denom = ex * dy - ey * dx
            if denom == 0.0:
                # only reached when inside(p) != inside(q), which for a
                # segment PARALLEL to the clip edge (cross(e, d) == 0)
                # is possible solely through floating-point noise at
                # the edge line — both endpoints are then ON the line
                # to within ulps, so the midpoint is the intersection
                return ((p[0] + q[0]) / 2.0, (p[1] + q[1]) / 2.0)
            t = (ey * (p[0] - ax) - ex * (p[1] - ay)) / denom
            return (p[0] + t * dx, p[1] + t * dy)

        input_ring, output = output, []
        prev = input_ring[-1]
        for cur in input_ring:
            if inside(cur):
                if not inside(prev):
                    output.append(intersect(prev, cur))
                output.append(cur)
            elif inside(prev):
                output.append(intersect(prev, cur))
            prev = cur
    return np.array(output) if output else np.empty((0, 2))


def intersection_area(subject: np.ndarray, clip_convex: np.ndarray) -> float:
    inter = clip_polygon_convex(subject, clip_convex)
    return shoelace_area(inter) if len(inter) >= 3 else 0.0


def _is_convex(ring: np.ndarray) -> bool:
    """True if the ring's turns are all one sign (collinear runs allowed)."""
    n = len(ring)
    sign = 0
    for i in range(n):
        o, a, b = ring[i], ring[(i + 1) % n], ring[(i + 2) % n]
        cr = (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])
        if cr != 0:
            if sign == 0:
                sign = 1 if cr > 0 else -1
            elif (cr > 0) != (sign > 0):
                return False
    return True


def triangulate(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple polygon (no holes). O(n²),
    fine for control-plane AOI rings. Returns CCW triangles that
    partition the polygon — disjoint interiors, exact area sum."""
    pts = ring[::-1].copy() if not _is_ccw(ring) else ring.copy()
    idx = list(range(len(pts)))
    tris: list[np.ndarray] = []

    def cross(o, a, b) -> float:
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    def in_tri(p, a, b, c, inclusive: bool) -> bool:
        # inclusive: points ON the candidate ear's boundary also block it
        # — an ear diagonal grazing a reflex vertex produces a triangle
        # that pokes outside the polygon (the L-shape's (1,1) case)
        d1, d2, d3 = cross(a, b, p), cross(b, c, p), cross(c, a, p)
        if inclusive:
            return d1 >= 0 and d2 >= 0 and d3 >= 0
        return d1 > 0 and d2 > 0 and d3 > 0

    def find_ear(inclusive: bool) -> int | None:
        n = len(idx)
        for k in range(n):
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            a, b, c = pts[i0], pts[i1], pts[i2]
            if cross(a, b, c) <= 0:  # reflex or degenerate corner
                continue
            if any(
                in_tri(pts[j], a, b, c, inclusive)
                for j in idx
                if j not in (i0, i1, i2)
            ):
                continue
            return k
        return None

    guard = 0
    while len(idx) > 3:
        guard += 1
        if guard > 10_000:
            raise ValueError("triangulation did not converge (self-intersecting ring?)")
        # inclusive blocking first (correctness); strict as the progress
        # fallback when only boundary-touching ears remain (two-ears
        # theorem guarantees one under the strict test)
        k = find_ear(inclusive=True)
        if k is None:
            k = find_ear(inclusive=False)
        if k is not None:
            n = len(idx)
            i0, i1, i2 = idx[(k - 1) % n], idx[k], idx[(k + 1) % n]
            tris.append(np.array([pts[i0], pts[i1], pts[i2]]))
            idx.pop(k)
        else:
            # only degenerate (zero-area) corners left — drop one and go on
            idx.pop(0)
    if len(idx) == 3:
        a, b, c = pts[idx[0]], pts[idx[1]], pts[idx[2]]
        if cross(a, b, c) != 0:
            tris.append(np.array([a, b, c]))
    return tris


def _segments_properly_cross(p1, p2, q1, q2):
    """Intersection point of two OPEN segments crossing properly (shared
    endpoints and collinear overlap excluded), else None."""
    d1 = (p2[0] - p1[0], p2[1] - p1[1])
    d2 = (q2[0] - q1[0], q2[1] - q1[1])
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if denom == 0:
        return None
    w = (q1[0] - p1[0], q1[1] - p1[1])
    t = (w[0] * d2[1] - w[1] * d2[0]) / denom
    u = (w[0] * d1[1] - w[1] * d1[0]) / denom
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return (p1[0] + t * d1[0], p1[1] + t * d1[1])
    return None


def is_simple_ring(ring: np.ndarray) -> bool:
    """True when no two non-adjacent edges properly cross. O(n²) pair
    scan — AOI rings are control-plane-sized."""
    n = len(ring)
    for i in range(n):
        for j in range(i + 1, n):
            if j == i or (j + 1) % n == i or (i + 1) % n == j:
                continue
            if _segments_properly_cross(
                ring[i], ring[(i + 1) % n], ring[j], ring[(j + 1) % n]
            ):
                return False
    return True


def split_self_intersections(ring: np.ndarray) -> list[np.ndarray]:
    """Untwist a self-intersecting ring into SIMPLE loops.

    1. Every proper edge×edge crossing point is inserted into both edges
       (ordered by the parameter along each edge).
    2. One walk over the augmented vertex sequence with a stack: when a
       crossing point reappears, the vertices since its first visit pop
       off as one simple loop; the walk continues from the crossing.
       (A bowtie quad pops into its two triangles; a figure-eight into
       its two squares.)

    Zero-area slivers are dropped. The popped loops are simple, but NOT
    guaranteed interior-disjoint: a stroke whose core region winds more
    than once (a pentagram, a doubled loop) pops loops that overlap
    there. Callers needing union semantics must check disjointness (see
    intersection_area_general, which raises rather than double-count —
    the honest boundary of this upgrade; the full fix is a planar
    overlay à la Bentley–Ottmann)."""
    n = len(ring)
    cuts: dict[int, list[tuple[float, tuple]]] = {i: [] for i in range(n)}
    for i in range(n):
        for j in range(i + 1, n):
            if (j + 1) % n == i or (i + 1) % n == j:
                continue
            pt = _segments_properly_cross(
                ring[i], ring[(i + 1) % n], ring[j], ring[(j + 1) % n]
            )
            if pt is None:
                continue
            for e in (i, j):
                a, b = ring[e], ring[(e + 1) % n]
                d = (b[0] - a[0], b[1] - a[1])
                t = (
                    (pt[0] - a[0]) / d[0]
                    if abs(d[0]) >= abs(d[1])
                    else (pt[1] - a[1]) / d[1]
                )
                cuts[e].append((t, pt))
    walk: list[tuple] = []
    for i in range(n):
        walk.append(tuple(ring[i]))
        for _, pt in sorted(cuts[i], key=lambda c: c[0]):
            walk.append(pt)
    loops: list[np.ndarray] = []
    path: list[tuple] = []
    seen: dict[tuple, int] = {}
    for v in walk:
        if v in seen:
            k = seen[v]
            loop = np.array(path[k:])
            if len(loop) >= 3 and shoelace_area(loop) > 0:
                loops.append(loop)
            for dropped in path[k + 1 :]:
                seen.pop(dropped, None)
            path = path[: k + 1]
        else:
            seen[v] = len(path)
            path.append(v)
    if len(path) >= 3:
        tail = np.array(path)
        if shoelace_area(tail) > 0:
            loops.append(tail)
    return loops


def intersection_area_general(subject: np.ndarray, clip: np.ndarray) -> float:
    """area(subject ∩ clip) for ARBITRARY polygons — concave, and (new)
    self-intersecting clip rings under UNION semantics.

    Convex clip → one Sutherland–Hodgman pass. Concave simple clip →
    triangulated (ear clipping); the triangles partition the clip region,
    so per-triangle S–H areas sum to the exact intersection area. This is
    the general-overlay parity point with the reference's
    `gpd.overlay(..., how='union')` (imagery_store.py:249), which handles
    arbitrary AOI shapes.

    Self-intersecting clip → untwisted into simple loops
    (:func:`split_self_intersections`) and answered under UNION
    semantics by inclusion–exclusion over the loops: disjoint-loop
    strokes (bowties, figure-eights) reduce to the plain sum, and
    overlapping-loop strokes (a pentagram's winding-2 core) subtract
    the pairwise overlaps back out — exact, because every k-way loop
    intersection decomposes into iterated convex (triangle) clips."""
    if not is_simple_ring(clip):
        loops = split_self_intersections(clip)
        return _union_intersection_area(subject, loops)
    if _is_convex(clip):
        return intersection_area(subject, clip)
    return sum(intersection_area(subject, tri) for tri in triangulate(clip))


def _loop_triangles(lp: np.ndarray) -> list:
    return [lp] if _is_convex(lp) else triangulate(lp)


def _multi_clip_area(subject: np.ndarray, tri_lists) -> float:
    """area(subject ∩ loop_1 ∩ … ∩ loop_m) given each loop's (interior-
    disjoint) triangle decomposition — the running piece set stays
    interior-disjoint through every convex clip, so the final areas sum
    without double counting."""
    pieces = [subject]
    for tris in tri_lists:
        nxt = []
        for piece in pieces:
            for tri in tris:
                inter = clip_polygon_convex(piece, tri)
                if len(inter) >= 3:
                    nxt.append(inter)
        pieces = nxt
        if not pieces:
            return 0.0
    return sum(shoelace_area(p) for p in pieces)


def _edges_of(ring: np.ndarray) -> list:
    out = []
    n = len(ring)
    for i in range(n):
        p, q = ring[i], ring[(i + 1) % n]
        if p[0] != q[0] or p[1] != q[1]:
            out.append((float(p[0]), float(p[1]), float(q[0]), float(q[1])))
    return out


def _crossing_xs(e1, e2) -> list:
    """x-coordinates where two segments meet (proper crossing or T/endpoint
    touch) — the slab cuts that make per-slab segment order constant.
    Collinear overlaps need no cut: their endpoints are vertex cuts."""
    x1, y1, x2, y2 = e1
    x3, y3, x4, y4 = e2
    d1x, d1y = x2 - x1, y2 - y1
    d2x, d2y = x4 - x3, y4 - y3
    denom = d1x * d2y - d1y * d2x
    if denom == 0.0:
        return []
    t = ((x3 - x1) * d2y - (y3 - y1) * d2x) / denom
    u = ((x3 - x1) * d1y - (y3 - y1) * d1x) / denom
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return [x1 + t * d1x]
    return []


def _slab_union_area(subject: np.ndarray, loops) -> float:
    """area(subject ∩ (loop_1 ∪ … ∪ loop_n)) by vertical-slab trapezoid
    decomposition — the planar-arrangement answer whose cost is
    polynomial in vertices + crossings instead of 2^k in mutually
    overlapping loops (this is what retires the old 8-loop guard; the
    reference's gpd.overlay has no such cap, imagery_store.py:249).

    Cut x's = every vertex x + every pairwise edge-crossing x (subject
    edges included). Between consecutive cuts no two spanning segments
    cross, so their vertical order is constant and the plane decomposes
    into trapezoidal bands; each band's membership (inside subject AND
    inside ≥1 loop) is decided once at its midpoint and its area is the
    exact trapezoid integral. Exact for piecewise-linear boundaries —
    the same decomposition Bentley–Ottmann sweeps, built directly from
    the O(E²) crossing set (polygon edge counts here are small; the
    sweep's O((n+k)log n) event queue would buy nothing but bugs)."""
    rings = [np.asarray(subject, dtype=float)] + [
        np.asarray(lp, dtype=float) for lp in loops
    ]
    edges = [e for ring in rings for e in _edges_of(ring)]
    xs: set[float] = set()
    for x1, _, x2, _ in edges:
        xs.add(x1)
        xs.add(x2)
    for i in range(len(edges)):
        for j in range(i + 1, len(edges)):
            xs.update(_crossing_xs(edges[i], edges[j]))
    cuts = sorted(xs)
    total = 0.0
    for xa, xb in zip(cuts, cuts[1:]):
        if xb <= xa:
            continue
        xm = 0.5 * (xa + xb)
        span = []
        for x1, y1, x2, y2 in edges:
            lo, hi = (x1, x2) if x1 <= x2 else (x2, x1)
            if lo <= xa and hi >= xb:  # endpoints are cuts ⇒ exact test
                s = (y2 - y1) / (x2 - x1)
                span.append(
                    (y1 + (xm - x1) * s, y1 + (xa - x1) * s, y1 + (xb - x1) * s)
                )
        span.sort()
        for (ym1, ya1, yb1), (ym2, ya2, yb2) in zip(span, span[1:]):
            if ym2 <= ym1:
                continue
            ymid = 0.5 * (ym1 + ym2)
            if point_in_polygon(xm, ymid, rings[0]) and any(
                point_in_polygon(xm, ymid, lp) for lp in rings[1:]
            ):
                total += (xb - xa) * ((ya2 - ya1) + (yb2 - yb1)) * 0.5
    return total


def _union_intersection_area(subject: np.ndarray, loops) -> float:
    """area(subject ∩ (loop_1 ∪ … ∪ loop_n)).

    Inclusion–exclusion is only paid where it is needed: loops are first
    grouped into OVERLAP CLUSTERS (connected components of the pairwise-
    overlap graph); clusters are interior-disjoint from each other, so
    their contributions sum plainly, and the 2^k expansion runs per
    cluster — a stroke of many disjoint bowties stays O(n), while a
    pentagram's overlapping pair still subtracts its core. Each loop is
    triangulated exactly once and the triangle lists are reused across
    every subset term. Clusters past 8 mutually overlapping loops
    switch to the slab decomposition (:func:`_slab_union_area`), whose
    cost is polynomial — no winding structure is refused anymore."""
    from itertools import combinations

    tris = [_loop_triangles(lp) for lp in loops]
    n = len(loops)
    # pairwise-overlap graph → clusters via union-find
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in range(n):
        for b in range(a + 1, n):
            if _multi_clip_area(loops[a], [tris[b]]) > 1e-12:
                parent[find(a)] = find(b)
    clusters: dict[int, list[int]] = {}
    for i in range(n):
        clusters.setdefault(find(i), []).append(i)

    total = 0.0
    for members in clusters.values():
        if len(members) > 8:
            # 2^k inclusion–exclusion would blow up — answer this
            # cluster with the polynomial planar decomposition instead
            total += _slab_union_area(subject, [loops[i] for i in members])
            continue
        for r in range(1, len(members) + 1):
            sign = 1.0 if r % 2 == 1 else -1.0
            for combo in combinations(members, r):
                total += sign * _multi_clip_area(
                    subject, [tris[i] for i in combo]
                )
    return total


_WKT_MULTI_RE = re.compile(r"MULTIPOLYGON\s*\((.+)\)\s*$", re.IGNORECASE | re.DOTALL)
#: one MULTIPOLYGON member = '((outer[,holes...]))'; `.*?` spans the
#: '),(' hole separators so members WITH holes still match
_MEMBER_RE = re.compile(r"\(\((.*?)\)\)(?=\s*,|\s*$)", re.DOTALL)


def _ring_points(coord_text: str) -> np.ndarray:
    pts = np.array(
        [[float(v) for v in p.strip().split()] for p in coord_text.split(",")]
    )
    if len(pts) > 1 and np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    return pts


def parse_wkt_rings(wkt: str) -> list[np.ndarray]:
    """POLYGON → [outer ring]; MULTIPOLYGON → [outer ring per member].
    Holes (interior rings) are dropped — use :func:`parse_wkt_signed_rings`
    when holes must participate in area arithmetic."""
    m = _WKT_MULTI_RE.search(wkt)
    if m:
        rings = []
        for member in _MEMBER_RE.finditer(m.group(1)):
            # member text is 'outer' or 'outer),(hole1),(hole2' —
            # the outer ring is everything before the first ')'
            rings.append(_ring_points(member.group(1).split(")")[0]))
        if not rings:
            raise ValueError(f"no polygon members parsed from {wkt[:80]!r}")
        return rings
    return [parse_wkt_polygon(wkt)]


_RING_SPLIT_RE = re.compile(r"\)\s*,\s*\(")


def parse_wkt_signed_rings(wkt: str) -> list[tuple[np.ndarray, int]]:
    """Every ring of a POLYGON/MULTIPOLYGON with its area sign: outer
    rings +1, interior rings (holes) −1. WKT validity semantics (holes
    lie inside their outer ring and are mutually disjoint) make signed
    area sums exact: area(member) = Σ sign·area(ring)."""
    out: list[tuple[np.ndarray, int]] = []
    m = _WKT_MULTI_RE.search(wkt)
    if m:
        for member in _MEMBER_RE.finditer(m.group(1)):
            ring_texts = _RING_SPLIT_RE.split(member.group(1))
            out.append((_ring_points(ring_texts[0]), 1))
            out.extend((_ring_points(t), -1) for t in ring_texts[1:])
        if not out:
            raise ValueError(f"no polygon members parsed from {wkt[:80]!r}")
        return out
    p = _WKT_POLY_RE.search(wkt)
    if not p:
        raise ValueError(f"not a WKT polygon: {wkt[:80]!r}")
    ring_texts = _RING_SPLIT_RE.split(p.group(1))
    out.append((_ring_points(ring_texts[0]), 1))
    out.extend((_ring_points(t), -1) for t in ring_texts[1:])
    return out


def multi_intersection_area(
    subject_wkt: str,
    clip_rings: "list[np.ndarray] | list[tuple[np.ndarray, int]]",
) -> float:
    """area(subject ∩ clip) for hole-bearing multi-part polygons on both
    sides, by signed inclusion-exclusion over ring pairs:

        Σ_s Σ_c sign(s)·sign(c)·area(ring_s ∩ ring_c)

    Exact under WKT validity (members disjoint, holes inside their outer
    and disjoint): subtracting hole∩clip-outer removes hole area once,
    and adding hole∩clip-hole restores the doubly-subtracted overlap.
    ``clip_rings`` accepts plain ring arrays (treated as outers, the
    pre-hole call shape) or (ring, sign) pairs from
    :func:`parse_wkt_signed_rings`."""
    signed_clip = [
        c if isinstance(c, tuple) else (c, 1) for c in clip_rings
    ]
    return sum(
        s_sign * c_sign * intersection_area_general(s, c)
        for s, s_sign in parse_wkt_signed_rings(subject_wkt)
        for c, c_sign in signed_clip
    )


def point_in_polygon(px: float, py: float, ring: np.ndarray) -> bool:
    """Ray-casting point-in-polygon (edges count as inside)."""
    n = len(ring)
    inside = False
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if min(y1, y2) <= py <= max(y1, y2):
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            if cross == 0 and min(x1, x2) <= px <= max(x1, x2):
                return True
        if (y1 > py) != (y2 > py):
            xin = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if px < xin:
                inside = not inside
    return inside


# --- Spark-facing vectorized UDFs ----------------------------------------
def make_coverage_ratio_udf(aoi_wkt: str):
    """UDF: exact area(footprint ∩ AOI) / area(AOI) for each footprint WKT.

    Exact-overlay variant of operators.selection.with_coverage_ratio —
    needed when footprints are not axis-aligned (true Sentinel-2 swath
    footprints are clipped parallelograms). Handles CONCAVE AOIs
    (triangulated clip), multi-part AOIs, MULTIPOLYGON footprints, and
    interior rings (holes) on both sides via signed ring arithmetic.

    CATALOG-SCALE ONLY: the body maps a Python lambda per row inside
    the Arrow batch (the polygon kernel is per-geometry recursive
    clipping, not vectorizable) — fine for its only use, ranking a few
    hundred catalog footprints per AOI; do NOT lift it onto a
    billion-row table. The scale paths are the bbox fast path
    (operators.selection.with_coverage_ratio, pure JVM expressions)
    and the grid-partitioned spatial join (operators.spatial_join)."""
    aoi_rings = parse_wkt_signed_rings(aoi_wkt)
    aoi_area = sum(sign * shoelace_area(r) for r, sign in aoi_rings)

    @F.pandas_udf(DoubleType())
    def _ratio(wkts: pd.Series) -> pd.Series:
        return wkts.map(
            lambda w: multi_intersection_area(w, aoi_rings) / aoi_area
        )

    return _ratio


def make_intersects_udf(aoi_wkt: str):
    aoi_rings = parse_wkt_signed_rings(aoi_wkt)

    @F.pandas_udf(BooleanType())
    def _intersects(wkts: pd.Series) -> pd.Series:
        return wkts.map(
            lambda w: multi_intersection_area(w, aoi_rings) > 0.0
        )

    return _intersects
