"""Planar geometry predicates/measures on parsed WKT shapes.

Implements the subset of shapely the reference's operators need (SURVEY
F20, J5-J7, A6): area, intersects, intersection-area, buffer (bbox),
point-in-polygon, validity repair (ring closing / de-duplication) — in pure
Python.  Exterior rings only (holes are rare in municipal service layers and
excluded from area by subtraction where present).

Intersection *area* uses Sutherland–Hodgman clipping, which is exact when
the clip polygon is convex; for concave clips it returns the clipped-hull
approximation — documented, and adequate for the proportional-overlap
threshold test (J5's ``>5%`` rule).  The Sedona path (ST_Intersection /
ST_Area) replaces this wholesale at scale.
"""

from __future__ import annotations

from service_alerts_connector_spark.geo.wkt import MultiPolygon, Polygon, Ring


def ring_area(ring: Ring) -> float:
    """Shoelace area (absolute)."""
    n = len(ring)
    if n < 3:
        return 0.0
    s = 0.0
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def polygon_area(poly: Polygon) -> float:
    """Exterior minus holes."""
    if not poly:
        return 0.0
    return ring_area(poly[0]) - sum(ring_area(r) for r in poly[1:])


def multipolygon_area(mp: MultiPolygon) -> float:
    return sum(polygon_area(p) for p in mp)


def point_in_ring(pt: tuple[float, float], ring: Ring) -> bool:
    """Ray-casting point-in-polygon (boundary counts as inside)."""
    x, y = pt
    inside = False
    n = len(ring)
    for i in range(n):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % n]
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
        # boundary check (collinear + within segment bbox)
        if (
            min(x1, x2) - 1e-12 <= x <= max(x1, x2) + 1e-12
            and min(y1, y2) - 1e-12 <= y <= max(y1, y2) + 1e-12
            and abs((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)) < 1e-12
        ):
            return True
    return inside


def _segments_intersect(p1, p2, p3, p4) -> bool:
    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        if abs(v) < 1e-15:
            return 0
        return 1 if v > 0 else -1

    def on_seg(a, b, c):
        return (
            min(a[0], b[0]) - 1e-15 <= c[0] <= max(a[0], b[0]) + 1e-15
            and min(a[1], b[1]) - 1e-15 <= c[1] <= max(a[1], b[1]) + 1e-15
        )

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    return (
        (o1 == 0 and on_seg(p1, p2, p3))
        or (o2 == 0 and on_seg(p1, p2, p4))
        or (o3 == 0 and on_seg(p3, p4, p1))
        or (o4 == 0 and on_seg(p3, p4, p2))
    )


def bbox(ring: Ring) -> tuple[float, float, float, float]:
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    return min(xs), min(ys), max(xs), max(ys)


def bbox_polygon(
    minx: float, miny: float, maxx: float, maxy: float
) -> Polygon:
    """F20 — bbox → polygon (geocoder point/bbox responses)."""
    return [[(minx, miny), (maxx, miny), (maxx, maxy), (minx, maxy), (minx, miny)]]


def buffer_bbox(poly: Polygon, dist: float) -> Polygon:
    """Cheap buffer: expanded bounding box (the reference buffers by tiny
    ε ~1e-4° to fix degeneracies — bbox expansion serves the same purpose)."""
    minx, miny, maxx, maxy = bbox(poly[0])
    return bbox_polygon(minx - dist, miny - dist, maxx + dist, maxy + dist)


def rings_intersect(a: Ring, b: Ring) -> bool:
    """Polygon-intersects test: any edge crossing, or containment either way."""
    aminx, aminy, amaxx, amaxy = bbox(a)
    bminx, bminy, bmaxx, bmaxy = bbox(b)
    if aminx > bmaxx or bminx > amaxx or aminy > bmaxy or bminy > amaxy:
        return False
    na, nb = len(a), len(b)
    for i in range(na):
        for j in range(nb):
            if _segments_intersect(
                a[i], a[(i + 1) % na], b[j], b[(j + 1) % nb]
            ):
                return True
    return point_in_ring(a[0], b) or point_in_ring(b[0], a)


def polygons_intersect(pa: Polygon, pb: Polygon) -> bool:
    if not pa or not pb:
        return False
    return rings_intersect(pa[0], pb[0])


def clip_to_convex(subject: Ring, clip: Ring) -> Ring:
    """Sutherland–Hodgman: clip ``subject`` by convex ``clip`` ring."""
    # ensure counter-clockwise clip orientation for a consistent inside test
    s = 0.0
    n = len(clip)
    for i in range(n):
        x1, y1 = clip[i]
        x2, y2 = clip[(i + 1) % n]
        s += x1 * y2 - x2 * y1
    cw = s < 0
    out = [p for p in subject]
    for i in range(n):
        if not out:
            return []
        a, b = clip[i], clip[(i + 1) % n]
        if cw:
            a, b = b, a

        def inside(p):
            return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (
                p[0] - a[0]
            ) >= -1e-15

        def intersect(p, q):
            dx1, dy1 = q[0] - p[0], q[1] - p[1]
            dx2, dy2 = b[0] - a[0], b[1] - a[1]
            denom = dx1 * dy2 - dy1 * dx2
            if abs(denom) < 1e-18:
                return q
            t = ((a[0] - p[0]) * dy2 - (a[1] - p[1]) * dx2) / denom
            return (p[0] + t * dx1, p[1] + t * dy1)

        nxt: Ring = []
        m = len(out)
        for j in range(m):
            cur, prev = out[j], out[j - 1]
            if inside(cur):
                if not inside(prev):
                    nxt.append(intersect(prev, cur))
                nxt.append(cur)
            elif inside(prev):
                nxt.append(intersect(prev, cur))
        out = nxt
    return out


def as_axis_rect(
    poly: Polygon,
) -> tuple[float, float, float, float] | None:
    """(minx, miny, maxx, maxy) if ``poly`` is a hole-free axis-aligned
    rectangle, else None.  Detects 4-corner rings (open or closed) whose
    every edge is axis-parallel — the dominant shape in zone grids,
    bounding-box layers, and tile footprints, where intersection area
    collapses to O(1) interval arithmetic instead of two O(n·m) clips."""
    if not poly or len(poly) != 1:
        return None
    ring = poly[0]
    if ring and ring[0] == ring[-1]:
        ring = ring[:-1]
    if len(ring) != 4:
        return None
    for i in range(4):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % 4]
        if x1 != x2 and y1 != y2:
            return None
    xs = [p[0] for p in ring]
    ys = [p[1] for p in ring]
    lo_x, hi_x, lo_y, hi_y = min(xs), max(xs), min(ys), max(ys)
    # exactly two distinct values per axis (degenerate slivers fall through
    # to the generic path, which handles zero-area inputs)
    if len(set(xs)) != 2 or len(set(ys)) != 2:
        return None
    # the 4 vertices must be pairwise distinct — i.e. exactly the 4 corner
    # combinations.  A repeated-vertex ring like (0,0),(1,0),(1,1),(1,0)
    # has every edge axis-parallel and two values per axis but shoelace
    # area 0; treating it as the full rect would report bbox overlap
    # instead of ~0, so it falls through to the generic path.
    if len(set(ring)) != 4:
        return None
    return lo_x, lo_y, hi_x, hi_y


def intersection_area(pa: Polygon, pb: Polygon) -> float:
    """Area of pa ∩ pb via Sutherland–Hodgman (exact for convex pb; see
    module docstring).  Tries both orders and takes the tighter estimate.

    Fast path: when both polygons are axis-aligned rectangles
    (``as_axis_rect``), the area is exact interval arithmetic — same value
    the clip would produce (SH of two rects is exact), ~100× cheaper."""
    ra, rb = as_axis_rect(pa), as_axis_rect(pb)
    if ra is not None and rb is not None:
        w = min(ra[2], rb[2]) - max(ra[0], rb[0])
        h = min(ra[3], rb[3]) - max(ra[1], rb[1])
        return w * h if (w > 0 and h > 0) else 0.0
    if not polygons_intersect(pa, pb):
        return 0.0
    a1 = ring_area(clip_to_convex(pa[0], pb[0]))
    a2 = ring_area(clip_to_convex(pb[0], pa[0]))
    return min(a1, a2)


def merge_bboxes(
    boxes: list[tuple[float, float, float, float]]
) -> tuple[float, float, float, float] | None:
    """Union bbox of a list of bboxes (None for an empty list)."""
    if not boxes:
        return None
    return (
        min(b[0] for b in boxes),
        min(b[1] for b in boxes),
        max(b[2] for b in boxes),
        max(b[3] for b in boxes),
    )


def bboxes_overlap(
    a: tuple[float, float, float, float],
    b: tuple[float, float, float, float],
) -> bool:
    return not (a[0] > b[2] or b[0] > a[2] or a[1] > b[3] or b[1] > a[3])


class GridIndex:
    """Uniform-grid spatial index over bboxes.

    ``operators.spatial.overlay_footprints`` builds one per task over the
    work set's footprint bboxes and queries it with each streamed layer
    feature; ``candidates(bbox)`` returns only the indices whose grid
    cells overlap the query bbox, cutting the exact-geometry candidate set
    from O(footprints) to O(footprints in nearby cells).  This is the single-node analogue of the
    spatial partitioning Sedona's ST_Intersects join does cluster-wide
    (reference overlay: ServiceAlertAugmenter.py:649-681 relies on
    geopandas' R-tree for the same pruning).

    Cell count scales with sqrt(n) per axis (capped at 256) so average
    occupancy stays O(1) for uniformly spread layers; features spanning
    multiple cells are registered in each.
    """

    def __init__(
        self,
        bboxes: list[tuple[float, float, float, float] | None],
        max_cells_per_axis: int = 256,
    ):
        present = [(i, b) for i, b in enumerate(bboxes) if b is not None]
        self._cells: dict[tuple[int, int], list[int]] = {}
        self._minx = self._miny = 0.0
        self._sx = self._sy = 1.0
        self._nx = self._ny = 1
        if not present:
            return
        minx = min(b[0] for _, b in present)
        miny = min(b[1] for _, b in present)
        maxx = max(b[2] for _, b in present)
        maxy = max(b[3] for _, b in present)
        n_axis = max(1, min(max_cells_per_axis, int(len(present) ** 0.5)))
        self._nx = self._ny = n_axis
        self._minx, self._miny = minx, miny
        self._sx = ((maxx - minx) / n_axis) or 1.0
        self._sy = ((maxy - miny) / n_axis) or 1.0
        for i, (bminx, bminy, bmaxx, bmaxy) in present:
            for cx in range(self._cx(bminx), self._cx(bmaxx) + 1):
                for cy in range(self._cy(bminy), self._cy(bmaxy) + 1):
                    self._cells.setdefault((cx, cy), []).append(i)

    def _cx(self, x: float) -> int:
        return min(self._nx - 1, max(0, int((x - self._minx) / self._sx)))

    def _cy(self, y: float) -> int:
        return min(self._ny - 1, max(0, int((y - self._miny) / self._sy)))

    def candidates(
        self, box: tuple[float, float, float, float]
    ) -> set[int]:
        minx, miny, maxx, maxy = box
        out: set[int] = set()
        for cx in range(self._cx(minx), self._cx(maxx) + 1):
            for cy in range(self._cy(miny), self._cy(maxy) + 1):
                out.update(self._cells.get((cx, cy), ()))
        return out


def make_valid(ring: Ring) -> Ring:
    """F20 make_valid-lite: close the ring and drop consecutive duplicates."""
    if not ring:
        return ring
    out: Ring = [ring[0]]
    for p in ring[1:]:
        if p != out[-1]:
            out.append(p)
    if out[0] != out[-1]:
        out.append(out[0])
    return out


def union_as_multipolygon(polys: list[Polygon]) -> MultiPolygon:
    """A6 unary_union stand-in: collect into a MULTIPOLYGON (no dissolve —
    downstream consumers treat the footprint as a region set; Sedona's
    ST_Union_Aggr provides true dissolve at scale)."""
    return [p for p in polys if p]
