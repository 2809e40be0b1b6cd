"""Exact-geometry kernels: vectorized numpy, no geometry library.

These are the "refine" half of the engine's two-phase spatial joins
(the prune half is the tile grid in tiles.py). They run inside
Arrow-batched pandas UDFs — numpy array code over whole batches, never
per-row Python.

Semantics reproduced from the reference's PostGIS usage (SURVEY.md
§2.8): ST_Intersects/ST_Contains for point-vs-polygon (J1-J8),
ST_ConvexHull + ST_LongestLine + ST_Length(geography) for the street
importance formula (A4, export_json_dept_voies_rapprochees.sql:64),
ST_Extent for bboxes (A8).
"""

from __future__ import annotations

import numpy as np


def points_in_polygon(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Even-odd ray-casting PIP, vectorized over points.

    ``verts`` is an (n, 2) float array of the polygon ring (closed or
    open — closure is implied). Boundary behaviour is the standard
    even-odd rule; callers that need ST_Intersects' boundary-inclusive
    semantics should buffer predicates (the synthetic fixtures never
    place points exactly on edges).
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    v = np.asarray(verts, dtype=np.float64)
    if len(v) and (v[0] == v[-1]).all():
        v = v[:-1]
    x1, y1 = v[:, 0], v[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    # (points, edges) broadcast
    pyc = py[:, None]
    pxc = px[:, None]
    crosses = (y1[None, :] > pyc) != (y2[None, :] > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (pyc - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    hits = crosses & (pxc < xint)
    return hits.sum(axis=1) % 2 == 1


def polygon_bbox(verts: np.ndarray):
    v = np.asarray(verts, dtype=np.float64)
    return float(v[:, 0].min()), float(v[:, 1].min()), float(v[:, 0].max()), float(v[:, 1].max())


def _segments_intersect_box(x1, y1, x2, y2, bxmin, bymin, bxmax, bymax) -> np.ndarray:
    """For each segment, does it intersect the axis-aligned box?

    Liang–Barsky clip test, vectorized over segments.
    """
    dx = x2 - x1
    dy = y2 - y1
    shape = np.broadcast_shapes(x1.shape, np.shape(bxmin))
    t0 = np.zeros(shape)
    t1 = np.ones(shape)
    ok = np.ones(shape, dtype=bool)
    for p, q in (
        (-dx, x1 - bxmin),
        (dx, bxmax - x1),
        (-dy, y1 - bymin),
        (dy, bymax - y1),
    ):
        parallel = p == 0
        # parallel and outside -> no intersection
        ok &= ~(parallel & (q < 0))
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(parallel, 0.0, q / np.where(p == 0, 1.0, p))
        ent = (~parallel) & (p < 0)
        ext = (~parallel) & (p > 0)
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(ext, np.minimum(t1, r), t1)
    return ok & (t0 <= t1)


def cover_polygon(verts: np.ndarray, z: int):
    """Cell cover of a polygon on the slippy grid at zoom ``z``.

    Returns (tx, ty, interior) int/bool arrays. ``interior`` cells lie
    entirely inside the polygon (points there skip the exact PIP
    refine); the rest are boundary cells that need refinement. This is
    the raster half of the raster<->vector commune-grid stage (the
    reference's tile->INSEE assignment, bano/models.py:330-360,
    generalized to any zoom).
    """
    from . import tiles

    v = np.asarray(verts, dtype=np.float64)
    xmin, ymin, xmax, ymax = polygon_bbox(v)
    s = tiles.cell_size(z)
    tx0 = int(np.floor((xmin - tiles.ORIGIN) / s))
    tx1 = int(np.floor((xmax - tiles.ORIGIN) / s))
    ty0 = int(np.floor((-tiles.ORIGIN - ymax) / s))
    ty1 = int(np.floor((-tiles.ORIGIN - ymin) / s))
    txs = np.arange(tx0, tx1 + 1, dtype=np.int64)
    tys = np.arange(ty0, ty1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(txs, tys, indexing="ij")
    gx = gx.ravel()
    gy = gy.ravel()
    bxmin = tiles.ORIGIN + s * gx
    bxmax = tiles.ORIGIN + s * (gx + 1)
    bymax = -tiles.ORIGIN - s * gy
    bymin = -tiles.ORIGIN - s * (gy + 1)

    # corner containment (4 PIP calls over all tiles at once)
    c_in = np.ones(gx.shape, dtype=bool)
    n_in = np.zeros(gx.shape, dtype=np.int64)
    for cx, cy in ((bxmin, bymin), (bxmin, bymax), (bxmax, bymin), (bxmax, bymax)):
        inside = points_in_polygon(cx, cy, v)
        c_in &= inside
        n_in += inside

    # does any polygon edge cross the tile box? (edges x tiles)
    vv = v if not (len(v) and (v[0] == v[-1]).all()) else v[:-1]
    ex1, ey1 = vv[:, 0], vv[:, 1]
    ex2, ey2 = np.roll(ex1, -1), np.roll(ey1, -1)
    crossed = np.zeros(gx.shape, dtype=bool)
    # chunk tiles to bound memory at (edges x chunk)
    chunk = max(1, 4_000_000 // max(len(ex1), 1))
    for i in range(0, len(gx), chunk):
        sl = slice(i, i + chunk)
        hit = _segments_intersect_box(
            ex1[:, None], ey1[:, None], ex2[:, None], ey2[:, None],
            bxmin[None, sl], bymin[None, sl], bxmax[None, sl], bymax[None, sl],
        )
        crossed[sl] = hit.any(axis=0)

    interior = c_in & ~crossed
    keep = crossed | (n_in > 0)
    keep |= interior
    return gx[keep], gy[keep], interior[keep]


def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain. Returns hull vertices CCW, (h, 2)."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)
    if len(p) <= 2:
        return p
    # lexicographic sort already done by np.unique
    def half(points):
        out = []
        for q in points:
            while len(out) >= 2 and np.cross(out[-1] - out[-2], q - out[-2]) <= 0:
                out.pop()
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    return np.array(lower[:-1] + upper[:-1])


def haversine_m(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle distance in meters (geography-length stand-in for
    ST_Length(geography) in the importance formula, A4)."""
    r = 6371008.8
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * r * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def hull_longest_line_m(lons: np.ndarray, lats: np.ndarray) -> float:
    """max geodesic distance between convex-hull vertices — reproduces
    st_length(st_longestline(...)::geography) over collected street
    points (export_json_dept_voies_rapprochees.sql:64)."""
    pts = np.column_stack([lons, lats])
    h = convex_hull(pts)
    if len(h) < 2:
        return 0.0
    i, j = np.triu_indices(len(h), k=1)
    d = haversine_m(h[i, 0], h[i, 1], h[j, 0], h[j, 1])
    return float(d.max()) if len(d) else 0.0


def _find(parent: np.ndarray, i: int) -> int:
    while parent[i] != i:
        parent[i] = parent[parent[i]]
        i = parent[i]
    return i


def line_merge(segments: np.ndarray) -> list[np.ndarray]:
    """ST_LineMerge semantics (A6, point_par_rue_insee_nocache.sql:26):
    join segments that share endpoints into maximal polylines. Returns
    a list of (k, 2) vertex arrays, one per merged line, each walked
    from a degree-1 endpoint (or an arbitrary vertex for closed rings).
    Union-find over exact endpoint equality — runs per street group
    inside an Arrow UDF, so groups are small."""
    seg = np.asarray(segments, dtype=np.float64).reshape(-1, 4)
    n = len(seg)
    if n == 0:
        return []
    pts: dict[tuple, int] = {}
    ends = np.empty((n, 2), dtype=np.int64)
    adj: list[list[tuple[int, int]]] = []
    for i in range(n):
        for j, p in enumerate(((seg[i, 0], seg[i, 1]), (seg[i, 2], seg[i, 3]))):
            if p not in pts:
                pts[p] = len(pts)
                adj.append([])
            ends[i, j] = pts[p]
        adj[ends[i, 0]].append((i, ends[i, 1]))
        adj[ends[i, 1]].append((i, ends[i, 0]))
    coords = {v: k for k, v in pts.items()}
    parent = np.arange(n)
    vert_seg: dict[int, list[int]] = {}
    for i in range(n):
        for v in ends[i]:
            vert_seg.setdefault(int(v), []).append(i)
    # ST_LineMerge merges only through degree-2 vertices: a junction
    # (3+ incident segments) breaks the line there
    for segs_at_v in vert_seg.values():
        if len(segs_at_v) == 2:
            ra, rb = _find(parent, segs_at_v[0]), _find(parent, segs_at_v[1])
            if ra != rb:
                parent[rb] = ra
    comps: dict[int, list[int]] = {}
    for i in range(n):
        comps.setdefault(_find(parent, i), []).append(i)
    out = []
    for comp in comps.values():
        verts = {int(v) for i in comp for v in ends[i]}
        deg = {v: len([s for s in vert_seg[v] if _find(parent, s) in comps and s in comp])
               for v in verts}
        start = min((v for v in verts if deg[v] == 1), default=min(verts))
        # walk the chain
        line = [start]
        used: set[int] = set()
        cur = start
        while True:
            nxt = None
            for s, other in adj[cur]:
                if s in used or s not in comp:
                    continue
                nxt = (s, other)
                break
            if nxt is None:
                break
            used.add(nxt[0])
            cur = nxt[1]
            line.append(cur)
        out.append(np.array([coords[v] for v in line], dtype=np.float64))
    return out


def merge_overlapping_boxes(boxes: np.ndarray) -> np.ndarray:
    """A7 (suffix-zone construction): the reference buffers points and
    ST_Unions overlapping buffers per (commune, hameau)
    (pre_process_suffixe.py:32-45). Box approximation: union-find over
    pairwise box overlap, each component collapses to its bounding box.
    Input (n, 4) [xmin, ymin, xmax, ymax]; output (m, 4) merged."""
    b = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    n = len(b)
    if n == 0:
        return b
    parent = np.arange(n)
    for i in range(n):
        ov = ((b[:, 0] <= b[i, 2]) & (b[:, 2] >= b[i, 0])
              & (b[:, 1] <= b[i, 3]) & (b[:, 3] >= b[i, 1]))
        for j in np.flatnonzero(ov):
            ri, rj = _find(parent, i), _find(parent, int(j))
            if ri != rj:
                parent[rj] = ri
    roots = np.array([_find(parent, i) for i in range(n)])
    out = []
    for r in np.unique(roots):
        m = roots == r
        out.append([b[m, 0].min(), b[m, 1].min(), b[m, 2].max(), b[m, 3].max()])
    return np.array(out, dtype=np.float64)


def polygon_area_centroid(verts: np.ndarray):
    """Shoelace area + area-weighted centroid of a simple ring
    (ST_Area / ST_Centroid for polygons). Returns (area, cx, cy);
    area is positive regardless of winding."""
    v = np.asarray(verts, dtype=np.float64)
    if len(v) and (v[0] == v[-1]).all():
        v = v[:-1]
    x, y = v[:, 0], v[:, 1]
    x2, y2 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y2 - x2 * y
    a2 = cross.sum()
    if a2 == 0:
        return 0.0, float(x.mean()), float(y.mean())
    cx = ((x + x2) * cross).sum() / (3.0 * a2)
    cy = ((y + y2) * cross).sum() / (3.0 * a2)
    return abs(a2) / 2.0, float(cx), float(cy)


def cells_to_rings(cells: np.ndarray) -> list[np.ndarray]:
    """Raster -> vector: boundary rings of a set of unit grid cells
    (the inverse of cover_polygon's vector -> raster; together they
    close the north rule's raster<->vector commune-grid stage).

    Each cell (x, y) spans [x, x+1) x [y, y+1). Every cell contributes
    its 4 directed edges with the interior on the LEFT (CCW); edges
    shared by two cells cancel, and the survivors are stitched into
    closed loops — outer boundaries come out CCW (positive shoelace
    area), holes CW (negative). Pinch vertices (diagonally-touching
    cells) are resolved by preferring the sharpest LEFT turn, which
    keeps every emitted ring simple. Collinear runs are compressed.

    Returns a list of (k, 2) float vertex arrays (closed: last ==
    first), in cell coordinates — multiply by the cell size and add
    the grid origin for world coordinates.
    """
    c = np.asarray(cells, dtype=np.int64).reshape(-1, 2)
    if len(c) == 0:
        return []
    occ = {(int(x), int(y)) for x, y in c}
    edges: dict[tuple, list] = {}

    def add(a, b):
        edges.setdefault(a, []).append(b)

    for (x, y) in occ:
        if (x, y - 1) not in occ:
            add((x, y), (x + 1, y))          # bottom, east-bound
        if (x + 1, y) not in occ:
            add((x + 1, y), (x + 1, y + 1))  # right, north-bound
        if (x, y + 1) not in occ:
            add((x + 1, y + 1), (x, y + 1))  # top, west-bound
        if (x - 1, y) not in occ:
            add((x, y + 1), (x, y))          # left, south-bound

    # left-turn preference order per incoming direction (dx, dy):
    # left, straight, right (a U-turn cannot occur on cancelled grids)
    def pick(prev_dir, outs):
        if len(outs) == 1:
            return outs[0]
        px, py = prev_dir
        pref = [(-py, px), (px, py), (py, -px)]  # left, straight, right
        for d in pref:
            for o in outs:
                if (o[0], o[1]) == d:
                    return o
        return outs[0]

    rings: list[np.ndarray] = []
    while edges:
        start = next(iter(edges))
        ring = [start]
        outs = edges[start]
        cur = outs.pop()
        if not outs:
            del edges[start]
        prev_dir = (cur[0] - start[0], cur[1] - start[1])
        while cur != start:
            ring.append(cur)
            outs = edges[cur]
            nxt_abs = pick(prev_dir, [(o[0] - cur[0], o[1] - cur[1])
                                      for o in outs])
            nxt = (cur[0] + nxt_abs[0], cur[1] + nxt_abs[1])
            outs.remove(nxt)
            if not outs:
                del edges[cur]
            prev_dir = nxt_abs
            cur = nxt
        ring.append(start)
        v = np.array(ring, dtype=np.float64)
        # compress collinear runs (axis-aligned: drop midpoints)
        keep = [0]
        for i in range(1, len(v) - 1):
            d0 = v[i] - v[keep[-1]]
            d1 = v[i + 1] - v[i]
            if d0[0] * d1[1] - d0[1] * d1[0] != 0:
                keep.append(i)
        keep.append(len(v) - 1)
        rings.append(v[keep])
    return rings


def rings_intersect(va: np.ndarray, vb: np.ndarray) -> bool:
    """Exact polygon-polygon intersects test for simple rings: true iff
    the interiors/boundaries meet — (a) bbox overlap gate, (b) either
    ring's first vertex inside the other (containment), (c) any proper
    edge crossing (vectorized orientation tests over A-edges x
    B-edges). Collinear-touch cases (measure-zero for float data) are
    not special-cased; callers with adversarial inputs should jitter
    or use exact arithmetic."""
    va = np.asarray(va, dtype=np.float64)
    vb = np.asarray(vb, dtype=np.float64)
    axmin, aymin, axmax, aymax = polygon_bbox(va)
    bxmin, bymin, bxmax, bymax = polygon_bbox(vb)
    if axmin > bxmax or bxmin > axmax or aymin > bymax or bymin > aymax:
        return False
    if points_in_polygon(va[:1, 0], va[:1, 1], vb)[0]:
        return True
    if points_in_polygon(vb[:1, 0], vb[:1, 1], va)[0]:
        return True
    a = va[:-1] if len(va) > 1 and (va[0] == va[-1]).all() else va
    b = vb[:-1] if len(vb) > 1 and (vb[0] == vb[-1]).all() else vb
    p1 = a
    p2 = np.roll(a, -1, axis=0)
    q1 = b
    q2 = np.roll(b, -1, axis=0)

    def orient(ox, oy, ax_, ay_, bx_, by_):
        return (ax_ - ox) * (by_ - oy) - (ay_ - oy) * (bx_ - ox)

    # broadcast A-edges (n,1) against B-edges (1,m)
    d1 = orient(q1[None, :, 0], q1[None, :, 1], q2[None, :, 0],
                q2[None, :, 1], p1[:, None, 0], p1[:, None, 1])
    d2 = orient(q1[None, :, 0], q1[None, :, 1], q2[None, :, 0],
                q2[None, :, 1], p2[:, None, 0], p2[:, None, 1])
    d3 = orient(p1[:, None, 0], p1[:, None, 1], p2[:, None, 0],
                p2[:, None, 1], q1[None, :, 0], q1[None, :, 1])
    d4 = orient(p1[:, None, 0], p1[:, None, 1], p2[:, None, 0],
                p2[:, None, 1], q2[None, :, 0], q2[None, :, 1])
    return bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any())
