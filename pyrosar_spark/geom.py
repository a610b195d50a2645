"""Pure-numpy planar geometry kernels (no GDAL/shapely dependency).

These back the vectorized pandas/Arrow UDFs: convex-hull footprint
construction (reference: ``pyroSAR/drivers.py:287-342`` — multipoint →
convex hull → counter-clockwise exterior ring), WKB/WKT encoding
(``pyroSAR/archive.py:469-475`` stores ``SRID=4326;`` + WKT), and
polygon-intersection tests standing in for SpatiaLite's
``st_intersects`` (``pyroSAR/archive.py:1070``).

All batch entry points are vectorized over many polygons at once so a
single Arrow batch (tens of thousands of footprints) is processed with
a handful of numpy ops — no per-row Python in the hot path.
"""

from __future__ import annotations

import struct as _struct

import numpy as np

# --------------------------------------------------------------------------
# convex hull / ring handling
# --------------------------------------------------------------------------


def convex_hull_ring(points: np.ndarray) -> np.ndarray:
    """Convex hull of 2-D points as a closed CCW ring.

    Mirrors the reference's footprint construction
    (``drivers.py:316-331``): hull of the coordinate multipoint with a
    counter-clockwise exterior ring. The ring is rotated to start at
    the lowest-y (then lowest-x) vertex and is closed (first == last),
    giving a canonical vertex order so WKT/WKB round-trips are
    deterministic.
    """
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    pts = np.unique(pts, axis=0)  # lexicographic sort by (x, y)
    n = len(pts)
    if n == 0:
        raise ValueError("empty point set")
    if n == 1:
        p = pts[0]
        return np.array([p, p], dtype=np.float64)
    if n == 2:
        return np.array([pts[0], pts[1], pts[0]], dtype=np.float64)

    def _half(seq: np.ndarray) -> list[np.ndarray]:
        out: list[np.ndarray] = []
        for p in seq:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = _half(pts)
    upper = _half(pts[::-1])
    hull = np.array(lower[:-1] + upper[:-1], dtype=np.float64)  # CCW
    # rotate: start at min-y, tie-break min-x
    start = np.lexsort((hull[:, 0], hull[:, 1]))[0]
    hull = np.roll(hull, -start, axis=0)
    return np.vstack([hull, hull[:1]])


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (positive for CCW rings)."""
    x, y = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    return float(np.sum(x * y2 - x2 * y) / 2.0)


# --------------------------------------------------------------------------
# WKB / WKT  (little-endian ISO WKB, polygon with one exterior ring)
# --------------------------------------------------------------------------

_WKB_POLYGON = 3


def ring_to_wkb(ring: np.ndarray) -> bytes:
    ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    head = _struct.pack("<BII", 1, _WKB_POLYGON, 1) + _struct.pack("<I", len(ring))
    return head + ring.astype("<f8").tobytes()


def _fmt(v: float) -> str:
    """Shortest decimal text (``12.0268`` not ``12.026800``)."""
    s = f"{v:.10f}".rstrip("0").rstrip(".")
    return s if s not in ("-0", "") else "0"


def ring_to_wkt(ring: np.ndarray) -> str:
    body = ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in np.asarray(ring).reshape(-1, 2))
    return f"POLYGON(({body}))"


def wkt_to_ring(wkt: str) -> np.ndarray:
    inner = wkt[wkt.index("((") + 2 : wkt.rindex("))")]
    pts = [tuple(map(float, p.split())) for p in inner.split(",")]
    return np.asarray(pts, dtype=np.float64)


# --------------------------------------------------------------------------
# point-in-polygon / polygon-polygon intersect, batched
# --------------------------------------------------------------------------


def points_in_ring(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number containment of many points vs one ring.

    Boundary points may report either side; callers that need OGC
    "intersects" semantics combine this with the edge test below.
    """
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    vx, vy = ring[:-1, 0], ring[:-1, 1]
    wx, wy = ring[1:, 0], ring[1:, 1]
    px = pts[:, 0][:, None]
    py = pts[:, 1][:, None]
    cond = (vy[None, :] > py) != (wy[None, :] > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = vx[None, :] + (py - vy[None, :]) / (wy[None, :] - vy[None, :]) * (
            wx[None, :] - vx[None, :]
        )
    crossing = cond & (px < xint)
    return (crossing.sum(axis=1) % 2).astype(bool)


def _orient(ax, ay, bx, by, cx, cy):
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def _on_segment(ax, ay, bx, by, px, py):
    return (
        (np.minimum(ax, bx) <= px)
        & (px <= np.maximum(ax, bx))
        & (np.minimum(ay, by) <= py)
        & (py <= np.maximum(ay, by))
    )


def segments_intersect_batch(seg_a: np.ndarray, seg_b: np.ndarray) -> np.ndarray:
    """(N,2,2) × (M,2,2) → bool (N,M); includes touching/collinear overlap."""
    a1 = seg_a[:, 0, :][:, None, :]
    a2 = seg_a[:, 1, :][:, None, :]
    b1 = seg_b[None, :, 0, :]
    b2 = seg_b[None, :, 1, :]
    d1 = _orient(b1[..., 0], b1[..., 1], b2[..., 0], b2[..., 1], a1[..., 0], a1[..., 1])
    d2 = _orient(b1[..., 0], b1[..., 1], b2[..., 0], b2[..., 1], a2[..., 0], a2[..., 1])
    d3 = _orient(a1[..., 0], a1[..., 1], a2[..., 0], a2[..., 1], b1[..., 0], b1[..., 1])
    d4 = _orient(a1[..., 0], a1[..., 1], a2[..., 0], a2[..., 1], b2[..., 0], b2[..., 1])
    proper = (
        (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0)))
        & (((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0)))
    )
    touch = (
        ((d1 == 0) & _on_segment(b1[..., 0], b1[..., 1], b2[..., 0], b2[..., 1], a1[..., 0], a1[..., 1]))
        | ((d2 == 0) & _on_segment(b1[..., 0], b1[..., 1], b2[..., 0], b2[..., 1], a2[..., 0], a2[..., 1]))
        | ((d3 == 0) & _on_segment(a1[..., 0], a1[..., 1], a2[..., 0], a2[..., 1], b1[..., 0], b1[..., 1]))
        | ((d4 == 0) & _on_segment(a1[..., 0], a1[..., 1], a2[..., 0], a2[..., 1], b2[..., 0], b2[..., 1]))
    )
    return proper | touch


class FlatRings:
    """A batch of polygons flattened for vectorized tests.

    Built once per Arrow batch: rings concatenated into one (V,2)
    vertex array with per-polygon offsets, so edge tests and
    containment reduce to broadcast numpy ops + ``reduceat``.
    """

    def __init__(self, rings: list[np.ndarray]):
        self.n = len(rings)
        counts = np.fromiter((len(r) for r in rings), dtype=np.int64, count=self.n)
        self.offsets = np.concatenate([[0], np.cumsum(counts)])
        self.verts = (
            np.concatenate(rings, axis=0)
            if self.n
            else np.empty((0, 2), dtype=np.float64)
        )
        # edge list: consecutive vertex pairs within each ring
        keep = np.ones(len(self.verts), dtype=bool)
        if self.n:
            keep[self.offsets[1:] - 1] = False  # last vertex of each ring starts no edge
        idx = np.nonzero(keep)[0]
        self.edge_start = self.verts[idx]
        self.edge_end = self.verts[idx + 1]
        self.edge_poly = np.searchsorted(self.offsets, idx, side="right") - 1
        # first vertex of each polygon
        self.first_vertex = (
            self.verts[self.offsets[:-1]] if self.n else np.empty((0, 2))
        )

    def intersects(self, ring: np.ndarray) -> np.ndarray:
        """bool (n,): does each polygon intersect ``ring``?"""
        if self.n == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(self.n, dtype=bool)
        # 1. any edge pair intersects
        if len(self.edge_start):
            segs_a = np.stack([self.edge_start, self.edge_end], axis=1)
            segs_b = np.stack([ring[:-1], ring[1:]], axis=1)
            hit = segments_intersect_batch(segs_a, segs_b).any(axis=1)
            np.logical_or.at(out, self.edge_poly, hit)
        # 2. polygon fully inside ring
        out |= points_in_ring(self.first_vertex, ring)
        # 3. ring fully inside polygon: crossing count of ring[0] vs each poly
        out |= self._contains_point(ring[0])
        return out

    def _contains_point(self, p: np.ndarray) -> np.ndarray:
        if len(self.edge_start) == 0:
            return np.zeros(self.n, dtype=bool)
        vx, vy = self.edge_start[:, 0], self.edge_start[:, 1]
        wx, wy = self.edge_end[:, 0], self.edge_end[:, 1]
        px, py = float(p[0]), float(p[1])
        cond = (vy > py) != (wy > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = vx + (py - vy) / (wy - vy) * (wx - vx)
        crossing = (cond & (px < xint)).astype(np.int64)
        counts = np.zeros(self.n, dtype=np.int64)
        np.add.at(counts, self.edge_poly, crossing)
        return (counts % 2).astype(bool)


# --------------------------------------------------------------------------
# flat-ring helpers (engine-internal geometry representation:
# array<double> [lon0, lat0, lon1, lat1, ...], closed CCW canonical ring)
# --------------------------------------------------------------------------


def flat_to_ring(flat) -> np.ndarray:
    return np.asarray(flat, dtype=np.float64).reshape(-1, 2)


def rings_from_flat_batch(flats) -> list[np.ndarray]:
    """Series/list of flat rings → list of (P,2) arrays, one concatenate."""
    items = [np.asarray(f, dtype=np.float64) for f in flats]
    return [a.reshape(-1, 2) for a in items]


def flat_batch_intersects(flats, aoi_ring: np.ndarray) -> np.ndarray:
    return FlatRings(rings_from_flat_batch(flats)).intersects(aoi_ring)


# --------------------------------------------------------------------------
# vectorized batch kernels (the Arrow-UDF hot path)
# --------------------------------------------------------------------------


def hull_rings_batch(coords: list) -> list[np.ndarray]:
    """Convex-hull rings for a batch of coordinate lists.

    Fast path: rows with exactly 4 distinct points forming a convex
    quad (the universal SAR-footprint case) are hulled fully
    vectorized — angular sort around the centroid, convexity check,
    canonical min-y rotation. Everything else falls back to the exact
    per-row monotone chain.
    """
    n = len(coords)
    out: list[np.ndarray | None] = [None] * n
    quad_idx = [i for i, c in enumerate(coords) if c is not None and len(c) == 4]
    if quad_idx:
        # Arrow hands nested arrays over as object ndarrays — one vstack
        # of all inner points, then reshape to (M, 4, 2)
        pts = np.vstack([p for i in quad_idx for p in coords[i]]).astype(
            np.float64
        ).reshape(-1, 4, 2)
        cx = pts[..., 0].mean(axis=1, keepdims=True)
        cy = pts[..., 1].mean(axis=1, keepdims=True)
        theta = np.arctan2(pts[..., 1] - cy, pts[..., 0] - cx)
        order = np.argsort(theta, axis=1)
        rows = np.arange(len(pts))[:, None]
        poly = pts[rows, order]  # CCW candidate
        nxt = np.roll(poly, -1, axis=1)
        nxt2 = np.roll(poly, -2, axis=1)
        cross = (nxt[..., 0] - poly[..., 0]) * (nxt2[..., 1] - poly[..., 1]) - (
            nxt[..., 1] - poly[..., 1]
        ) * (nxt2[..., 0] - poly[..., 0])
        convex = (cross > 0).all(axis=1)  # strictly convex quad, CCW
        if convex.any():
            good = poly[convex]
            # rotate so ring starts at (min y, then min x) — exact
            # two-key argmin (a weighted scalar key like y*1e9+x lets x
            # dominate when two y values differ by < ~3.6e-7°, which
            # would pick a different start than convex_hull_ring's
            # lexsort and make the canonical rotation path-dependent)
            y = good[..., 1]
            x = np.where(y == y.min(axis=1, keepdims=True), good[..., 0], np.inf)
            start = np.argmin(x, axis=1)
            g_rows = np.arange(len(good))[:, None]
            shift_idx = (np.arange(4)[None, :] + start[:, None]) % 4
            rolled = good[g_rows, shift_idx]
            rings = np.concatenate([rolled, rolled[:, :1]], axis=1)  # (K,5,2)
            for k, i in enumerate(np.asarray(quad_idx)[convex]):
                out[i] = rings[k]
    for i in range(n):
        if out[i] is None:
            c = coords[i]
            if c is None or len(c) == 0:
                out[i] = None
            else:
                # Arrow nested lists arrive as object arrays of arrays
                out[i] = convex_hull_ring(np.vstack([np.asarray(p) for p in c]))
    return out
