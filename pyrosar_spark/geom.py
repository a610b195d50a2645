"""Pure-numpy planar geometry kernels (no GDAL/shapely dependency).

These back the vectorized pandas/Arrow UDFs: convex-hull footprint
construction (reference: ``pyroSAR/drivers.py:287-342`` — multipoint →
convex hull → counter-clockwise exterior ring) and WKB/WKT encoding
(``pyroSAR/archive.py:469-475`` stores ``SRID=4326;`` + WKT). The
polygon-intersection test standing in for SpatiaLite's
``st_intersects`` (``pyroSAR/archive.py:1070``) is not here: it runs
JVM-side, in :mod:`pyrosar_spark.operators.spatial`.

The batch entry point is vectorized over many polygons at once so a
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
    """The one ring of a single-feature WKT polygon. The reference takes
    exactly one feature (``archive.py:1060-1061``), so MULTI* and
    GEOMETRYCOLLECTION raise its more-than-one-feature error. A polygon
    with an interior ring is one feature there, but a ring has no
    holes, so it raises rather than lose the hole."""
    if wkt.lstrip().upper().startswith(("MULTI", "GEOMETRYCOLLECTION")):
        raise RuntimeError("'vectorobject' contains more than one feature.")
    if "),(" in "".join(wkt.split()):
        raise RuntimeError("AOI polygons with interior rings are not supported")
    inner = wkt[wkt.index("((") + 2 : wkt.rindex("))")]
    pts = [tuple(map(float, p.split())) for p in inner.split(",")]
    return np.asarray(pts, dtype=np.float64)


# --------------------------------------------------------------------------
# flat-ring helpers (engine-internal geometry representation:
# array<double> [lon0, lat0, lon1, lat1, ...], closed CCW canonical ring)
# --------------------------------------------------------------------------


def flat_to_ring(flat) -> np.ndarray:
    return np.asarray(flat, dtype=np.float64).reshape(-1, 2)


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
