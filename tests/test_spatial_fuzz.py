"""Differential fuzz for the spatial path (VERDICT r4 #4): P8
``select(aoi_wkt=...)`` and J1 ``spatial_join`` vs an INDEPENDENT
scalar polygon-intersect oracle.

No shapely and no DuckDB spatial extension exist in this sandbox, so
the oracle is a from-scratch per-pair implementation in this file —
scalar orientation/segment tests and ray-casting containment, sharing
no code with the vectorized ``pyrosar_spark.geom`` kernels it checks.
Both sides consume numerically identical inputs (the AOI ring is
round-tripped through the same WKT string; scene rings are the same
float arrays), so any disagreement is an algorithm bug, not float
noise.

Case mix per the round-4 verdict: seeded random convex AOIs + scenes,
antimeridian-adjacent AOIs, polar-adjacent AOIs, degenerate
(zero-width / zero-area) boxes, exact shared-edge contact, and full
containment both ways.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyrosar_spark import geom
from pyrosar_spark.operators.select import select
from pyrosar_spark.operators.spatial import aoi_frame, spatial_join

# ---------------------------------------------------------------- oracle


def _orient(a, b, c):
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _on_seg(a, b, p):
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _segments_intersect(p1, p2, q1, q2):
    d1 = _orient(q1, q2, p1)
    d2 = _orient(q1, q2, p2)
    d3 = _orient(p1, p2, q1)
    d4 = _orient(p1, p2, q2)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True
    if d1 == 0 and _on_seg(q1, q2, p1):
        return True
    if d2 == 0 and _on_seg(q1, q2, p2):
        return True
    if d3 == 0 and _on_seg(p1, p2, q1):
        return True
    if d4 == 0 and _on_seg(p1, p2, q2):
        return True
    return False


def _point_in_ring(p, ring):
    inside = False
    for i in range(len(ring) - 1):
        (vx, vy), (wx, wy) = ring[i], ring[i + 1]
        if (vy > p[1]) != (wy > p[1]):
            xint = vx + (p[1] - vy) / (wy - vy) * (wx - vx)
            if p[0] < xint:
                inside = not inside
    return inside


def _oracle_intersects(ra, rb) -> bool:
    """Touching counts; either fully inside the other counts."""
    ra = [tuple(p) for p in np.asarray(ra, dtype=np.float64).reshape(-1, 2)]
    rb = [tuple(p) for p in np.asarray(rb, dtype=np.float64).reshape(-1, 2)]
    for i in range(len(ra) - 1):
        for j in range(len(rb) - 1):
            if _segments_intersect(ra[i], ra[i + 1], rb[j], rb[j + 1]):
                return True
    # no edge crossings → strictly inside or strictly outside; test
    # EVERY vertex (stronger than the engine's first-vertex shortcut)
    if any(_point_in_ring(p, rb) for p in ra[:-1]):
        return True
    if any(_point_in_ring(p, ra) for p in rb[:-1]):
        return True
    return False


# ------------------------------------------------------------ generators


def _convex_ring(rng, cx, cy, rmax):
    n = int(rng.integers(3, 8))
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    rx = rng.uniform(0.3, rmax)
    ry = rng.uniform(0.3, rmax)
    pts = np.stack([cx + rx * np.cos(angles), cy + ry * np.sin(angles)], axis=1)
    return np.vstack([pts, pts[:1]])


def _concave_ring(rng, cx, cy, rmax):
    """Star-shaped (hence simple) but CONCAVE: alternating radii."""
    n = 2 * int(rng.integers(3, 6))
    angles = np.sort(rng.uniform(0, 2 * np.pi, n))
    radii = np.where(np.arange(n) % 2 == 0, rmax, rmax * 0.35)
    pts = np.stack(
        [cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1
    )
    return np.vstack([pts, pts[:1]])


def _scene_rows(rng, n):
    rows = []
    for i in range(n):
        cx = rng.uniform(-178, 178)
        cy = rng.uniform(-84, 84)
        pts = np.array([cx, cy]) + rng.uniform(-1.5, 1.5, (4, 2))
        ring = geom.convex_hull_ring(pts)
        rows.append((
            f"s{i:04d}",
            float(ring[:, 0].min()), float(ring[:, 0].max()),
            float(ring[:, 1].min()), float(ring[:, 1].max()),
            [float(v) for v in ring.reshape(-1)],
        ))
    return rows


SCENE_SCHEMA = ("doc_id string, xmin double, xmax double, "
                "ymin double, ymax double, ring array<double>")


def _aoi_cases(rng, scenes):
    """(aoi_id, wkt) list: 40 random convex + targeted adversarial."""
    cases = []
    for i in range(40):
        ring = _convex_ring(rng, rng.uniform(-172, 172), rng.uniform(-80, 80),
                            rmax=6.0)
        cases.append((f"rand{i:02d}", geom.ring_to_wkt(ring)))
    for i in range(8):  # concave star AOIs (spatial_join's JVM refine
        # must handle arbitrary simple polygons, not just convex)
        ring = _concave_ring(rng, rng.uniform(-170, 170), rng.uniform(-78, 78),
                             rmax=rng.uniform(2.0, 7.0))
        cases.append((f"conc{i:02d}", geom.ring_to_wkt(ring)))
    # antimeridian-adjacent (does NOT cross; engine is planar)
    cases.append(("anti_e", geom.ring_to_wkt(_convex_ring(rng, 179.0, 10.0, 0.9))))
    cases.append(("anti_w", geom.ring_to_wkt(_convex_ring(rng, -179.0, -10.0, 0.9))))
    # polar-adjacent
    cases.append(("polar_n", geom.ring_to_wkt(_convex_ring(rng, 30.0, 84.0, 1.5))))
    cases.append(("polar_s", geom.ring_to_wkt(_convex_ring(rng, -60.0, -84.0, 1.5))))
    # containment both ways around scene 0
    s0 = np.asarray(scenes[0][5]).reshape(-1, 2)
    cx, cy = s0[:-1, 0].mean(), s0[:-1, 1].mean()
    cases.append(("tiny_inside",
                  geom.ring_to_wkt(geom.bbox_ring(cx - 1e-3, cy - 1e-3,
                                                  cx + 1e-3, cy + 1e-3))))
    cases.append(("huge_around",
                  geom.ring_to_wkt(geom.bbox_ring(s0[:, 0].min() - 5,
                                                  s0[:, 1].min() - 5,
                                                  s0[:, 0].max() + 5,
                                                  s0[:, 1].max() + 5))))
    # exact shared-edge contact: box whose left edge IS the scene bbox's
    # right edge (touch, zero overlap area)
    xmax, ymin, ymax2 = scenes[1][2], scenes[1][3], scenes[1][4]
    cases.append(("shared_edge",
                  geom.ring_to_wkt(geom.bbox_ring(xmax, ymin, xmax + 2.0, ymax2))))
    # degenerate boxes: zero width (a vertical segment) and zero area
    cases.append(("deg_line", geom.ring_to_wkt(
        np.array([[cx, cy - 2], [cx, cy + 2], [cx, cy - 2]]))))
    cases.append(("deg_point", geom.ring_to_wkt(
        np.array([[cx, cy], [cx, cy], [cx, cy]]))))
    return cases


@pytest.fixture(scope="module")
def fuzz_world(spark):
    rng = np.random.default_rng(20260817)
    scenes = _scene_rows(rng, 250)
    cases = _aoi_cases(rng, scenes)
    sdf = spark.createDataFrame(scenes, SCENE_SCHEMA)
    expected = {
        (s[0], aid)
        for aid, wkt in cases
        for s in scenes
        if _oracle_intersects(np.asarray(s[5]), geom.wkt_to_ring(wkt))
    }
    return scenes, cases, sdf, expected


def test_spatial_join_fuzz_vs_scalar_oracle(spark, fuzz_world):
    """The JVM refine (:func:`rings_intersect_jvm`) against the scalar
    oracle, incl. the concave star AOIs."""
    scenes, cases, sdf, expected = fuzz_world
    adf = aoi_frame(spark, cases)
    got = {
        (r["doc_id"], r["aoi_id"])
        for r in spatial_join(sdf, adf)
        .select("doc_id", "aoi_id").collect()
    }
    missing = expected - got
    extra = got - expected
    assert not missing and not extra, (
        "spatial_join disagrees with oracle: "
        f"missing={sorted(missing)[:10]} extra={sorted(extra)[:10]}"
    )
    # sanity: the adversarial cases produce hits (the fuzz isn't vacuous)
    hit_aois = {a for _, a in got}
    assert {"tiny_inside", "huge_around", "shared_edge"} <= hit_aois
    assert any(a.startswith("conc") for a in hit_aois), "no concave AOI hits"


def test_select_aoi_fuzz_vs_scalar_oracle(spark, fuzz_world):
    """``select`` against the oracle: convex AOIs take the JVM SAT over
    raw points, the concave star and degenerate AOIs the Arrow kernel."""
    scenes, cases, sdf, expected = fuzz_world
    # P8 path: one select() per AOI — run the targeted cases + a sample
    # of the random ones (each select is a separate Spark action)
    chosen = [c for c in cases if not c[0].startswith("rand")] + cases[:8]
    for aid, wkt in chosen:
        got = {
            r["doc_id"]
            for r in select(sdf, aoi_wkt=wkt, return_value=["doc_id"]).collect()
        }
        want = {s for (s, a) in expected if a == aid}
        assert got == want, f"select(aoi={aid}): got^want={got ^ want}"


def test_jvm_convex_refine_is_python_free(spark, fuzz_world):
    """The plan property the round-5 scaling work depends on: a convex
    AOI select contains NO Python stage at all (no ArrowEvalPython /
    BatchEvalPython), and the corners-based flagship shape skips the
    hull UDF too."""
    scenes, cases, sdf, expected = fuzz_world
    wkt = geom.ring_to_wkt(geom.bbox_ring(-20.0, -20.0, 20.0, 20.0))
    p = (
        select(sdf, aoi_wkt=wkt, return_value=["doc_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # concave AOI falls back to the Arrow kernel
    concave = "POLYGON((0 0, 10 0, 10 10, 5 2, 0 10, 0 0))"
    p2 = (
        select(sdf, aoi_wkt=concave, return_value=["doc_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in p2
