"""Geometry kernel goldens: the numpy hull and WKT/WKB encoders, and
the JVM polygon-intersects kernel on hand-made cases.

Golden WKT from the reference catalog round-trip
(tests/test_archive.py:48-53 in the reference repo).
"""

import numpy as np

from pyrosar_spark import geom
from pyrosar_spark.operators.spatial import rings_intersect_jvm
from tests.testlib import bbox_ring, wkb_to_ring

S1_CORNERS = [
    [12.0268, 50.688881],
    [11.653832, 52.183979],
    [8.017178, 51.788181],
    [8.505644, 50.295261],
]
S1_GOLDEN_WKT = (
    "POLYGON((8.505644 50.295261, 12.0268 50.688881, "
    "11.653832 52.183979, 8.017178 51.788181, 8.505644 50.295261))"
)


def test_hull_golden_wkt():
    ring = geom.convex_hull_ring(S1_CORNERS)
    assert geom.ring_to_wkt(ring) == S1_GOLDEN_WKT
    assert geom.ring_area(ring) > 0  # CCW


def test_hull_interior_point_removed():
    pts = S1_CORNERS + [[10.0, 51.0]]
    ring = geom.convex_hull_ring(pts)
    assert len(ring) == 5  # 4 vertices + closing


def test_wkb_roundtrip():
    ring = geom.convex_hull_ring(S1_CORNERS)
    back = wkb_to_ring(geom.ring_to_wkb(ring))
    assert np.allclose(back, ring)
    assert geom.wkt_to_ring(geom.ring_to_wkt(ring)).shape == ring.shape


def _jvm_intersects(spark, pairs) -> list[bool]:
    """:func:`rings_intersect_jvm` of each (ring_a, ring_b) pair."""
    rows = [(i, [float(v) for v in np.ravel(a)], [float(v) for v in np.ravel(b)])
            for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "i int, a array<double>, b array<double>")
    out = df.select("i", rings_intersect_jvm("a", "b").alias("hit")).orderBy("i")
    return [r.hit for r in out.collect()]


def test_points_in_ring(spark):
    """Containment of one-vertex (point) rings, on either side."""
    box = bbox_ring(0, 0, 10, 10)
    pts = [np.array([p], dtype=np.float64) for p in ([5, 5], [15, 5], [-1, -1], [9.99, 9.99])]
    want = [True, False, False, True]
    assert _jvm_intersects(spark, [(p, box) for p in pts]) == want
    assert _jvm_intersects(spark, [(box, p) for p in pts]) == want


def test_intersects_overlap_contain_disjoint(spark):
    scene = geom.convex_hull_ring(S1_CORNERS)
    overlap = bbox_ring(11.5, 51.1, 11.9, 51.5)  # inside footprint
    disjoint = bbox_ring(12.5, 53.0, 13.0, 54.0)
    container = bbox_ring(0, 40, 20, 60)
    crossing = bbox_ring(11.9, 49.0, 12.5, 51.0)  # crosses right edge
    res = _jvm_intersects(
        spark, [(scene, aoi) for aoi in (overlap, disjoint, container, crossing)]
    )
    assert res == [True, False, True, True]


def test_batch_intersects_mixed(spark):
    rings = [
        bbox_ring(0, 0, 1, 1),
        bbox_ring(5, 5, 6, 6),
        bbox_ring(0.5, 0.5, 0.6, 0.6),  # inside AOI
    ]
    aoi = bbox_ring(0, 0, 2, 2)
    assert _jvm_intersects(spark, [(r, aoi) for r in rings]) == [True, False, True]
