"""The SQL-text SAT renderer (``spatial.sat_refine``) against the scalar
intersects oracle.

Each row's expected answer is the size guard (1 <= point count <= max)
AND ``testlib.oracle_intersects`` of the convex hull of its points, over
real-shaped corners, closed rings and an edge-case battery (NULL array,
empty, undersized, oversized, degenerate points). The AOIs are a
lopsided quad, a thin triangle and an axis-aligned rect, so the
true-hit flag sees rows inside, crossing and outside.

A regression in the SQL renderer (literal suffix, precedence, comment
lexing — the ``x--60.0D`` trap, ANSI errors from eager point accessors)
shows up here without needing the slower scalar-oracle fuzz to hit the
broken case.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from pyrosar_spark import geom
from pyrosar_spark.operators.spatial import corner_points, ring_points, sat_refine
from tests.testlib import bbox_ring, oracle_intersects

# a lopsided convex quad and a thin triangle, both with negative
# coordinates so the minus-minus comment trap is exercised, and a rect
# large enough to hold whole scenes
AOI_QUAD = np.array(
    [[-61.3, -12.7], [4.25, -9.5], [6.75, 8.125], [-59.875, 3.5],
     [-61.3, -12.7]]
)
AOI_TRI = np.array([[10.0, 40.0], [11.5, 40.25], [10.75, 47.0], [10.0, 40.0]])
AOI_RECT = bbox_ring(-40.0, -5.0, 0.0, 30.0)


def _corner_rows():
    """Corner arrays spanning every point count incl. NULL routing."""
    rng = np.random.default_rng(77)
    rows = []
    for _ in range(300):  # random quads around both AOIs
        cx, cy = rng.uniform(-70, 20), rng.uniform(-20, 50)
        pts = np.column_stack(
            [cx + rng.uniform(-8, 8, 4), cy + rng.uniform(-8, 8, 4)]
        )
        rows.append([{"lon": float(x), "lat": float(y)} for x, y in pts])
    # size 1..3 (undersized), 5 (oversized -> dropped), empty, NULL
    base = [{"lon": -60.0, "lat": -10.0}, {"lon": 5.0, "lat": -10.0},
            {"lon": 5.0, "lat": 5.0}, {"lon": -60.0, "lat": 5.0},
            {"lon": -60.0, "lat": -10.0}]
    for k in (1, 2, 3, 5):
        rows.append(base[:k])
    rows.append([])
    rows.append(None)
    # degenerate: all four points identical (zero-area "hull")
    rows.append([{"lon": 1.0, "lat": 1.0}] * 4)
    return rows


def _ring_rows():
    """Closed flat rings with 2..5 distinct points + closure, plus
    degenerate and NULL shapes."""
    rng = np.random.default_rng(78)
    rows = []
    for _ in range(300):
        k = int(rng.integers(2, 6))  # 2..5 points
        cx, cy = rng.uniform(-70, 20), rng.uniform(-20, 50)
        pts = np.column_stack(
            [cx + rng.uniform(-8, 8, k), cy + rng.uniform(-8, 8, k)]
        )
        flat = np.vstack([pts, pts[:1]]).ravel()
        rows.append([float(v) for v in flat])
    rows.append([float(v) for v in (-60.0, -10.0, -60.0, -10.0)])  # point
    rows.append([])
    rows.append(None)
    # oversized: 6 points + closure -> dropped
    hexa = np.array([[0, 0], [2, 0], [3, 1], [2, 2], [0, 2], [-1, 1], [0, 0]],
                    dtype=np.float64)
    rows.append([float(v) for v in hexa.ravel()])
    return rows


GEOMETRIES = {
    # column type, rows, points accessor, row -> (k, 2) point array
    "corners": ("array<struct<lon double, lat double>>", _corner_rows,
                corner_points("g"),
                lambda r: np.array([[p["lon"], p["lat"]] for p in r]).reshape(-1, 2)),
    "ring": ("array<double>", _ring_rows, ring_points("g"),
             lambda r: np.asarray(r, dtype=np.float64).reshape(-1, 2)),
}


def _expected(pts: np.ndarray | None, max_pts: int, aoi: np.ndarray) -> bool:
    if pts is None or not 1 <= len(pts) <= max_pts:
        return False
    hull = geom.convex_hull_ring(pts)
    return oracle_intersects(hull, aoi)


@pytest.mark.parametrize("aoi", [AOI_QUAD, AOI_TRI, AOI_RECT], ids=["quad", "tri", "rect"])
@pytest.mark.parametrize("geometry", sorted(GEOMETRIES))
def test_sat_refine_matches_numpy_kernel(spark, geometry, aoi):
    col_type, make_rows, points, to_pts = GEOMETRIES[geometry]
    rows = make_rows()
    df = spark.createDataFrame(list(enumerate(rows)), f"id long, g {col_type}")
    binds, conds = sat_refine(points, aoi)
    for bind in binds:
        df = df.selectExpr("*", f"inline({bind})")
    inside = {r.id for r in df.where("_sat_in").collect()}
    for cond in conds:
        df = df.where(cond)
    got = {r.id for r in df.collect()}

    max_pts = points[2]
    want = {i for i, r in enumerate(rows)
            if _expected(None if r is None else to_pts(r), max_pts, aoi)}
    assert got == want, f"got^want={sorted(got ^ want)}"
    assert inside <= want
    assert 0 < len(want) < len(rows)
    if aoi is AOI_RECT:  # true hits and exact-path hits both occur
        assert inside and want - inside


def test_non_finite_aoi_coordinate_rejected_at_render_time():
    """``infD``/``nanD`` are JVM parse errors with no useful message;
    the renderer must refuse non-finite coordinates up front."""
    bad = np.array([[0.0, 0.0], [1.0, 0.0], [np.inf, 1.0], [0.0, 0.0]])
    with pytest.raises(ValueError, match="non-finite"):
        sat_refine(ring_points("ring"), bad)


def test_sql_text_has_no_comment_or_decimal_traps():
    """The rendered SQL must never contain the two lexing traps the
    renderer exists to avoid: a double literal without the D suffix
    (silently parses as DECIMAL and poisons the arithmetic) and a
    bare ``--`` (lexes as a line comment, truncating the predicate)."""
    binds, conds = sat_refine(ring_points("ring"), AOI_QUAD)
    txt = "\n".join(binds + conds)
    assert "--" not in txt
    # every float literal carries the D suffix
    bare = [
        m.group(0)
        for m in re.finditer(r"\d+\.\d+(?:[eE][+-]?\d+)?(.)?", txt)
        if (m.group(1) or "") != "D"
    ]
    assert bare == [], f"bare double literals: {bare[:5]}"
