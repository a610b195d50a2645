"""Differential fuzz for the spatial path (VERDICT r4 #4): P8
``select(aoi_wkt=...)`` and J1 ``spatial_join`` vs an INDEPENDENT
scalar polygon-intersect oracle.

No shapely and no DuckDB spatial extension are available, so the
oracle is the from-scratch per-pair ``testlib.oracle_intersects`` —
scalar orientation/segment tests and ray-casting containment, sharing
no code with the JVM kernels it checks. Both sides consume numerically
identical inputs (the AOI ring is round-tripped through the same WKT
string; scene rings are the same float arrays), so any disagreement is
an algorithm bug, not float noise.

Case mix per the round-4 verdict: seeded random convex AOIs + scenes,
antimeridian-adjacent AOIs, polar-adjacent AOIs, degenerate
(zero-width / zero-area) boxes, exact shared-edge contact, and full
containment both ways, and a one-vertex (point) AOI.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from pyrosar_spark import geom
from pyrosar_spark.operators.select import select
from pyrosar_spark.operators.spatial import aoi_frame, spatial_join
from tests.testlib import bbox_ring, oracle_intersects, plan_text

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


def _box_row(doc_id, x0, y0, x1, y1):
    return (doc_id, x0, x1, y0, y1, [float(v) for v in bbox_ring(x0, y0, x1, y1).reshape(-1)])


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
    # grid edges: a full-longitude strip (its lon 180 column once aliased
    # onto the next row's lon -180 cell), a scene in the lon -180 column
    # with a kNN neighbor across the date line, and scenes touching each
    # pole with a neighbor one row off it
    rows.append(_box_row("full_lon", -180.0, 9.5, 180.0, 10.5))
    rows.append(_box_row("dateline_w", -180.0, -10.4, -179.5, -9.8))
    rows.append(_box_row("dateline_e", 179.6, -10.4, 180.0, -9.8))
    rows.append(_box_row("pole_n", 10.0, 89.2, 11.0, 90.0))
    rows.append(_box_row("pole_n2", 10.5, 88.4, 11.5, 89.0))
    rows.append(_box_row("pole_s", -20.0, -90.0, -19.0, -89.3))
    rows.append(_box_row("pole_s2", -20.5, -89.0, -19.5, -88.5))
    # a NULL bbox coordinate covers no grid cell: the scene joins nothing
    # even though its ring lies inside every AOI that contains (0, 0)
    null_bbox = _box_row("null_bbox", -0.5, -0.5, 0.5, 0.5)
    rows.append((null_bbox[0], None) + null_bbox[2:])
    return rows


def _joinable(scene) -> bool:
    return None not in scene[1:5]


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
                  geom.ring_to_wkt(bbox_ring(cx - 1e-3, cy - 1e-3,
                                                  cx + 1e-3, cy + 1e-3))))
    cases.append(("huge_around",
                  geom.ring_to_wkt(bbox_ring(s0[:, 0].min() - 5,
                                                  s0[:, 1].min() - 5,
                                                  s0[:, 0].max() + 5,
                                                  s0[:, 1].max() + 5))))
    # exact shared-edge contact: box whose left edge IS the scene bbox's
    # right edge (touch, zero overlap area)
    xmax, ymin, ymax2 = scenes[1][2], scenes[1][3], scenes[1][4]
    cases.append(("shared_edge",
                  geom.ring_to_wkt(bbox_ring(xmax, ymin, xmax + 2.0, ymax2))))
    # degenerate boxes: zero width (a vertical segment) and zero area
    cases.append(("deg_line", geom.ring_to_wkt(
        np.array([[cx, cy - 2], [cx, cy + 2], [cx, cy - 2]]))))
    cases.append(("deg_point", geom.ring_to_wkt(
        np.array([[cx, cy], [cx, cy], [cx, cy]]))))
    # the whole globe: its cover reaches lon 180 and lat 90
    cases.append(("globe", geom.ring_to_wkt(bbox_ring(-180.0, -90.0, 180.0, 90.0))))
    # one vertex, no edge: the point inside scene 0
    cases.append(("one_point", geom.ring_to_wkt(np.array([[cx, cy]]))))
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
        if _joinable(s) and oracle_intersects(np.asarray(s[5]), geom.wkt_to_ring(wkt))
    }
    return scenes, cases, sdf, expected


def test_spatial_join_fuzz_vs_scalar_oracle(spark, fuzz_world):
    """The JVM refine (:func:`rings_intersect_jvm`) against the scalar
    oracle, incl. the concave star AOIs, compared as a multiset: each
    intersecting pair exactly once, also at the grid edges (lon ±180,
    lat ±90) against the whole-globe AOI."""
    scenes, cases, sdf, expected = fuzz_world
    adf = aoi_frame(spark, cases)
    rows = Counter(
        (r["doc_id"], r["aoi_id"])
        for r in spatial_join(sdf, adf)
        .select("doc_id", "aoi_id").collect()
    )
    dup = sorted(p for p, n in rows.items() if n > 1)
    assert not dup, f"spatial_join reported pairs more than once: {dup[:10]}"
    got = set(rows)
    missing = expected - got
    extra = got - expected
    assert not missing and not extra, (
        "spatial_join disagrees with oracle: "
        f"missing={sorted(missing)[:10]} extra={sorted(extra)[:10]}"
    )
    # sanity: the adversarial cases produce hits (the fuzz isn't vacuous)
    hit_aois = {a for _, a in got}
    assert {"tiny_inside", "huge_around", "shared_edge", "globe", "one_point"} <= hit_aois
    edge = {"full_lon", "dateline_w", "pole_n", "pole_s"}
    assert {(s, "globe") for s in edge} <= got
    assert not any(s == "null_bbox" for s, _ in got)
    assert any(a.startswith("conc") for a in hit_aois), "no concave AOI hits"


def test_select_aoi_fuzz_vs_scalar_oracle(spark, fuzz_world):
    """``select`` against the oracle: convex AOIs take the JVM SAT over
    raw points, the concave star, degenerate and one-point AOIs
    :func:`rings_intersect_jvm`."""
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
    """The plan property the round-5 scaling work depends on: over a
    frame that carries ``ring``, a select contains NO Python stage at
    all (no ArrowEvalPython / BatchEvalPython) for any AOI shape: a
    convex AOI takes the SAT, a concave, zero-area line or one-point
    AOI the JVM ring test."""
    scenes, cases, sdf, expected = fuzz_world
    shapes = dict(cases)
    for wkt in (
        geom.ring_to_wkt(bbox_ring(-20.0, -20.0, 20.0, 20.0)),
        "POLYGON((0 0, 10 0, 10 10, 5 2, 0 10, 0 0))",
        shapes["deg_line"],
        shapes["one_point"],
    ):
        p = plan_text(select(sdf, aoi_wkt=wkt, return_value=["doc_id"]))
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, wkt


def _knn_inline(scenes, k=3, s=1.0):
    """``knn_scenes`` with its cell ids written out inline, the formula
    the ``scene_knn`` oracle SQL encodes: unclamped index row, probe row
    clamped to [-90/s, 90/s - 1], both columns wrapped with ``pmod``."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pyrosar_spark.operators.spatial import haversine_km

    n_lon = int(round(360.0 / s))
    home = scenes.select(
        "doc_id",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("cx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("cy"),
    ).select(
        "doc_id", "cx", "cy",
        F.floor(F.col("cy") / s).cast("long").alias("_la"),
        F.floor(F.col("cx") / s).cast("long").alias("_lo"),
    )
    la_lo, la_hi = -int(round(90 / s)), int(round(90 / s)) - 1
    cells9 = F.array_distinct(F.array(*[
        (F.greatest(F.least(F.col("_la") + dy, F.lit(la_hi)), F.lit(la_lo)) + int(round(90 / s)))
        * n_lon + F.pmod(F.col("_lo") + dx + int(round(180 / s)), F.lit(n_lon))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ]))
    probe = home.withColumn("_cell", F.explode(cells9)).select(
        F.col("doc_id").alias("q_id"), F.col("cx").alias("q_cx"), F.col("cy").alias("q_cy"), "_cell")
    index = home.withColumn(
        "_cell", (F.col("_la") + int(round(90 / s))) * n_lon
        + F.pmod(F.col("_lo") + int(round(180 / s)), F.lit(n_lon))
    ).select(F.col("doc_id").alias("n_id"), F.col("cx").alias("n_cx"), F.col("cy").alias("n_cy"), "_cell")
    cand = (
        probe.join(index, on="_cell").where(F.col("q_id") != F.col("n_id"))
        .withColumn("dist_km", haversine_km(F.col("q_cy"), F.col("q_cx"), F.col("n_cy"), F.col("n_cx")))
    )
    w = W.partitionBy("q_id").orderBy(F.col("dist_km").asc(), F.col("n_id").asc())
    return (cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
            .select("q_id", "n_id", "dist_km", "rank"))


def test_knn_matches_inline_cell_formula(fuzz_world):
    """``knn_scenes`` builds its cells with the shared ``_cell_id``; its
    rows (distances bit for bit) must equal the inline formula's on the
    fuzz world, date-line, polar and NULL-bbox scenes included."""
    from pyrosar_spark.operators.spatial import knn_scenes

    scenes, cases, sdf, expected = fuzz_world
    got = sorted(map(tuple, knn_scenes(sdf, k=3).collect()))
    want = sorted(map(tuple, _knn_inline(sdf, k=3).collect()))
    assert got == want
    pairs = {(q, n) for q, n, *_ in got}
    assert {("dateline_w", "dateline_e"), ("pole_n", "pole_n2"), ("pole_s", "pole_s2")} <= pairs
    assert not any("null_bbox" in p for p in pairs)
