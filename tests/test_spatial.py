"""Two-stage cell-grid spatial join + kNN (SURVEY J1/J10)."""

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.select import select
from pyrosar_spark.operators.spatial import aoi_frame, knn_scenes, spatial_join

S1_OVERLAP = "POLYGON((11.5 51.1, 11.9 51.1, 11.9 51.5, 11.5 51.5, 11.5 51.1))"
PSR2_OVERLAP = "POLYGON((-62.5 -11.1, -62.3 -11.1, -62.3 -10.9, -62.5 -10.9, -62.5 -11.1))"
DISJOINT = "POLYGON((170 80, 171 80, 171 81, 170 81, 170 80))"


def test_spatial_join_matches_select(spark, scenes):
    """The scalable many-AOI join must agree with the single-AOI select
    refine on every AOI, each pair reported once."""
    aois = aoi_frame(
        spark, [("a_s1", S1_OVERLAP), ("a_psr2", PSR2_OVERLAP), ("a_none", DISJOINT)]
    )
    out = spatial_join(scenes, aois)
    rows = [(r.aoi_id, r.doc_id) for r in out.select("aoi_id", "doc_id").collect()]
    assert len(rows) == len(set(rows)), "spatial_join reported a pair twice"
    got = set(rows)
    for aoi_id, wkt in [("a_s1", S1_OVERLAP), ("a_psr2", PSR2_OVERLAP), ("a_none", DISJOINT)]:
        expected = {
            (aoi_id, r.doc_id)
            for r in select(scenes, aoi_wkt=wkt, return_value="doc_id").collect()
        }
        assert {p for p in got if p[0] == aoi_id} == expected
    assert ("a_s1", "golden_s1") in got
    assert ("a_psr2", "golden_psr2") in got
    assert not any(a == "a_none" for a, _ in got)


def test_aoi_frame_rejects_multi_feature_and_holes(spark):
    """The AOI side of ``spatial_join`` validates WKT like ``select``:
    one feature, no interior ring, each with its own error."""
    multi = "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)), ((2 2, 3 2, 3 3, 2 2)))"
    with pytest.raises(RuntimeError, match="more than one feature"):
        aoi_frame(spark, [("m", multi)])
    holed = "POLYGON((0 0, 10 0, 10 10, 0 0), (2 2, 3 2, 3 3, 2 2))"
    with pytest.raises(RuntimeError, match="interior rings"):
        aoi_frame(spark, [("h", holed)])


def test_knn_deterministic_and_ranked(spark, scenes):
    out = knn_scenes(scenes, k=3).cache()
    # deterministic across runs
    a = sorted(map(tuple, out.select("q_id", "n_id", "rank").collect()))
    b = sorted(map(tuple, knn_scenes(scenes, k=3).select("q_id", "n_id", "rank").collect()))
    assert a == b
    # ranks are 1..k and distances non-decreasing per query
    per_q = (
        out.groupBy("q_id")
        .agg(
            F.collect_list(F.struct("rank", "dist_km")).alias("m"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert len(per_q) > 0
    for r in per_q:
        assert r.n <= 3
        ms = sorted(r.m, key=lambda s: s.rank)
        dists = [s.dist_km for s in ms]
        assert dists == sorted(dists)
    # no self matches
    assert out.where(F.col("q_id") == F.col("n_id")).count() == 0
