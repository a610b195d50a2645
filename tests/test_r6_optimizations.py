"""Round-6 optimization internals: each test pins the EQUIVALENCE that
an exchange-removal/restructure relied on, on inputs built to hit the
new code path's edge (batch-boundary carry, multi-cell pairs,
multi-block pairs, dead-guard skip)."""

from __future__ import annotations

import pytest

from pyrosar_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("test_r6_opt", cpus=4)


def test_mosaic_group_straddles_arrow_batch_boundary(spark):
    """mapInPandas batches split at arrow.maxRecordsPerBatch; a tile
    whose chips straddle the boundary must still be built ONCE from
    all of its chips (the held-back-group carry)."""
    from pyrosar_spark.operators.chips import assign_chip_tiles, mosaic_tiles

    # 9 chips in ONE tile (N50E009), plus one in another tile, small
    # batches force a split inside the big group
    rows = [
        (f"m{i}", 9.05 + 0.05 * i, 50.9, 0.05, 0.05, 4, 4, -32768.0, "area", i)
        for i in range(9)
    ] + [("mx", 20.2, 10.9, 0.05, 0.05, 4, 4, -32768.0, "area", 99)]
    chips = spark.createDataFrame(
        rows,
        "media_ref string, ulx double, uly double, xres double, yres double, "
        "width int, height int, nodata double, area_or_point string, seed int",
    )
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        out = {r.tile_id: r for r in
               mosaic_tiles(assign_chip_tiles(chips), px_per_degree=40).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert out["N50E009.hgt"].n_chips == 9  # one row per tile, all chips counted
    assert out["N10E020.hgt"].n_chips == 1
    assert len(out) == 2


def test_spatial_join_multi_cell_pair_reported_once(spark):
    """A scene bbox overlapping an AOI across MANY shared grid cells
    must yield exactly one pair (report-once canonical-cell rule)."""
    from pyrosar_spark.operators.spatial import aoi_frame, spatial_join

    big_ring = [0.0, 0.0, 5.0, 0.0, 5.0, 5.0, 0.0, 5.0, 0.0, 0.0]
    scenes = spark.createDataFrame(
        [("s1", 0.0, 5.0, 0.0, 5.0, big_ring),
         ("s2", 40.0, 41.0, 40.0, 41.0, [40.0, 40.0, 41.0, 40.0, 41.0, 41.0, 40.0, 41.0, 40.0, 40.0])],
        "doc_id string, xmin double, xmax double, ymin double, ymax double, ring array<double>",
    )
    aois = aoi_frame(spark, [("a1", "POLYGON((1 1, 4 1, 4 4, 1 4, 1 1))")])
    rows = spatial_join(scenes, aois).collect()
    assert [(r.doc_id, r.aoi_id) for r in rows] == [("s1", "a1")]


def test_knn_polar_clamp_pairs_unique(spark):
    """Pole-adjacent scenes whose probe cells clamp onto the same cell
    must not produce duplicate (q, n) pairs (array_distinct dedup)."""
    from pyrosar_spark.operators.spatial import knn_scenes

    scenes = spark.createDataFrame(
        [("a", 10.0, 10.4, 89.2, 89.8), ("b", 10.5, 10.9, 89.2, 89.8),
         ("c", 11.0, 11.4, 89.2, 89.8)],
        "doc_id string, xmin double, xmax double, ymin double, ymax double",
    )
    out = knn_scenes(scenes, k=3).collect()
    pairs = [(r.q_id, r.n_id) for r in out]
    assert len(pairs) == len(set(pairs))
    assert {q for q, _ in pairs} == {"a", "b", "c"}


def test_simhash_multi_block_pair_reported_once(spark):
    """Identical texts share ALL blocks — the first-shared-block rule
    must report the pair exactly once with hamming 0."""
    from pyrosar_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "totally different words here")],
        "doc_id long, text string",
    )
    rows = simhash_pairs(df, max_hamming=3, n_blocks=4, hash_mode="md5").collect()
    assert [(r.a, r.b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_candidate_pairs_skips_dead_hot_guard(spark):
    """max_bucket >= 2^39 can never trigger — the plan must not carry
    the hot-bucket anti-join; a real cap must keep it. Pair sets agree
    when no bucket is actually hot."""
    from pyrosar_spark.operators.dedup import _candidate_pairs, _lsh_bands, shingle_frame

    df = spark.createDataFrame(
        [(i, f"some shared text plus token{i}") for i in range(8)],
        "doc_id long, text string",
    )
    sh = shingle_frame(df, "text", "doc_id", 8, 2)
    bands = _lsh_bands(sh, 8, 4)
    unbounded = _candidate_pairs(bands, 1 << 40)
    capped = _candidate_pairs(bands, 1000)
    assert "LeftAnti" not in unbounded._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in capped._jdf.queryExecution().executedPlan().toString()
    assert sorted(map(tuple, unbounded.collect())) == sorted(map(tuple, capped.collect()))


def test_stream_drain_restores_shuffle_partitions(spark):
    """The streaming drain narrows the stream's shuffle width and must
    restore the session value afterwards."""
    import __spark_entry__ as entry

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    entry.q_stream_ingest_keys(spark, "/root/testdata/sf0.001").count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
