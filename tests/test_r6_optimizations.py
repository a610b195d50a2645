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
    rows = simhash_pairs(df, max_hamming=3, n_blocks=4).collect()
    assert [(r.a, r.b, r.hamming) for r in rows] == [(1, 2, 0)]


def test_candidate_pairs_skips_dead_hot_guard(spark):
    """A cap of None or >= 2^39 can never trigger — the plan must not
    carry the hot-key anti-join; a real cap must keep it. Output agrees
    when no key is actually hot. The one guard (dedup._drop_over_cap)
    serves the LSH bands, the embedding buckets and the per-ref cap."""
    from pyrosar_spark.operators.dedup import (
        _candidate_pairs,
        _lsh_bands,
        cross_near_dup_pairs,
        release_shingle_cache,
        shingle_frame,
    )
    from pyrosar_spark.operators.similarity import cosine_dup_pairs

    def executed(df):
        return df._jdf.queryExecution().executedPlan().toString()

    df = spark.createDataFrame(
        [(i, f"some shared text plus token{i}") for i in range(8)],
        "doc_id long, text string",
    )
    sh = shingle_frame(df, "text", "doc_id", 8, 2)
    bands = _lsh_bands(sh, 8, 4)
    emb = spark.createDataFrame(
        [(i, [1.0, 0.5 * i, 0.0, -1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    refs = df.where("doc_id < 2")
    builds = [  # (build(cap), its unbounded cap)
        (lambda cap: _candidate_pairs(bands, cap, False), 1 << 40),
        (
            lambda cap: cosine_dup_pairs(emb, threshold=0.5, n_bits=2, dim=4, max_bucket=cap),
            1 << 40,
        ),
        (lambda cap: cross_near_dup_pairs(df, refs, n_hashes=8, max_per_ref=cap), None),
    ]
    for build, unbounded in builds:
        got = {}
        for cap in (unbounded, 1000):
            # read before the next build: cross_near_dup_pairs releases
            # the shingle cache of the call before it
            q = build(cap)
            assert ("LeftAnti" in executed(q)) == (cap == 1000), cap
            got[cap] = sorted(map(tuple, q.collect()))
        assert got[unbounded] and got[unbounded] == got[1000]
    release_shingle_cache()


def test_stream_drain_restores_shuffle_partitions(spark, monkeypatch, request):
    """The streaming drain leaves the caller's shuffle width alone: the
    stream's width is set on a private session, so the caller's session
    sees no set of the key and keeps its value, and the drained
    stream's state operators ran at defaultParallelism partitions, not
    at the caller's width."""
    import __spark_entry__ as entry

    key = "spark.sql.shuffle.partitions"
    dp = spark.sparkContext.defaultParallelism
    real_set, real_run = spark.conf.set, entry._run_stream_to_memory
    request.addfinalizer(lambda p=spark.conf.get(key): real_set(key, p))
    real_set(key, str(dp + 3))  # a caller width the stream must not use
    sets, drained = [], []

    def recording_set(k, v):
        sets.append(k)
        real_set(k, v)

    def recording_run(*args, **kwargs):
        drained.append(real_run(*args, **kwargs))
        return drained[-1]

    monkeypatch.setattr(spark.conf, "set", recording_set)
    monkeypatch.setattr(entry, "_run_stream_to_memory", recording_run)
    entry.q_stream_ingest_keys(spark, "/root/testdata/sf0.001").count()
    assert key not in sets
    assert spark.conf.get(key) == str(dp + 3)
    (q,) = drained
    ops = q.lastProgress["stateOperators"]
    assert ops and {op["numShufflePartitions"] for op in ops} == {dp}
