"""Dedup / similarity / text-stats operators."""

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.dedup import (
    exact_dedup,
    near_dup_pairs,
    shingles,
    simhash64,
    simhash_pairs,
)
from pyrosar_spark.operators.similarity import cosine_topk, ivf_topk, lsh_topk
from pyrosar_spark.operators.textstats import (
    fingerprint64,
    lang_id,
    quality_score,
    token_count_ws,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different words entirely unrelated text"),
    (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (5, "der hund ist ein tier und das ist gut"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup(docs_df):
    g = exact_dedup(docs_df)
    assert g.count() == 4
    dup = g.where(F.col("n_members") > 1).first()
    assert dup.n_members == 2 and dup.keep_id == 1


def test_shingles_short_text(spark):
    df = spark.createDataFrame([("one",), ("",), ("a b c",)], "text string")
    out = df.select(shingles(F.col("text"), 2).alias("sh")).collect()
    assert out[0].sh == []
    assert out[1].sh == []
    assert sorted(out[2].sh) == ["a b", "b c"]


def test_minhash_finds_near_dups(docs_df):
    verified = near_dup_pairs(docs_df, n_hashes=8, n_bands=4, threshold=0.5)
    got = {(r.a, r.b) for r in verified.collect()}
    assert (1, 4) in got  # exact dup always collides
    assert (1, 2) in got or (2, 4) in got  # near-dup found
    # jaccard of identical docs is 1
    j = {(r.a, r.b): r.jaccard for r in verified.collect()}
    assert j[(1, 4)] == 1.0


def test_simhash_near_dup(docs_df):
    sh = docs_df.select("doc_id", simhash64(F.col("text")).alias("sh")).collect()
    vals = {r.doc_id: r.sh for r in sh}
    assert vals[1] == vals[4]  # identical text → identical simhash
    pairs = simhash_pairs(docs_df, max_hamming=10, allow_partial_recall=True)
    got = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert got.get((1, 4)) == 0
    # recall contract: threshold beyond the pigeonhole bound is rejected
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_pairs(docs_df, max_hamming=10)


def test_near_dup_composite_and_bucket_stats(docs_df):
    from pyrosar_spark.operators.dedup import dropped_bucket_stats, near_dup_pairs

    out = near_dup_pairs(docs_df, n_hashes=8, n_bands=4, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in out.collect()}
    assert got.get((1, 4)) == 1.0
    # with a cap of 1 every bucket with >=2 members is dropped → no pairs
    capped = near_dup_pairs(docs_df, n_hashes=8, n_bands=4, max_bucket=1)
    assert capped.count() == 0
    stats = dropped_bucket_stats(docs_df, n_hashes=8, n_bands=4, max_bucket=1).first()
    assert stats.n_dropped_buckets > 0 and stats.n_dropped_members >= 2


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.where(F.col("vec_id") == 0), k=2)
    got = [(r.item_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(1, 1), (2, 2)]


def test_lsh_and_ivf_recall(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 16)).astype("float32")
    base[1] = base[0] + 0.01  # planted neighbor
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = df.where(F.col("vec_id") == 0)
    exact = cosine_topk(df, q, k=1).first()
    assert exact.item_id == 1
    lsh = lsh_topk(df, q, k=3, n_bits=4, n_tables=3, dim=16)
    ivf = ivf_topk(df, q, k=3, n_cells=8, n_probe=4)
    assert 1 in [r.item_id for r in lsh.collect()]
    assert 1 in [r.item_id for r in ivf.collect()]


def test_text_stats_and_lang(docs_df):
    t = F.col("text")
    prof = docs_df.select(
        "doc_id",
        token_count_ws(t).alias("tokens_ws"),
        lang_id(t).alias("lang_guess"),
        quality_score(t).alias("quality"),
        fingerprint64(t).alias("fingerprint"),
    ).collect()
    by_id = {r.doc_id: r for r in prof}
    assert by_id[1].tokens_ws == 9
    assert by_id[1].lang_guess == "en"
    assert by_id[5].lang_guess == "de"
    assert 0.0 <= by_id[3].quality <= 1.0
    assert by_id[1].fingerprint == by_id[4].fingerprint


def test_fingerprint_modes(spark):
    # the min over every 8-char window of the md5-60 hash, replayed in
    # Python through the documented recipe
    import hashlib

    text = "hello world doc"
    df = spark.createDataFrame([(text,)], "text string")
    a = df.select(fingerprint64(F.col("text"), 8).alias("f")).first().f
    want = min(
        int(hashlib.md5(f"{text[i:i + 8]}#0".encode()).hexdigest()[:15], 16)
        for i in range(len(text) - 7)
    )
    assert isinstance(a, int) and a == want


def test_cosine_dup_pairs_planted(spark):
    import numpy as np

    from pyrosar_spark.operators.similarity import cosine_dup_pairs

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16)).astype("float32")
    base[7] = base[3] + 0.005  # planted near-duplicate
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    pairs = {(r.a, r.b): r.cosine_sim
             for r in cosine_dup_pairs(df, threshold=0.99, n_bits=4, n_tables=3,
                                       dim=16, seed=7).collect()}
    assert (3, 7) in pairs and pairs[(3, 7)] > 0.999


def test_simhash_wide_radius_sound_config(docs_df):
    """For hamming radii beyond 3, raising n_blocks keeps the
    pigeonhole recall guarantee exact (h <= n_blocks-1): with 17 blocks
    any pair within hamming 16 shares at least one error-free block.
    The narrow blocks make buckets coarse (8 values per 3-bit block) -
    the documented precision/cost trade for wide radii; banded minhash
    is the scale path for aggressive near-dup."""
    pairs = simhash_pairs(docs_df, max_hamming=16, n_blocks=17)
    got = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert got.get((1, 4)) == 0           # exact dup found
    assert all(h <= 16 for h in got.values())
    # the near-dup pair (1,2) differs by one word -> small hamming;
    # the sound wide config must recover it
    assert (1, 2) in got


def test_norm_tokens_matches_split_filter(spark):
    """The compiled tokenizer gives the same tokens as the split+filter
    form it replaced, NULL included."""
    from pyrosar_spark.operators.dedup import _norm_tokens

    texts = [
        None, "", "   ", "-!- ,;", "  lead and trail  ", "--x--", "a1 b22 333",
        "tab\tsep\nnew\r\nline", "MiXeD CaSe WoRdS", "Ünïcödé İx", "naïve café-42",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    old = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    rows = df.select(
        "i", _norm_tokens(F.col("text")).alias("new"), old.alias("old")
    ).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["new"] == r["old"], (texts[r["i"]], r["new"], r["old"])
    by_i = {r["i"]: r["new"] for r in rows}
    assert by_i[0] is None and by_i[1] == [] and by_i[3] == []
    assert by_i[7] == ["tab", "sep", "new", "line"]


def test_near_dup_pairs_cache_lifecycle(spark):
    """near_dup_pairs leaves its shingle frame and its pairs persisted;
    the next call and release_shingle_cache() each unpersist both."""
    from pyspark import StorageLevel

    from pyrosar_spark.operators import dedup as D

    def cached(df):
        return df.storageLevel != StorageLevel.NONE

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    first = D.near_dup_pairs(docs, n_hashes=8, n_bands=4, threshold=0.5)
    held = list(D._LIVE_SHINGLE_CACHE)
    assert len(held) == 2 and any(f is first for f in held)
    assert all(cached(f) for f in held)
    assert {(r.a, r.b) for r in first.collect()} >= {(1, 4)}
    # a different input, so the new frames do not share the old plans
    second = D.near_dup_pairs(
        docs.where("doc_id < 5"), n_hashes=8, n_bands=4, threshold=0.5
    )
    assert not any(cached(f) for f in held)
    held = list(D._LIVE_SHINGLE_CACHE)
    assert len(held) == 2 and any(f is second for f in held)
    assert all(cached(f) for f in held)
    D.release_shingle_cache()
    assert D._LIVE_SHINGLE_CACHE == []
    assert not any(cached(f) for f in held)
