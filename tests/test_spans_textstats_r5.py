"""Round-5 operators: span-sequence byte-identity through adversarial
redistribution, Gopher repetition stats, tf-idf top terms.

The contract oracles (span_roundtrip / repetition_stats /
tfidf_top_terms in __spark_entry__.py) are the differential gate; these
tests pin the operator-level semantics on hand-computed goldens and the
failure modes a digest comparison would only catch indirectly (a
dropped span, a swapped order, a mutated field must each CHANGE the
digest — no silent collisions by construction of the framing).
"""

import math

import pytest
from pyspark.sql import functions as F

from tests.testlib import plan_text


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def test_roundtrip_digest_matches_direct(docs):
    """Scatter + reassemble must reproduce the direct digest of the
    stored arrays for every document (order restored from offset)."""
    from pyrosar_spark.operators.spans import roundtrip_digest, span_digest

    direct = {r["doc_id"]: (r["n_spans"], r["digest"]) for r in span_digest(docs).collect()}
    rt = {r["doc_id"]: (r["n_spans"], r["digest"]) for r in roundtrip_digest(docs).collect()}
    assert rt == direct
    assert len(rt) == docs.count()


def test_digest_sensitive_to_order_drop_and_mutation(spark):
    from pyrosar_spark.datagen import DOC_SCHEMA
    from pyrosar_spark.operators.spans import span_digest

    base = [("scene_meta", "m", "", 0), ("text", "hello", "", 1), ("chip", "", "chip://d/0", 2)]
    variants = {
        "base": base,
        # same spans, offsets swapped (order change)
        "swapped": [("scene_meta", "m", "", 1), ("text", "hello", "", 0), ("chip", "", "chip://d/0", 2)],
        "dropped": base[:2],
        "mutated": [("scene_meta", "m", "", 0), ("text", "hellX", "", 1), ("chip", "", "chip://d/0", 2)],
        # field-boundary attack: moving a char across the kind/text
        # boundary must not collide (separator framing)
        "boundary": [("scene_metam", "", "", 0), ("text", "hello", "", 1), ("chip", "", "chip://d/0", 2)],
    }
    df = spark.createDataFrame([(k, v) for k, v in variants.items()], DOC_SCHEMA)
    digests = {r["doc_id"]: r["digest"] for r in span_digest(df).collect()}
    assert len(set(digests.values())) == len(variants), digests


def test_reassemble_restores_exact_arrays(docs):
    """Full structural equality, not just the digest: reassembled spans
    == stored spans row for row."""
    from pyrosar_spark.operators.spans import explode_spans, reassemble_spans

    rebuilt = reassemble_spans(
        explode_spans(docs).repartition(16, F.xxhash64("text", "offset"))
    )
    diff = (
        docs.select("doc_id", "spans")
        .exceptAll(rebuilt.select("doc_id", "spans"))
        .count()
    )
    assert diff == 0
    assert rebuilt.count() == docs.count()


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def textdf(spark):
    rows = [
        (0, "a b a b a b"),              # grams: ab ba ab ba ab -> top "a b" x3
        (1, "x y z"),                     # all grams distinct
        (2, "w w w w"),                   # "w w" x3
        (3, "solo"),                      # 1 token, 0 grams
        (4, ""),                          # empty
        (5, "Tick, tock! tick? TOCK."),  # normalization: tick tock tick tock
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repetition_golden(textdf):
    from pyrosar_spark.operators.textstats import repetition_stats

    got = {r["doc_id"]: r.asDict() for r in repetition_stats(textdf).collect()}
    # doc 0: 6 tokens, 5 grams {ab x3, ba x2} -> distinct 2, dup 3/5
    assert got[0]["n_tokens"] == 6
    assert got[0]["top_2gram_count"] == 3
    assert got[0]["dup_2gram_frac"] == round(1 - 2 / 5, 6)
    assert got[0]["top_2gram_frac"] == round(6 / 6, 6)
    # doc 1: no repeats
    assert got[1]["dup_2gram_frac"] == 0.0 and got[1]["top_2gram_count"] == 1
    # doc 2: "w w" x3 of 3 grams
    assert got[2]["dup_2gram_frac"] == round(1 - 1 / 3, 6)
    assert got[2]["top_2gram_count"] == 3
    assert got[2]["top_2gram_frac"] == 1.0  # capped: 3*2/4 > 1
    # doc 3/4: degenerate
    for d in (3, 4):
        assert got[d]["top_2gram_count"] == 0 and got[d]["dup_2gram_frac"] == 0.0
    # doc 5: case/punct-normalized -> tick tock tick tock
    assert got[5]["n_tokens"] == 4
    assert got[5]["top_2gram_count"] == 2  # "tick tock" twice


def test_repetition_no_shuffle(textdf):
    """Per-doc stats must not shuffle: no Exchange in the plan."""
    from pyrosar_spark.operators.textstats import repetition_stats

    plan = plan_text(repetition_stats(textdf))
    assert "Exchange" not in plan, plan


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_golden(spark):
    from pyrosar_spark.operators.textstats import tfidf_top_terms

    rows = [(0, "apple banana apple"), (1, "banana cherry"), (2, "cherry cherry date")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): r.asDict() for r in tfidf_top_terms(df, k=2).collect()}

    def tfidf(c, n, dfc, nd=3):
        return round((c / n) * (math.log((nd + 1.0) / (dfc + 1.0)) + 1.0), 6)

    # doc 0: apple tf 2/3 df 1, banana tf 1/3 df 2
    assert got[(0, 1)]["term"] == "apple"
    assert got[(0, 1)]["tfidf"] == pytest.approx(tfidf(2, 3, 1), abs=1e-9)
    assert got[(0, 2)]["term"] == "banana"
    # doc 1: banana/cherry both tf 1/2 df 2 -> tie broken by term asc
    assert got[(1, 1)]["term"] == "banana" and got[(1, 2)]["term"] == "cherry"
    # doc 2: cherry tf 2/3 beats date tf 1/3 (df 2 vs 1 but tf dominates here)
    assert got[(2, 1)]["term"] == "cherry"


def test_tfidf_broadcast_plan(spark):
    """The df-side join is a broadcast join."""
    from pyrosar_spark.operators.textstats import tfidf_top_terms

    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 7).cast("string"), F.lit(" common")).alias("text"),
    )
    plan = plan_text(tfidf_top_terms(df))
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# review-pass regressions (round-5 self-review)
# ---------------------------------------------------------------------------


def test_empty_spans_doc_survives_roundtrip(spark):
    """A doc whose spans array is EMPTY must appear in the roundtrip
    output as n_spans=0 / md5('') — with inner explode it would vanish,
    turning total span loss into a silently-passing absence."""
    import hashlib

    from pyrosar_spark.datagen import DOC_SCHEMA
    from pyrosar_spark.operators.spans import roundtrip_digest

    df = spark.createDataFrame(
        [("full", [("text", "t", "", 0)]), ("empty", [])], DOC_SCHEMA
    )
    got = {r["doc_id"]: (r["n_spans"], r["digest"]) for r in roundtrip_digest(df).collect()}
    assert set(got) == {"full", "empty"}
    assert got["empty"] == (0, hashlib.md5(b"").hexdigest())


def test_repetition_null_text_propagates(spark):
    from pyrosar_spark.operators.textstats import repetition_stats

    df = spark.createDataFrame([(0, None), (1, "a b a b")], "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in repetition_stats(df).collect()}
    assert got[0]["n_tokens"] is None
    assert got[0]["dup_2gram_frac"] is None
    assert got[0]["top_2gram_count"] is None
    assert got[1]["n_tokens"] == 4  # sanity: non-null rows unaffected


def test_tfidf_lazy_no_eager_job(spark):
    """Constructing the tf-idf frame must not run a Spark job (the
    corpus count rides the plan as a broadcast one-row aggregate)."""
    from pyrosar_spark.operators.textstats import tfidf_top_terms

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    _ = tfidf_top_terms(df, k=1)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "tfidf_top_terms construction launched a job"


def test_envi_id_col_param(spark):
    """raster_mean_nonzero / fill_incidence_from_rasters honor a
    non-default id column (were hardcoded to doc_id)."""
    import numpy as np

    from pyrosar_spark.operators.envi import fill_incidence_from_rasters

    hdr = "ENVI\nsamples = 2\nlines = 1\ndata type = 4\nbyte order = 0\n"
    payload = bytearray(np.array([4.0, 6.0], dtype="<f4").tobytes())
    parsed = spark.createDataFrame([(7, None)], "scene_id long, incidence double")
    rasters = spark.createDataFrame(
        [(7, hdr, payload)], "scene_id long, hdr string, payload binary"
    )
    got = fill_incidence_from_rasters(parsed, rasters, id_col="scene_id").collect()
    assert got[0]["incidence"] == 5.0
