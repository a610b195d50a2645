"""Round-5 corpus-sampling operators: dup_ngram_spans golden + hypothesis
differential vs a from-scratch Python reference, quality_filter exact/
threshold semantics, sample_token_budget exact-membership reference and
order independence, and the plan shapes the 100-TB design depends on
(no Window in the threshold path, broadcast dim join, no cartesian)."""

from __future__ import annotations

import hashlib
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyrosar_spark.operators.dedup import dup_ngram_spans
from pyrosar_spark.operators.sampling import quality_filter, sample_token_budget


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def doctable(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()


# ---------------------------------------------------------------------------
# dup_ngram_spans
# ---------------------------------------------------------------------------


def _ref_spans(texts: dict[int, str], n: int, min_docs: int):
    """Independent per-row reference: gram -> doc multiplicity, then
    island merge with the same gap-> n break rule."""
    tok = {
        d: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
        for d, s in texts.items()
    }
    docs_per_gram: dict[str, set] = {}
    for d, tk in tok.items():
        for i in range(len(tk) - n + 1):
            docs_per_gram.setdefault(" ".join(tk[i : i + n]), set()).add(d)
    out = []
    for d in sorted(tok):
        tk = tok[d]
        ps = [
            i + 1
            for i in range(len(tk) - n + 1)
            if len(docs_per_gram[" ".join(tk[i : i + n])]) >= min_docs
        ]
        spans: list[list[int]] = []  # [start, last_pos, n_grams]
        for p in ps:
            if spans and p - spans[-1][1] <= n:
                spans[-1][1] = p
                spans[-1][2] += 1
            else:
                spans.append([p, p, 1])
        out.extend((d, s, last + n - 1, c) for s, last, c in spans)
    return out


def _spans_df(spark, texts: dict[int, str]):
    return spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )


def test_dup_ngram_spans_golden(spark):
    texts = {
        1: "one two three four five six seven",
        2: "zero one two three four nine ten",
        3: "unrelated totally different words here",
        4: "hi there",  # shorter than n -> no grams
        5: "rep eat now rep eat now",  # within-doc repeat only: not a dup
    }
    got = [
        tuple(r)
        for r in dup_ngram_spans(_spans_df(spark, texts), n=3).collect()
    ]
    # doc 1: dup 3-grams at pos 1 ("one two three") and 2 ("two three
    # four") merge into tokens [1, 4]; doc 2 mirrors at pos 2-3.
    assert got == [(1, 1, 4, 2), (2, 2, 5, 2)]


def test_dup_ngram_spans_gap_splits_islands(spark):
    # shared trigrams at positions 1 and 6 of doc 1: gap 5 > n=3 so the
    # spans must NOT merge
    texts = {
        1: "a b c x1 x2 d e f",
        2: "a b c y1 y2 y3 d e f",
    }
    got = [
        tuple(r) for r in dup_ngram_spans(_spans_df(spark, texts), n=3).collect()
    ]
    assert got == [(1, 1, 3, 1), (1, 6, 8, 1), (2, 1, 3, 1), (2, 7, 9, 1)]


def test_dup_ngram_spans_min_docs_three(spark):
    texts = {
        1: "p q r s",
        2: "p q r t",
        3: "p q r u",
        4: "lone v w x",
    }
    got = [
        tuple(r)
        for r in dup_ngram_spans(_spans_df(spark, texts), n=3, min_docs=3).collect()
    ]
    assert got == [(1, 1, 3, 1), (2, 1, 3, 1), (3, 1, 3, 1)]


def test_dup_ngram_spans_no_cartesian(spark):
    texts = {1: "a b c d", 2: "a b c e"}
    p = _plan(dup_ngram_spans(_spans_df(spark, texts), n=3))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


_span_corpus = st.dictionaries(
    keys=st.integers(min_value=0, max_value=9),
    values=st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@given(texts=_span_corpus, n=st.sampled_from([1, 2, 3]), min_docs=st.sampled_from([2, 3]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dup_ngram_spans_matches_reference(spark, texts, n, min_docs):
    got = [
        tuple(r)
        for r in dup_ngram_spans(
            _spans_df(spark, texts), n=n, min_docs=min_docs
        ).collect()
    ]
    assert got == _ref_spans(texts, n, min_docs)


# ---------------------------------------------------------------------------
# quality_filter
# ---------------------------------------------------------------------------


def _scored_df(spark):
    rows = [
        # group g1: 10 rows, distinct scores 0..9
        *[(i, "g1", float(i)) for i in range(10)],
        # group g2: 8 rows, all tied -> doc_id breaks ties
        *[(100 + i, "g2", 5.0) for i in range(8)],
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, s double")


def test_quality_filter_exact_counts_and_membership(spark):
    kept = quality_filter(
        _scored_df(spark), pct=30, by="lang", score_col=F.col("s")
    ).collect()
    by_group: dict[str, list] = {}
    for r in kept:
        by_group.setdefault(r["lang"], []).append(r)
    # g1: floor(10 * 30 / 100) = 3 best scores 9, 8, 7
    assert sorted(r["doc_id"] for r in by_group["g1"]) == [7, 8, 9]
    # g2: floor(8 * 30 / 100) = 2, ties broken by lowest doc_id
    assert sorted(r["doc_id"] for r in by_group["g2"]) == [100, 101]


def test_quality_filter_exact_integer_boundary(spark):
    # rn*100 <= cnt*pct at the exact boundary: cnt=8, pct=25 -> rn=2
    # gives 200 <= 200 and must be KEPT
    kept = quality_filter(
        _scored_df(spark), pct=25, by="lang", score_col=F.col("s")
    ).collect()
    assert sorted(r["doc_id"] for r in kept if r["lang"] == "g2") == [100, 101]


def test_quality_filter_threshold_mode_plan_and_floor(spark):
    df = _scored_df(spark)
    kept = quality_filter(
        df, pct=30, by="lang", score_col=F.col("s"), mode="threshold"
    )
    p = _plan(kept)
    assert "Window" not in p, "threshold mode must not sort the corpus"
    assert "BroadcastHashJoin" in p
    rows = kept.collect()
    # with exact-enough accuracy the g1 threshold is the 70th
    # percentile of 0..9; every kept score must sit at or above it
    g1 = sorted(r["s"] for r in rows if r["lang"] == "g1")
    assert g1 and g1[0] >= 6.0


def test_quality_filter_validates_args(spark):
    df = _scored_df(spark)
    with pytest.raises(ValueError):
        quality_filter(df, pct=0, score_col=F.col("s"))
    with pytest.raises(ValueError):
        quality_filter(df, mode="nope", score_col=F.col("s"))


# ---------------------------------------------------------------------------
# sample_token_budget
# ---------------------------------------------------------------------------


def _md5num(s: str, seed: int) -> int:
    return int(hashlib.md5(f"{s}#{seed}".encode()).hexdigest()[:15], 16)


def _ref_budget_sample(rows, budgets: dict[str, int], seed: int = 1):
    """rows: (doc_id, source, n_tokens) -> exact kept set with cums."""
    by_src: dict[str, list] = {}
    for doc_id, source, tokens in rows:
        if source in budgets:
            by_src.setdefault(source, []).append(
                (_md5num(str(doc_id), seed), doc_id, tokens)
            )
    out = {}
    for source, docs in by_src.items():
        cum = 0
        for _h, doc_id, tokens in sorted(docs):
            if cum >= budgets[source]:
                break
            cum += tokens
            out[doc_id] = (source, tokens, cum)
    return out


def _token_rows(docs_pdf):
    return [
        (r.doc_id, r.source, len([t for t in re.split(r"\s+", r.text) if t]))
        for r in docs_pdf
    ]


def test_sample_token_budget_exact_membership(spark, doctable):
    budgets = {"src0": 500, "src1": 120, "src2": 1}
    kept = sample_token_budget(doctable, budgets).collect()
    ref = _ref_budget_sample(_token_rows(doctable.collect()), budgets)
    assert {r["doc_id"]: (r["source"], r["tokens"], r["cum_tokens"]) for r in kept} == ref
    # unlisted sources are dropped entirely
    assert all(r["source"] in budgets for r in kept)
    # budget semantics: everything admitted while the running sum was
    # still under budget, and the crossing doc is included
    for r in kept:
        assert r["cum_tokens"] - r["tokens"] < budgets[r["source"]]


def test_sample_token_budget_order_independent(spark, doctable):
    budgets = {"src3": 300, "src4": 300}
    a = sample_token_budget(doctable, budgets).collect()
    shuffled = doctable.orderBy(F.rand(7)).repartition(5)
    b = sample_token_budget(shuffled, budgets).collect()
    key = lambda rows: sorted((r["doc_id"], r["cum_tokens"]) for r in rows)
    assert key(a) == key(b) and len(a) > 0


def test_sample_token_budget_int_budget_and_plan(spark, doctable):
    kept = sample_token_budget(doctable, 200)
    rows = kept.collect()
    srcs = {r["source"] for r in rows}
    assert len(srcs) == 20  # a scalar budget applies to every group
    for r in rows:
        assert r["cum_tokens"] - r["tokens"] < 200
    p = _plan(sample_token_budget(doctable, {"src0": 100}))
    assert "BroadcastHashJoin" in p, "dict budgets must join as a broadcast dim"
    assert "CartesianProduct" not in p


def test_dup_ngram_spans_exchange_budget(spark, doctable):
    """The scale contract: the gram multiplicity is the standard
    two-phase distinct count — a map-side partial distinct feeds an
    exchange on (hash, doc), a second (already-deduped, so much
    smaller) exchange on hash finishes the count; a viral gram never
    materializes a list in any aggregation buffer. Plus one hash
    exchange for the per-doc island window and at most one range
    exchange for the final ordering: 3 + ≤1. More would mean a
    distinct/count phase stopped being partial-aggregatable."""
    q = dup_ngram_spans(doctable, n=6, min_docs=2)
    p = _plan(q)
    assert p.count("Exchange hashpartitioning") == 3, p
    assert p.count("Exchange rangepartitioning") <= 1
    # and the viral-gram guard: no collect_list/collect_set anywhere
    assert "collect_list" not in p and "collect_set" not in p


# ---------------------------------------------------------------------------
# cross_near_dup_pairs
# ---------------------------------------------------------------------------


def test_cross_near_dup_golden(spark):
    from pyrosar_spark.operators.dedup import cross_near_dup_pairs

    corpus = spark.createDataFrame(
        [
            (1, "the cat sat on the mat while rain fell outside today"),
            (2, "completely unrelated text about orbital mechanics and fuel"),
        ],
        "doc_id long, text string",
    )
    refs = spark.createDataFrame(
        [(100, "the cat sat on the mat while rain fell")],
        "doc_id long, text string",
    )
    got = cross_near_dup_pairs(
        corpus, refs, n_hashes=16, n_bands=8, threshold=0.3
    ).collect()
    assert [(r["doc_id"], r["ref_id"]) for r in got] == [(1, 100)]
    assert got[0]["jaccard"] > 0.5


def test_cross_near_dup_max_per_ref_drops_viral(spark):
    from pyrosar_spark.operators.dedup import cross_near_dup_pairs

    # one reference matching every corpus doc (viral boilerplate)
    corpus = spark.createDataFrame(
        [(i, "copy me verbatim boilerplate line") for i in range(6)],
        "doc_id long, text string",
    )
    refs = spark.createDataFrame(
        [(100, "copy me verbatim boilerplate line")], "doc_id long, text string"
    )
    full = cross_near_dup_pairs(corpus, refs, threshold=0.9).collect()
    assert len(full) == 6
    capped = cross_near_dup_pairs(
        corpus, refs, threshold=0.9, max_per_ref=5
    ).collect()
    assert capped == []


def test_cross_near_dup_corpus_side_broadcast_only(spark, doctable):
    """The scale contract: the reference side rides broadcasts in BOTH
    joins — no sort-merge join anywhere, so the corpus stream is never
    shuffled for the reference."""
    from pyrosar_spark.operators.dedup import cross_near_dup_pairs

    refs = doctable.limit(3)
    q = cross_near_dup_pairs(doctable, refs, threshold=0.1)
    p = _plan(q)
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def _ref_cross_pairs(corpus, refs, n_hashes, n_bands, threshold):
    """From-scratch Python mirror of the banded-MinHash cross join:
    md5-60 shingle hashes, XOR mask family, row-sliced band keys,
    exact Jaccard on band-colliding pairs."""

    def _sh(s):
        toks = [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
        out, seen = [], set()
        for i in range(len(toks) - 1):
            g = " ".join(toks[i : i + 2])
            if g not in seen:
                seen.add(g)
                out.append(g)
        return out

    masks = [
        int(hashlib.md5(f"mask#{s}".encode()).hexdigest()[:15], 16)
        for s in range(n_hashes)
    ]
    r = n_hashes // n_bands

    def _sig(sh):
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in sh]
        return [min(h ^ m for h in hs) for m in masks]

    def _bands(sig):
        return {(b, tuple(sig[b * r : (b + 1) * r])) for b in range(n_bands)}

    cs = {i: set(_sh(t)) for i, t in corpus.items()}
    rs = {i: set(_sh(t)) for i, t in refs.items()}
    cb = {i: _bands(_sig(_sh(t))) for i, t in corpus.items() if _sh(t)}
    rb = {i: _bands(_sig(_sh(t))) for i, t in refs.items() if _sh(t)}
    out = {}
    for a, ba in cb.items():
        for b, bb in rb.items():
            if ba & bb:
                j = round(len(cs[a] & rs[b]) / len(cs[a] | rs[b]), 6)
                if j >= threshold:
                    out[(a, b)] = j
    return out


_cross_corpus = st.dictionaries(
    keys=st.integers(min_value=0, max_value=9),
    values=st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10
    ).map(" ".join),
    min_size=1,
    max_size=5,
)


@given(corpus=_cross_corpus, refs=_cross_corpus, n_bands=st.sampled_from([4, 8]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cross_near_dup_matches_reference(spark, corpus, refs, n_bands):
    from pyrosar_spark.operators.dedup import cross_near_dup_pairs

    got = {
        (r["doc_id"], r["ref_id"]): r["jaccard"]
        for r in cross_near_dup_pairs(
            _spans_df(spark, corpus),
            _spans_df(spark, refs),
            n_hashes=16,
            n_bands=n_bands,
            threshold=0.1,
        ).collect()
    }
    assert got == _ref_cross_pairs(corpus, refs, 16, n_bands, 0.1)
