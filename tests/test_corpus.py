"""Corpus-hygiene operators: C4 boilerplate stripping, token
commonness, stratified sampling.

The contract oracles (boilerplate_strip / token_commonness /
stratified_sample in __spark_entry__.py) pin full-corpus equality vs
DuckDB; these tests pin the edges the oracle never sees — empty
documents, fully-boilerplate documents, argument validation,
partitioning-independence of the sample — and the plan shapes the
docstrings promise (zero Exchange for the sample, broadcast vocab for
commonness).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.corpus import (
    strip_boilerplate_chunks,
    token_commonness,
)
from pyrosar_spark.operators.sampling import sample_stratified
from tests.testlib import plan_text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


BOILER = "join the big table now"  # 5 tokens -> chunks of 4: 2 chunks


def test_strip_boilerplate_golden(spark):
    # chunk_tokens=2: d1/d2 share the chunk "aa bb"; d3 is untouched;
    # d4 is ONLY the shared chunk and must drop out entirely (C4);
    # d5 is empty text and never produces chunks
    d = _docs(
        spark,
        [
            (1, "aa bb unique one", "s"),
            (2, "aa bb other words", "s"),
            (3, "totally distinct text here", "s"),
            (4, "aa bb", "s"),
            (5, "", "s"),
        ],
    )
    out = strip_boilerplate_chunks(d, chunk_tokens=2, min_docs=2)
    got = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"]) for r in out.collect()}
    assert got == {
        1: ("unique one", 1, 1),
        2: ("other words", 1, 1),
        3: ("totally distinct text here", 2, 0),
    }


def test_strip_boilerplate_remainder_chunk_and_order(spark):
    # 5 tokens at chunk_tokens=4 -> chunks ("a b c d", "e"); the
    # remainder chunk "e" is shared and removed, order of the rest kept
    d = _docs(spark, [(1, "a b c d e", "s"), (2, "x y z w e", "s")])
    out = strip_boilerplate_chunks(d, chunk_tokens=4, min_docs=2)
    got = {r["doc_id"]: r["clean_text"] for r in out.collect()}
    assert got == {1: "a b c d", 2: "x y z w"}


def test_strip_boilerplate_validation(spark):
    d = _docs(spark, [(1, "a", "s")])
    with pytest.raises(ValueError, match="chunk_tokens"):
        strip_boilerplate_chunks(d, chunk_tokens=0)
    with pytest.raises(ValueError, match="min_docs"):
        strip_boilerplate_chunks(d, min_docs=1)


def test_token_commonness_golden(spark):
    # corpus counts: aa=3, bb=2, cc=1 -> rare (<=1): cc only
    d = _docs(spark, [(1, "aa aa bb", "s"), (2, "aa bb cc", "s"), (3, "", "s")])
    out = token_commonness(d, rare_max_count=1)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_frac"], r["mean_token_freq"])
        for r in out.collect()
    }
    # doc 3 has zero tokens and drops out (inner-join semantics, same
    # as the SQL oracle); doc1 freqs 3+3+2=8, doc2 3+2+1=6
    assert got == {
        1: (3, 0, 0.0, round(8 / 3, 6)),
        2: (3, 1, round(1 / 3, 6), 2.0),
    }


def test_token_commonness_validation_and_broadcast_plan(spark):
    d = _docs(spark, [(1, "a b", "s")])
    with pytest.raises(ValueError, match="rare_max_count"):
        token_commonness(d, rare_max_count=0)
    plan = plan_text(token_commonness(d))
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_partitioning_independent(spark):
    rows = [(i, f"text {i}", f"src{i % 4}") for i in range(400)]
    d = _docs(spark, rows)
    fr = {"src0": 0.5, "src1": 0.25, "src2": 1.0}
    a = {r["doc_id"] for r in sample_stratified(d, fr, seed=3).collect()}
    b = {
        r["doc_id"]
        for r in sample_stratified(d.repartition(17), fr, seed=3).collect()
    }
    assert a == b and len(a) > 0
    # src3 is unlisted and must drop entirely; src2 keeps everything
    srcs = {
        r["source"]
        for r in sample_stratified(d, fr, seed=3).select("source").distinct().collect()
    }
    assert "src3" not in srcs
    kept2 = sample_stratified(d, fr, seed=3).where(F.col("source") == "src2").count()
    assert kept2 == 100


def test_stratified_sample_scalar_fraction_and_column_order(spark):
    d = _docs(spark, [(i, "t", "s") for i in range(100)])
    out = sample_stratified(d, 1.0)
    assert out.columns == d.columns and out.count() == 100
    assert sample_stratified(d, 0.0).count() == 0
    with pytest.raises(ValueError, match="fraction"):
        sample_stratified(d, 1.5)
    # zero-shuffle promise: scalar-fraction path has no Exchange at all
    plan = plan_text(out)
    assert "Exchange" not in plan


def test_stratified_sample_md5_mode_matches_reference(spark):
    # the sample replays through the documented md5 recipe
    import hashlib

    d = _docs(spark, [(i, "t", "s") for i in range(50)])
    got = {
        r["doc_id"]
        for r in sample_stratified(d, 0.3, seed=7).collect()
    }
    want = {
        i
        for i in range(50)
        if int(hashlib.md5(f"{i}#7".encode()).hexdigest()[:15], 16) % 1_000_000
        < 300_000
    }
    assert got == want


# ---------------------------------------------------------------------------
# hypothesis differentials vs from-scratch Python references
# ---------------------------------------------------------------------------

import re
from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _tok(s: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", s.lower()) if t]


def _ref_strip(texts: dict[int, str], chunk_tokens: int, min_docs: int):
    chunks = {
        d: [
            " ".join(tk[i : i + chunk_tokens])
            for i in range(0, len(tk), chunk_tokens)
        ]
        for d, tk in ((d, _tok(s)) for d, s in texts.items())
    }
    docs_per: dict[str, set] = {}
    for d, cks in chunks.items():
        for c in set(cks):
            docs_per.setdefault(c, set()).add(d)
    out = {}
    for d in sorted(chunks):
        kept = [c for c in chunks[d] if len(docs_per[c]) < min_docs]
        if kept:
            out[d] = (" ".join(kept), len(kept), len(chunks[d]) - len(kept))
    return out


def _ref_commonness(texts: dict[int, str], rare_max: int):
    freq = Counter(t for s in texts.values() for t in _tok(s))
    out = {}
    for d in sorted(texts):
        tk = _tok(texts[d])
        if not tk:
            continue
        n_rare = sum(1 for t in tk if freq[t] <= rare_max)
        out[d] = (
            len(tk),
            n_rare,
            round(n_rare / len(tk), 6),
            round(sum(freq[t] for t in tk) / len(tk), 6),
        )
    return out


_corpus = st.dictionaries(
    keys=st.integers(min_value=0, max_value=9),
    values=st.lists(
        st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=12
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


def _corpus_df(spark, texts):
    return spark.createDataFrame(
        [(d, s, "s") for d, s in texts.items()],
        "doc_id long, text string, source string",
    )


@given(
    texts=_corpus,
    chunk_tokens=st.sampled_from([1, 2, 4]),
    min_docs=st.sampled_from([2, 3]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_strip_boilerplate_matches_reference(spark, texts, chunk_tokens, min_docs):
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in strip_boilerplate_chunks(
            _corpus_df(spark, texts), chunk_tokens=chunk_tokens, min_docs=min_docs
        ).collect()
    }
    assert got == _ref_strip(texts, chunk_tokens, min_docs)


@given(texts=_corpus, rare_max=st.sampled_from([1, 2]))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_token_commonness_matches_reference(spark, texts, rare_max):
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_rare"], r["rare_frac"], r["mean_token_freq"])
        for r in token_commonness(
            _corpus_df(spark, texts), rare_max_count=rare_max
        ).collect()
    }
    assert got == _ref_commonness(texts, rare_max)


def test_strip_boilerplate_exchange_budget(spark):
    """Scale contract (same skeleton as dup_ngram_spans): chunk
    multiplicity is the two-phase distinct count — exchange on
    (hash, doc), then a deduped exchange on hash — plus ONE exchange
    for the per-doc reassembly; the anti join's boilerplate side rides
    a BroadcastExchange at test scale (AQE falls back to a 4th hash
    exchange only when the boilerplate set outgrows the threshold),
    and at most one range exchange orders the output. collect_list
    appears ONLY in the reassembly aggregation, where it is bounded by
    chunks-per-document, never by corpus size. This is the plan of an
    input wider than one task: checkpointed, the documents have no
    input files, so ``_input_width`` sizes them at cores (a one-task
    input runs with no Exchange, tests/test_width.py)."""
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = strip_boilerplate_chunks(d.localCheckpoint(), chunk_tokens=4, min_docs=2)
    p = plan_text(q)
    assert p.count("Exchange hashpartitioning") == 3, p
    assert p.count("Exchange rangepartitioning") <= 1
    assert "BroadcastExchange" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
