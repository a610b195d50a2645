"""Property-based differential test for pack_documents (hypothesis).

A from-scratch Python reference of cumulative-fill packing — same
md5 shard hash, same per-(key, shard) id-ordered cumsum, same exact
integer div/mod — checked field-for-field against the Spark output on
hypothesis-generated corpora: duplicate-ish token counts, zero-length
docs, single oversized docs straddling many budgets, multiple sources,
shard counts 1-5, budgets down to 1. This is the adversarial
counterpart to the exact `pack_bins` oracle (which runs one fixed
corpus): hypothesis drives the shapes the corpus generator never
emits.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyrosar_spark.operators.packing import pack_documents


def _md5num(s: str, seed: int = 0) -> int:
    return int(hashlib.md5(f"{s}#{seed}".encode()).hexdigest()[:15], 16)


def _reference(rows, budget: int, n_shards: int):
    """rows: list of (doc_id, source, tokens) → {doc_id: fields}."""
    by_stream: dict = {}
    for doc_id, source, tokens in rows:
        shard = _md5num(doc_id) % n_shards
        by_stream.setdefault((source, shard), []).append((doc_id, tokens))
    out = {}
    for (source, shard), docs in by_stream.items():
        pos = 0
        for doc_id, tokens in sorted(docs):
            out[doc_id] = {
                "source": source,
                "shard": shard,
                "tokens": tokens,
                "stream_pos": pos,
                "bin_id": pos // budget,
                "bin_offset": pos % budget,
            }
            pos += tokens
    return out


_corpus = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=49),          # doc number
        st.sampled_from(["web", "code"]),                # source key
        st.integers(min_value=0, max_value=10_000),      # token count
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(
    corpus=_corpus,
    budget=st.sampled_from([1, 7, 64, 2048]),
    n_shards=st.integers(min_value=1, max_value=5),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_pack_documents_matches_reference(spark, corpus, budget, n_shards):
    rows = [(f"d{n:03d}", src, tok) for n, src, tok in corpus]
    df = spark.createDataFrame(rows, "doc_id string, source string, tokens long")
    packed = pack_documents(
        df,
        budget=budget,
        token_col=F.col("tokens"),
        n_shards=n_shards,
    ).collect()

    ref = _reference(rows, budget, n_shards)
    assert len(packed) == len(ref)
    for r in packed:
        e = ref[r["doc_id"]]
        got = {k: r[k] for k in e}
        assert got == e, f"{r['doc_id']}: {got} != {e}"
