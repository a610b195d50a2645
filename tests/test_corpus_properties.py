"""Property-based differentials for the corpus-hygiene operators
(hypothesis).

From-scratch Python references — same tokenizer (lowercase, split on
``[^a-z0-9]+``, drop empties), same md5 chunk hash, same remainder
chunking, same integer-exact scoring — checked field-for-field against
the Spark output on hypothesis-generated corpora: texts that collide
after normalization ("A b" vs "a.b"), empty/punctuation-only docs,
chunk sizes down to 1, duplicate texts, docs that become entirely
boilerplate. The adversarial counterpart to the fixed-corpus
`boilerplate_strip` / `token_commonness` oracles: hypothesis drives the
remainder-chunk and all-boilerplate edges the corpus generator rarely
emits.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyrosar_spark.operators.corpus import (
    strip_boilerplate_chunks,
    token_commonness,
)


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t != ""]


def _md5num(s: str, seed: int = 0) -> int:
    return int(hashlib.md5(f"{s}#{seed}".encode()).hexdigest()[:15], 16)


def _ref_strip(rows, chunk_tokens: int, min_docs: int):
    """rows: [(doc_id, text)] → {doc_id: (clean_text, n_kept, n_dropped)}
    — docs with zero surviving chunks are ABSENT, like C4."""
    chunks_by_doc = {}
    docs_by_hash: dict[int, set] = {}
    for doc_id, text in rows:
        tk = _toks(text)
        chunks = [
            " ".join(tk[i : i + chunk_tokens])
            for i in range(0, len(tk), chunk_tokens)
        ]
        chunks_by_doc[doc_id] = chunks
        for c in chunks:
            docs_by_hash.setdefault(_md5num(c), set()).add(doc_id)
    boiler = {h for h, d in docs_by_hash.items() if len(d) >= min_docs}
    out = {}
    for doc_id, chunks in chunks_by_doc.items():
        kept = [c for c in chunks if _md5num(c) not in boiler]
        if kept:
            out[doc_id] = (" ".join(kept), len(kept), len(chunks) - len(kept))
    return out


def _ref_commonness(rows, rare_max_count: int):
    """rows: [(doc_id, text)] → {doc_id: (n_tokens, n_rare, rare_frac,
    mean_token_freq)} — token-less docs are ABSENT (no tokens to join)."""
    freq: dict[str, int] = {}
    for _, text in rows:
        for t in _toks(text):
            freq[t] = freq.get(t, 0) + 1
    out = {}
    for doc_id, text in rows:
        tk = _toks(text)
        if not tk:
            continue
        n_rare = sum(1 for t in tk if freq[t] <= rare_max_count)
        sum_freq = sum(freq[t] for t in tk)
        out[doc_id] = (
            len(tk),
            n_rare,
            round(n_rare / len(tk), 6),
            round(sum_freq / len(tk), 6),
        )
    return out


# short alphabet + punctuation so normalization collisions and shared
# chunks actually occur within 40-doc corpora
_text = st.text(alphabet="ab A.-", min_size=0, max_size=40)
_corpus = st.lists(
    st.tuples(st.integers(min_value=0, max_value=49), _text),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(
    corpus=_corpus,
    chunk_tokens=st.sampled_from([1, 2, 3, 4]),
    min_docs=st.sampled_from([2, 3]),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_strip_boilerplate_matches_reference(spark, corpus, chunk_tokens, min_docs):
    rows = [(f"d{n:03d}", text) for n, text in corpus]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in strip_boilerplate_chunks(
            df, chunk_tokens=chunk_tokens, min_docs=min_docs
        ).collect()
    }
    assert got == _ref_strip(rows, chunk_tokens, min_docs)


@given(corpus=_corpus, rare_max_count=st.sampled_from([1, 2, 5]))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_token_commonness_matches_reference(spark, corpus, rare_max_count):
    rows = [(f"d{n:03d}", text) for n, text in corpus]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_rare"],
            r["rare_frac"],
            r["mean_token_freq"],
        )
        for r in token_commonness(df, rare_max_count=rare_max_count).collect()
    }
    assert got == _ref_commonness(rows, rare_max_count)
