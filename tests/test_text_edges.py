"""Edge inputs for the md5-hashing text operators: an empty frame, NULL
text and ``''`` text. Each edge frame holds two such documents, so the
pair and multiplicity operators would report them against each other.

Only the cases no other test pins are here: ``''`` through
``strip_boilerplate_chunks`` is in ``test_corpus``'s golden and NULL
through ``simhash_pairs`` is in ``test_round3_fixes``.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.corpus import strip_boilerplate_chunks
from pyrosar_spark.operators.dedup import dup_ngram_spans, simhash_pairs
from pyrosar_spark.operators.packing import pack_documents
from pyrosar_spark.operators.sampling import sample_stratified, sample_token_budget
from pyrosar_spark.operators.textstats import contamination, fingerprint64


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


EDGES = {
    "empty": [],
    "null": [(1, None, "s"), (2, None, "s")],
    "blank": [(1, "", "s"), (2, "", "s")],
}

OPS = {
    "dup_ngram_spans": lambda d: dup_ngram_spans(d, n=2),
    "strip_boilerplate_chunks": lambda d: strip_boilerplate_chunks(d, chunk_tokens=2),
    # the frame is its own eval set: any gram would be a hit
    "contamination": lambda d: contamination(
        d, d.select(F.col("doc_id").alias("eval_id"), "text"), n=2
    ),
    "simhash_pairs": simhash_pairs,
    "fingerprint64": lambda d: d.select("doc_id", fingerprint64(F.col("text"))),
    "pack_documents": lambda d: pack_documents(d, budget=4, n_shards=2),
    "sample_token_budget": lambda d: sample_token_budget(d, 5),
    "sample_stratified": lambda d: sample_stratified(d, 1.0),
}

_SHARD = {i: _md5_60(f"{i}#0") % 2 for i in (1, 2)}

# (operator, edge) -> the sorted output rows. NULL text has no tokens
# and no hash: nothing to match, a NULL fingerprint, a NULL token count
# (so no bin and no budget share); '' has zero tokens.
EXPECTED = {
    **{(op, "empty"): [] for op in OPS},
    ("dup_ngram_spans", "null"): [],
    ("dup_ngram_spans", "blank"): [],
    ("strip_boilerplate_chunks", "null"): [],
    ("contamination", "null"): [],
    ("contamination", "blank"): [],
    # two identical tokenless texts: both hash to 0, a hamming-0 pair
    ("simhash_pairs", "blank"): [(1, 2, 0)],
    ("fingerprint64", "null"): [(1, None), (2, None)],
    ("fingerprint64", "blank"): [(1, _md5_60("#0")), (2, _md5_60("#0"))],
    ("pack_documents", "null"): [
        ("s", i, _SHARD[i], None, None, None, None) for i in (1, 2)
    ],
    ("pack_documents", "blank"): [("s", i, _SHARD[i], 0, 0, 0, 0) for i in (1, 2)],
    ("sample_token_budget", "null"): [],
    ("sample_token_budget", "blank"): [(1, "s", 0, 0), (2, "s", 0, 0)],
    ("sample_stratified", "null"): EDGES["null"],
    ("sample_stratified", "blank"): EDGES["blank"],
}


@pytest.mark.parametrize(
    "op,edge", sorted(EXPECTED), ids=[f"{o}-{e}" for o, e in sorted(EXPECTED)]
)
def test_md5_operator_edges(spark, op, edge):
    d = spark.createDataFrame(EDGES[edge], "doc_id long, text string, source string")
    got = sorted(map(tuple, OPS[op](d).collect()))
    assert got == EXPECTED[(op, edge)]


@pytest.mark.parametrize("op", [dup_ngram_spans, strip_boilerplate_chunks])
def test_md5_is_the_only_hash_mode(spark, op):
    d = spark.createDataFrame(EDGES["blank"], "doc_id long, text string, source string")
    op(d, hash_mode="md5")  # the one accepted value
    with pytest.raises(ValueError, match="hash_mode must be 'md5'"):
        op(d, hash_mode="xxhash64")
