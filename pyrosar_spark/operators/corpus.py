"""Corpus-hygiene operators for training-data pipelines.

The C4 / Gopher cleaning stages a 100-TB pretraining run applies
between ingest and dedup (reference analog: the catalog-side cleanup
passes at ``pyroSAR/archive.py:440-470`` drop *products* the archive
already holds; these drop *text* the corpus already holds):

 - :func:`strip_boilerplate_chunks` — C4-style corpus-level
   boilerplate removal ("drop any line that occurs in >= N documents",
   Raffel et al. 2020 §2.2), expressed over fixed-size token chunks
   because the document model is a single token stream. The corpus
   detectors in :mod:`textstats` (repetition_stats) and :mod:`dedup`
   (dup_ngram_spans) only REPORT duplication; this operator is the cleaning step that
   removes it and re-emits the text;
 - :func:`token_commonness` — corpus unigram frequencies joined back
   per document (rare-token fraction + mean token frequency), the
   integer-exact cousin of unigram log-prob quality scoring and the
   commonness complement of :func:`textstats.tfidf_top_terms` (which
   surfaces each doc's most DISTINCTIVE terms).

Exactness discipline (same as :mod:`sampling`): every emitted number
is either a BIGINT or a ``round(int / int, 6)`` of a deterministic
IEEE division, so a SQL oracle reproduces values bit-for-bit; chunks
hash with the engine-portable md5-60 form
(:func:`pyrosar_spark.operators.dedup.portable_hash64`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.operators.dedup import (
    _common_hashes,
    _tokens,
    bind,
    portable_hash64,
)


def _chunks(tk: Column, chunk_tokens: int) -> Column:
    """Non-overlapping ``chunk_tokens``-token chunks of a token array,
    each rendered back to a space-joined string; the last chunk is the
    natural remainder. Pure array expression — no Generate. ``tk`` is
    read inside the ``transform`` lambda, so pass a bound column: an
    unbound token expression would re-tokenize once per chunk."""
    n_chunks = F.ceil(F.size(tk) / F.lit(chunk_tokens)).cast("int")
    # Spark's sequence(1, 0) is DESCENDING [1, 0], not empty — an empty
    # token array must short-circuit to an empty chunk list
    return F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(1), n_chunks),
            lambda i: F.array_join(
                F.slice(
                    tk, (i - F.lit(1)) * chunk_tokens + F.lit(1), chunk_tokens
                ),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def strip_boilerplate_chunks(
    df: DataFrame,
    chunk_tokens: int = 8,
    min_docs: int = 2,
    # accepts only "md5"; kept because perfbench/workloads.py passes it
    hash_mode: str = "md5",
) -> DataFrame:
    """C4-style boilerplate removal: delete every chunk of ``text``
    that occurs in ``min_docs`` or more DISTINCT documents, and re-emit
    each surviving ``doc_id`` with the remaining chunks re-joined in
    order.

    Plan shape (scale-first, the same skeleton as
    :func:`~pyrosar_spark.operators.dedup.dup_ngram_spans`):
      1. one projection tokenizes and one chunks the bound tokens
         (each Generate-barriered, so every document is tokenized
         once) — rows explode by ~|tokens|/chunk_tokens carrying
         (id, chunk_idx, chunk, hash);
      2. chunk multiplicity = groupBy(hash) over a two-column distinct
         pre-aggregation (both partial-aggregatable: a viral chunk
         contributes ONE row per doc, never a list);
      3. boilerplate positions leave via LEFT ANTI join on the hash —
         the dup-hash side is usually small but unbounded, so no
         forced broadcast (AQE converts it when it fits);
      4. survivors re-assemble per doc with one sort-free
         groupBy + sort_array (chunk_idx is bounded per doc).

    Documents whose every chunk is boilerplate drop out entirely —
    the C4 behavior (an emptied document is not training data).

    Output: (doc_id, clean_text, n_kept, n_dropped), ordered by doc_id.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    if hash_mode != "md5":
        raise ValueError(f"hash_mode must be 'md5', got {hash_mode!r}")
    d = bind(_tokens(df, "text", "doc_id"), "_ck", _chunks(F.col("_tk"), chunk_tokens))
    pos = d.select(
        "_id",
        F.size("_ck").alias("_n"),
        F.posexplode("_ck").alias("_ci", "_chunk"),
    )
    h = portable_hash64(F.col("_chunk"), 0)
    # r6: ``pos`` feeds BOTH the multiplicity aggregation and the anti
    # join — without materialization the tokenize+chunk+hash subtree
    # runs twice, plus a second _spread Exchange. localCheckpoint
    # computes it once per invocation (same fix as dup_ngram_spans);
    # nothing survives the query. (A lazy persist here measured slower:
    # both concurrent AQE stages computed the frame.)
    pos = pos.withColumn("_h", h).localCheckpoint()
    kept = pos.join(_common_hashes(pos, min_docs), "_h", "left_anti")
    return (
        kept.groupBy("_id", "_n")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("_ci", "_chunk"))),
                    lambda s: s["_chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "clean_text",
            "n_kept",
            (F.col("_n") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
        )
        .orderBy("doc_id")
    )


def token_commonness(df: DataFrame, rare_max_count: int = 2) -> DataFrame:
    """Corpus-informed token-commonness scoring: build the corpus
    unigram frequency table, then score each document by how common
    its tokens are — the integer-exact stand-in for unigram log-prob
    quality scoring (log of a count is engine-divergent in the last
    ulp; the count itself is not).

    Plan shape: one explode + partial-aggregatable groupBy(token)
    builds the vocabulary (output is vocab-sized, tiny next to the
    corpus); the corpus then joins the vocabulary, NOT the reverse —
    the vocab is broadcast so corpus tokens NEVER shuffle, which also
    sidesteps the classic stopword skew ("the" is a hot key a shuffle
    join would hash to one task). A vocabulary beyond executor memory
    (≳10^8 distinct tokens) does not fit this plan.

    Input: ``doc_id``, ``text``. Output per document: (doc_id,
    n_tokens, n_rare [corpus count <= ``rare_max_count``], rare_frac,
    mean_token_freq) — counts BIGINT, fractions ``round(int/int, 6)``.
    Ordered by doc_id.
    """
    if rare_max_count < 1:
        raise ValueError(f"rare_max_count must be >= 1, got {rare_max_count}")
    # r6: ``toks`` feeds both the vocabulary aggregation and the score
    # join — localCheckpoint pins the tokenize+explode to one
    # evaluation (same double-compute fix as dup_ngram_spans).
    toks = (
        _tokens(df, "text", "doc_id")
        .select("_id", F.explode("_tk").alias("_t"))
        .localCheckpoint()
    )
    vocab = F.broadcast(toks.groupBy("_t").agg(F.count("*").alias("_cnt")))
    n_tok = F.count("*").cast("bigint")
    n_rare = F.sum(
        F.when(F.col("_cnt") <= rare_max_count, 1).otherwise(0)
    ).cast("bigint")
    return (
        toks.join(vocab, "_t")
        .groupBy("_id")
        .agg(
            n_tok.alias("n_tokens"),
            n_rare.alias("n_rare"),
            F.sum("_cnt").cast("bigint").alias("_sum_freq"),
        )
        .select(
            F.col("_id").alias("doc_id"),
            "n_tokens",
            "n_rare",
            F.round(F.col("n_rare") / F.col("n_tokens"), 6).alias("rare_frac"),
            F.round(F.col("_sum_freq") / F.col("n_tokens"), 6).alias(
                "mean_token_freq"
            ),
        )
        .orderBy("doc_id")
    )
