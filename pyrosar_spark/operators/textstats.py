"""Text analysis for training-data pipelines — all JVM-side.

Language-ID (stopword-ratio heuristic), quality scoring
(length / punctuation / stopword ratios), token counting (whitespace
and BPE-ish regex), and rolling-hash document fingerprints.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.operators.dedup import (
    _gram_hashes,
    _norm_tokens,
    bind,
    portable_hash64,
)

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "pas", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "no", "por", "para"],
}


def tokens_ws(text: Column) -> Column:
    """Whitespace tokens (empty-safe)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count_ws(text: Column) -> Column:
    return F.size(tokens_ws(text))


# GPT2-style pre-tokenizer pieces, simplified to ASCII classes with no
# lookaround — the same pattern runs identically under Java regex
# (Spark) and RE2 (DuckDB), so the count is oracle-portable
BPE_PIECE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish sub-word proxy: count pre-tokenizer pieces (letter runs,
    digit runs, punctuation runs, each with optional leading space) —
    the usual ~chars/4 heuristic's exact cousin."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PIECE_RE), 0))


def char_stats(text: Column) -> dict[str, Column]:
    n = F.length(text)
    letters = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    spaces = F.length(F.regexp_replace(text, r"\S", ""))
    return {
        "n_chars": n,
        "letter_ratio": F.round(letters / F.greatest(n, F.lit(1)), 6),
        "digit_ratio": F.round(digits / F.greatest(n, F.lit(1)), 6),
        "punct_ratio": F.round(punct / F.greatest(n, F.lit(1)), 6),
        "space_ratio": F.round(spaces / F.greatest(n, F.lit(1)), 6),
    }


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    toks = F.filter(F.split(F.lower(text), r"[^a-z]+"), lambda t: t != "")
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 6)


def lang_id(text: Column) -> Column:
    """argmax over per-language stopword ratios; 'und' when all zero.
    Deterministic tie-break: language order as in STOPWORDS."""
    scored = F.array(
        *[
            F.struct((-stopword_ratio(text, lang)).alias("neg"), F.lit(i).alias("ord"),
                     F.lit(lang).alias("lang"))
            for i, lang in enumerate(STOPWORDS)
        ]
    )
    best = F.element_at(F.array_sort(scored), 1)
    return F.when(-best.neg > 0, best.lang).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality: length band + letter ratio + stopword
    presence − punctuation excess. Simple, monotone, fully columnar."""
    cs = char_stats(text)
    n_tok = token_count_ws(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.least(cs["punct_ratio"] * 4, F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * cs["letter_ratio"]
        + F.lit(0.3) * stopword_ratio(text)
        - F.lit(0.2) * punct_penalty
    )
    return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)


def fingerprint64(text: Column, window: int = 8) -> Column:
    """Rolling-hash document fingerprint: min of the window-gram hashes
    (a 1-hash winnowing sketch) — stable under small appends.

    Grams hash with the engine-portable
    :func:`pyrosar_spark.operators.dedup.portable_hash64`, so DuckDB
    oracles can reproduce the value bit-for-bit.
    """
    grams = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.length(text) - (window - 1), F.lit(1))
        ),
        lambda i: portable_hash64(F.substring(text, i, window), 0),
    )
    return F.array_min(grams)


def contamination(docs: DataFrame, eval_docs: DataFrame, n: int = 13) -> DataFrame:
    """Benchmark decontamination (training-pipeline op): flag training
    documents (``doc_id``, ``text``) sharing any exact ``n``-token gram
    with an evaluation set (``eval_id``, ``text``), with the hit count
    and the offending eval ids.

    Shape for 100 TB: the eval side is tiny (benchmarks are kB-MB) —
    its distinct (eval id, gram hash) pairs are BROADCAST; the training
    side explodes its gram hashes and inner-joins the broadcast set
    BEFORE any wide operator, so non-contaminated documents never
    survive the join and the only shuffles in the plan are over the
    tiny surviving (doc_id, hash, eval_id) rows (a round-4 review
    caught an earlier corpus-wide pre-join distinct — trillions of
    rows shuffled at design scale for nothing; a gram repeated inside
    one document is deduplicated post-join instead). Both sides lift
    their grams with the one gram-hash table
    (:func:`~pyrosar_spark.operators.dedup._gram_hashes`: tokens bound
    once, then one exploded position per gram — no per-gram lambda),
    hashed with the engine-portable md5-60 form, so SQL oracles
    reproduce the hits exactly.
    """
    ev_tk = bind(
        eval_docs.select(F.col("eval_id").alias("_eid"), F.col("text")),
        "_tk",
        _norm_tokens(F.col("text")),
    )
    ev = F.broadcast(_gram_hashes(ev_tk, "_eid", n).select("_eid", "_h").distinct())
    tk = bind(
        docs.select(F.col("doc_id"), F.col("text")),
        "_tk",
        _norm_tokens(F.col("text")),
    )
    tr = _gram_hashes(tk, "doc_id", n)
    return (
        tr.join(ev, on="_h")
        .dropDuplicates(["doc_id", "_h", "_eid"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.array_sort(F.collect_set("_eid")).alias("eval_ids"),
        )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style per-``doc_id`` repetition quality signals of ``text``
    (Rae et al. 2021 §A1.1: documents dominated by one repeated
    n-gram are boilerplate):

    - ``dup_2gram_frac`` — fraction of token 2-grams that are repeats
      of an earlier one (1 − distinct/total);
    - ``top_2gram_count`` — multiplicity of the most frequent 2-gram;
    - ``top_2gram_frac`` — fraction of tokens covered by it
      (2·count / n_tokens, capped at 1).

    Shape for 100 TB: every metric is computed INSIDE the row with JVM
    higher-order functions — no shuffle, no Python. Both the token
    array and the gram array are bound behind one-column Generate
    barriers (``explode(array(..))``, one row in/one row out — the
    select.py SAT lesson): higher-order functions are CodegenFallback
    with no common-subexpression elimination, so without the barriers
    the full tokenization re-evaluates once per reference and once per
    lambda element — O(n_tokens²·|text|) per row. With them, tokenize
    once, build grams once (``zip_with`` over two slices, no per-index
    ``element_at``), then every metric reads the bound arrays. The
    top-gram multiplicity is a run-length scan over the sorted gram
    array (``aggregate`` with a (prev, run, best) struct accumulator),
    O(g log g) per document vs the oracle's
    independent O(g²) count-per-distinct-gram formulation, so the two
    sides share no algorithm shape.

    NULL text propagates NULL metrics (matching the SQL oracle, where
    every list function is NULL-strict) — without the guard, non-ANSI
    ``size(NULL)`` is -1 and would report a nonsense token count.
    """
    # barrier 1: tokenize once
    bound = bind(df, "_tk", _norm_tokens(F.col("text")))
    toks = F.col("_tk")
    # guard the <2-token case: slice with length 0 errors under ANSI;
    # branch to [] instead (also covers NULL via the outer when)
    grams_expr = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).when(F.size(toks) >= 0, F.array().cast("array<string>"))
    # barrier 2: build grams once (carry _tk through for n_tokens)
    bound = bind(bound, "_gr", grams_expr)
    grams = F.col("_gr")
    n_tok = F.size(toks)
    n_gram = F.size(grams)
    # run-length scan over the sorted grams: best = longest equal run
    best_run = F.aggregate(
        F.sort_array(grams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    # no `otherwise`: NULL n_gram/n_tok (NULL text) falls through to NULL
    dup_frac = F.when(
        n_gram > 0, 1.0 - F.size(F.array_distinct(grams)) / n_gram
    ).when(n_gram == 0, F.lit(0.0))
    top_count = F.when(n_gram > 0, best_run).when(n_gram == 0, F.lit(0))
    top_frac = F.when(
        n_tok > 0, F.least(top_count * 2.0 / n_tok, F.lit(1.0))
    ).when(n_tok == 0, F.lit(0.0))
    return bound.select(
        F.col("doc_id"),
        n_tok.alias("n_tokens"),
        F.round(dup_frac, 6).alias("dup_2gram_frac"),
        top_count.alias("top_2gram_count"),
        F.round(top_frac, 6).alias("top_2gram_frac"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms of ``text`` per ``doc_id`` (smooth idf:
    ``tf/n_tokens · (ln((N+1)/(df+1)) + 1)``), rank ties broken by
    term so the ordering is total and engine-portable.

    Shape for 100 TB: three aggregations, each justified —
    1. ``tf`` groups the exploded tokens by (doc, term): one shuffle
       over token volume, unavoidable for exact term counts, with
       map-side partial aggregation collapsing within-partition
       repeats before the wire. The tokenization is bound behind a
       Generate barrier so it runs once per row, not once per
       reference (HOFs are CodegenFallback — no CSE).
    2. ``dfreq`` re-aggregates **tf** (already one row per (doc,
       term)) by term — the input to this second shuffle is the
       deduplicated pair set, orders of magnitude smaller than the
       token stream.
    3. The vocabulary-sized ``dfreq`` joins back with an explicit
       ``broadcast()`` hint: natural-language vocabularies are ~10⁷
       even at web scale. An adversarial key space like raw n-grams,
       where the "vocabulary" is corpus-sized, does not fit this plan.
    The corpus size N rides the plan as a broadcast one-row aggregate
    (no eager ``df.count()`` job — constructing the DataFrame stays
    side-effect-free and N costs nothing beyond the scan the tf stage
    already pays). The final per-doc top-k is a window over (doc),
    partial-ranked inside partitions by AQE.
    """
    bound = bind(df, "_tk", _norm_tokens(F.col("text")))
    base = bound.select(
        F.col("doc_id"), F.size("_tk").alias("_n"), F.explode("_tk").alias("term")
    )
    tf = base.groupBy("doc_id", "term").agg(
        F.count("*").alias("_c"), F.first("_n").alias("_n")
    )
    n_docs = F.broadcast(df.select(F.count("*").alias("_nd")))
    dfreq = F.broadcast(tf.groupBy("term").agg(F.count("*").alias("_df")))
    from pyspark.sql import Window

    scored = tf.join(dfreq, on="term").crossJoin(n_docs).select(
        F.col("doc_id"),
        F.col("term"),
        F.round(
            (F.col("_c").cast("double") / F.col("_n"))
            * (F.log((F.col("_nd") + 1.0) / (F.col("_df") + 1.0)) + 1.0),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "tfidf")
    )
