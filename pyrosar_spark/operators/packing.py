"""Sequence packing for pretraining pipelines: assign documents to
fixed-token-budget bins.

A training-data pipeline turns a document corpus into fixed-length
training sequences; the packing step decides which documents share a
context window. The scalable columnar form is CUMULATIVE-FILL packing:
within each (key, shard) stream, documents in a deterministic order
are assigned ``bin_id = floor((cumsum_tokens - tokens) / budget)`` —
i.e. a document starts the bin its first token lands in. This is the
standard approximation to greedy first-fit (documents may straddle a
budget boundary; the trainer's loader truncates/continues across the
seam) and, unlike greedy-reset packing, it is expressible as ONE
window cumulative sum — no per-group iteration, exact SQL oracle.

Scale notes: a window over ``partitionBy(key)`` alone concentrates a
10^12-doc source into one task; ``n_shards`` salts the stream
(``pmod(portable_hash64(id), n_shards)``, the engine-portable md5-60
hash) so each shard packs independently — deterministic, parallel, and
bins never cross shards. Shuffle: exactly one, on (key, shard).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyrosar_spark.operators.textstats import token_count_ws

logger = logging.getLogger(__name__)


def pack_documents(
    df: DataFrame,
    budget: int = 2048,
    token_col: Column | str | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Assign each document a ``(shard, bin_id, bin_offset)`` under a
    token ``budget`` per bin.

    ``token_col``: a column/expression with the document's token count
    (defaults to the whitespace tokenizer); ``bin_offset`` is where the
    document's first token lands inside its bin — the loader-side
    placement cursor. The shard hash is the engine-portable md5-60
    form, so SQL oracles reproduce the sharding.

    ``n_shards=None`` (the default) derives the shard count from
    ``defaultParallelism`` so the per-key window never concentrates the
    corpus into a single task; pass ``n_shards=1`` explicitly only when
    a single globally-ordered stream per key is genuinely required (it
    is logged as a scale warning).
    """
    from pyrosar_spark.operators.dedup import portable_hash64

    if n_shards is None:
        n_shards = max(int(df.sparkSession.sparkContext.defaultParallelism), 1)
        est = _estimated_rows(df)
        logger.info(
            "pack_documents: derived n_shards=%d from defaultParallelism%s",
            n_shards,
            "" if est is None else f" (~{est // n_shards} rows/shard/key-space)",
        )
    elif n_shards == 1:
        logger.warning(
            "pack_documents: n_shards=1 serializes each key into ONE task; "
            "at large scale pass n_shards >= defaultParallelism"
        )

    tokens = (
        token_count_ws(F.col("text"))
        if token_col is None
        else (F.col(token_col) if isinstance(token_col, str) else token_col)
    ).cast("long")
    shard = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), 0),
        F.lit(n_shards),
    ).cast("int")
    out = df.select(
        "source", F.col("doc_id"), shard.alias("shard"), tokens.alias("tokens")
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy(F.col("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = F.sum("tokens").over(w)
    staged = out.select(
        "source", "doc_id", "shard", "tokens",
        (cum - F.col("tokens")).alias("stream_pos"),
    )
    # `div` = exact 64-bit integer division: floor(double/double) can
    # misassign a document once stream positions pass ~2^53/budget for
    # non-power-of-two budgets (round-4 review) — the module targets
    # 10^12-doc streams where that is reachable
    return staged.select(
        "source",
        "doc_id",
        "shard",
        "tokens",
        F.expr(f"stream_pos div {int(budget)}").cast("long").alias("bin_id"),
        F.pmod("stream_pos", F.lit(int(budget)).cast("long")).alias("bin_offset"),
        "stream_pos",
    )


def _estimated_rows(df: DataFrame) -> int | None:
    """Catalyst row-count estimate for the plan, if statistics exist
    (file scans always have sizeInBytes; rowCount needs ANALYZE or a
    recent write) — used only for the sharding log line."""
    try:
        cnt = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if cnt.isDefined():
            return int(cnt.get().toString())
    except Exception:
        pass
    return None


def bin_stats(packed: DataFrame) -> DataFrame:
    """Per-bin fill statistics: document count, token sum, and the
    first/last document ids — the packing QA surface (a bin whose
    token sum wildly exceeds its budget means pathological documents
    that should be split upstream)."""
    return (
        packed.groupBy("source", "shard", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )
