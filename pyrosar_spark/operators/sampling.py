"""Corpus sampling and filtering for training-data mixing.

Two operators a 100-TB pretraining pipeline runs after dedup/quality
scoring (reference analog: the catalog-side `select` narrowing at
``pyroSAR/archive.py:601-720`` picks *scenes* by predicate; these pick
*documents* by rank and by budget):

 - :func:`quality_filter` — keep the top ``pct`` percent of documents
   per group by quality score (curriculum / quality-threshold culls);
 - :func:`sample_token_budget` — deterministic per-domain sampling up
   to a token budget (data-mixture construction: "take 30B tokens of
   web, 5B of code, ..."), hash-ordered so the sample is reproducible
   and order-independent.

Both are exact: window-ranked, oracle-reproducible in any SQL engine.
:func:`quality_filter` integer-compares ``rn * 100 <= cnt * pct`` so
no float boundary can disagree between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyrosar_spark.operators.dedup import portable_hash64


def quality_filter(
    df: DataFrame,
    pct: int = 25,
    by: str = "lang",
    score_col: Column | None = None,
) -> DataFrame:
    """Keep the best ``pct`` percent of rows per ``by`` group.

    One rank window per group (sort shuffle) — deterministic tiebreak
    on ``doc_id``, kept iff ``rn * 100 <= group_count * pct`` (pure
    integer math; a float ``ceil(frac * cnt)`` can round differently
    across engines). Output: input columns + ``score``.
    """
    if not 0 < pct <= 100:
        raise ValueError(f"pct must be in (0, 100], got {pct}")
    if score_col is None:
        from pyrosar_spark.operators.textstats import quality_score

        score_col = quality_score(F.col("text"))
    scored = df.withColumn("score", score_col)
    w = W.partitionBy(by).orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(W.partitionBy(by)).alias("_cnt"),
        )
        .where(F.col("_rn") * 100 <= F.col("_cnt") * pct)
        .drop("_rn", "_cnt")
    )


def sample_token_budget(
    df: DataFrame,
    budgets: int | dict[str, int],
    by: str = "source",
) -> DataFrame:
    """Deterministic per-group document sample up to a token budget.

    Rows are ordered by the engine-portable md5-60 hash (seed 1) of
    ``doc_id`` (uniform, stable — the sample is independent of storage
    order and reproducible across runs and engines), then taken while
    the running whitespace-token sum of ``text`` has not yet reached
    the group's budget; the first document CROSSING the budget is still
    included, so a group with enough data always yields ≥ budget
    tokens. ``budgets`` is one
    int for every group or a ``{group: budget}`` dict (missing groups
    are dropped) — dict budgets join as a broadcast dim, never a
    shuffle.

    One sort shuffle per group (the cumulative window). At 10^12 docs
    prefer rough pre-culling by hash threshold — keep
    ``h < max_h * (budget / est_group_tokens) * safety`` with a plain
    filter, THEN run this exact pass on the survivors: the window then
    sorts only ~budget worth of rows.

    Output: (doc_id, by, tokens, cum_tokens) for kept rows.
    """
    from pyrosar_spark.operators.textstats import token_count_ws

    d = df.select(
        F.col("doc_id"),
        F.col(by),
        token_count_ws(F.col("text")).cast("long").alias("tokens"),
        portable_hash64(F.col("doc_id").cast("string"), 1).alias("_h"),
    )
    if isinstance(budgets, dict):
        spark = df.sparkSession
        bdf = spark.createDataFrame(
            list(budgets.items()), f"{by} string, _budget long"
        )
        d = d.join(F.broadcast(bdf), by)
    else:
        d = d.withColumn("_budget", F.lit(int(budgets)).cast("long"))
    w = (
        W.partitionBy(by)
        .orderBy("_h", "doc_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        d.select(
            "doc_id",
            by,
            "tokens",
            F.sum("tokens").over(w).alias("cum_tokens"),
            "_budget",
        )
        .where(F.col("cum_tokens") - F.col("tokens") < F.col("_budget"))
        .drop("_budget")
    )


def sample_stratified(
    df: DataFrame,
    fractions: float | dict[str, float],
    by: str = "source",
    seed: int = 1,
) -> DataFrame:
    """Deterministic stratified sample: keep a row iff the md5-60 hash
    of its ``doc_id`` lands under the group's fraction — the mixture-weighting
    primitive ("keep 10% of web, 100% of code") that, unlike
    ``DataFrame.sample``, is reproducible across runs, partitionings,
    AND engines, so an oracle replays it exactly.

    Fractions quantize to integer parts-per-million on the driver
    (``round(frac * 1e6)``) and the keep test is pure integer math —
    ``pmod(hash, 1e6) < ppm`` — no float boundary can disagree between
    engines. ``fractions`` is one float for all groups or a
    ``{group: fraction}`` dict (missing groups are dropped); dict
    fractions join as a broadcast dim.

    ZERO shuffles: the whole operator is a scan-filter, and at 10^12
    documents that is the point — stratified sampling must not cost a
    corpus pass more than the scan itself. Output: the input columns,
    filtered.
    """

    def _ppm(frac: float) -> int:
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {frac}")
        return int(round(frac * 1_000_000))

    h = portable_hash64(F.col("doc_id").cast("string"), seed)
    d = df.withColumn("_h", F.pmod(h, F.lit(1_000_000)))
    if isinstance(fractions, dict):
        fdf = df.sparkSession.createDataFrame(
            [(k, _ppm(v)) for k, v in fractions.items()],
            f"{by} string, _ppm long",
        )
        d = d.join(F.broadcast(fdf), by)
    else:
        d = d.withColumn("_ppm", F.lit(_ppm(fractions)).cast("long"))
    # the dict join hoists ``by`` to the front — restore input order
    return d.where(F.col("_h") < F.col("_ppm")).select(*df.columns)
