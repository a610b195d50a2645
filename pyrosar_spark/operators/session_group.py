"""Time-gap grouping (``groupbyTime``) and attribute grouping.

Reference semantics (``pyroSAR/ancillary.py:73-108``): sort by
timestamp; an item joins the current group when its gap to the
*previous item* (chained, not to the group start) is ≤ ``gap`` seconds;
otherwise it starts a new group. This is exactly ``lag`` + a running
sum of gap-exceeded flags.

``groupby`` (``ancillary.py:40-70``): group names by an attribute,
values sorted within each group.

Scale notes: a global ``orderBy`` window would serialize on one task,
so ``key_cols`` partitions the sessionization (per track / per sensor
— the reference's use case groups acquisitions of one relative orbit).
With no key, parity with the reference's single-list behavior is kept
but only for small inputs (tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def groupby_time(
    df: DataFrame,
    ts_col: str,
    gap_seconds: float,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Assign chained-gap session ids in a ``session_id`` column.

    ``ts_col`` is numeric seconds (use
    :func:`pyrosar_spark.functions.temporal.seconds_col` to derive it
    from names). Sessions are numbered from 1 in timestamp order within
    each key group.
    """
    keys = key_cols or []
    if not keys:
        # a global orderBy window serializes the whole frame on one
        # task — parity-only mode for small inputs; loud, not silent
        import warnings

        warnings.warn(
            "groupby_time without key_cols uses a single-partition global "
            "window (reference-parity mode); pass key_cols (e.g. the "
            "relative orbit) for distributed sessionization",
            stacklevel=2,
        )
    w = W.partitionBy(*keys).orderBy(F.col(ts_col).asc()) if keys else W.orderBy(F.col(ts_col).asc())
    gap_exceeded = (
        (F.col(ts_col) - F.lag(ts_col).over(w) > gap_seconds).cast("int")
    )
    flagged = df.withColumn("_new", F.coalesce(gap_exceeded, F.lit(0)))
    w2 = (
        W.partitionBy(*keys).orderBy(F.col(ts_col).asc()) if keys else W.orderBy(F.col(ts_col).asc())
    ).rowsBetween(W.unboundedPreceding, 0)
    return flagged.withColumn("session_id", F.sum("_new").over(w2) + 1).drop("_new")


def groupby_time_collect(
    df: DataFrame, name_col: str, ts_col: str, gap_seconds: float,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Reference-shaped output: one row per session with the sorted
    member list (``ancillary.py:73-108`` returns lists of lists)."""
    keys = key_cols or []
    sess = groupby_time(df, ts_col, gap_seconds, key_cols=keys)
    return (
        sess.groupBy(*keys, "session_id")
        .agg(
            F.sort_array(F.collect_list(F.struct(ts_col, name_col))).alias("_m"),
            F.count("*").alias("n"),
        )
        .select(
            *keys,
            "session_id",
            F.transform(F.col("_m"), lambda s: s[name_col]).alias("members"),
            "n",
        )
    )


def groupby_attribute(df: DataFrame, name_col: str, attr_col: str) -> DataFrame:
    """``groupby(images, attribute)`` (``ancillary.py:40-70``): one row
    per attribute value with the sorted member names."""
    return (
        df.groupBy(attr_col)
        .agg(F.sort_array(F.collect_list(name_col)).alias("members"))
        .orderBy(attr_col)
    )
