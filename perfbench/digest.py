"""Order-independent output digests, computed the same way in Spark and DuckDB.

A digest is ``(rows, sum(h1), sum(h2))`` where ``h1``/``h2`` are the
first and second 32-bit words of ``md5`` over the row's values joined
by a unit separator. Doubles are compared at 6 decimals (as
``round(x * 1e6)``), every other value as its string cast, NULL as
``\\N``. Both engines agree on the string casts of the integer and
string columns digested here, and on IEEE rounding of the doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

SEP = "\u001f"


def _spark_canon(df: DataFrame, col: str):
    c = F.col(col)
    if isinstance(df.schema[col].dataType, (DoubleType, FloatType)):
        c = F.round(c * 1e6).cast("long")
    return F.coalesce(c.cast("string"), F.lit("\\N"))


def spark_digest(df: DataFrame) -> tuple[int, int, int]:
    """Digest of every row of ``df`` (one Spark action)."""
    m = F.md5(F.concat_ws(SEP, *[_spark_canon(df, c) for c in df.columns]))
    h1 = F.conv(F.substring(m, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(m, 9, 8), 16, 10).cast("long")
    row = df.select(h1.alias("h1"), h2.alias("h2")).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("h1"), F.lit(0)).alias("s1"),
        F.coalesce(F.sum("h2"), F.lit(0)).alias("s2"),
    ).first()
    return int(row["n"]), int(row["s1"]), int(row["s2"])


def duck_digest(con, sql: str, columns: list[str] | None = None) -> tuple[int, int, int]:
    """Digest of the rows of ``sql`` run on the DuckDB connection ``con``;
    ``columns`` restricts (and orders) the digested columns."""
    rel = con.sql(sql)
    types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    cols = columns or rel.columns
    parts = []
    for c in cols:
        q = f'"{c}"'
        if types[c] in ("DOUBLE", "FLOAT"):
            q = f"CAST(round({q} * 1000000.0) AS BIGINT)"
        parts.append(f"coalesce(CAST({q} AS VARCHAR), '\\N')")
    m = f"md5(concat_ws(chr(31), {', '.join(parts)}))"
    n, s1, s2 = con.sql(
        f"""SELECT count(*), coalesce(sum(('0x' || substr(m, 1, 8))::BIGINT), 0),
                   coalesce(sum(('0x' || substr(m, 9, 8))::BIGINT), 0)
            FROM (SELECT {m} AS m FROM ({sql}))"""
    ).fetchone()
    return int(n), int(s1), int(s2)
