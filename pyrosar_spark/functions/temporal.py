"""Timestamp functions — all JVM-side column expressions.

Reference semantics:
 - ``parse_date`` (``pyroSAR/drivers.py:2578-2606``): try a fixed list
   of timestamp formats, emit ``YYYYmmddTHHMMSS``.
 - ``seconds`` (``pyroSAR/ancillary.py:217-234``): extract the first
   ``[0-9T]{15}`` stamp from a file name, return seconds since
   1900-01-01 as float.
 - Catalog timestamps are *strings* in ``YYYYmmddTHHMMSS`` compared
   lexicographically (``pyroSAR/archive.py:1033-1048``) — the engine
   keeps that representation so date-range predicates stay simple
   string comparisons that Catalyst pushes to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STAMP_FMT = "yyyyMMdd'T'HHmmss"
# Java equivalents of the reference's strptime formats (drivers.py:2595-2599)
_TRY_FORMATS = [
    STAMP_FMT,
    "dd-MMM-yyyy HH:mm:ss.SSSSSS",
    "yyyyMMddHHmmssSSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    "yyyyMMdd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss",
]


def parse_date_col(col: Column | str) -> Column:
    """Normalize assorted stamp formats to ``YYYYmmddTHHMMSS`` (string).

    Unparseable input yields NULL (the caller decides whether that is
    an error), mirroring the try/except cascade at
    ``drivers.py:2595-2603``.
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in _TRY_FORMATS])
    return F.date_format(ts, STAMP_FMT)


def seconds_col(col: Column | str) -> Column:
    """Seconds between the ``[0-9T]{15}`` stamp in a name and 1900-01-01.

    Golden (reference ``tests/test_ancillary.py:10-11``):
    ``seconds('test_20151212T234411') == 3658952651.0``.
    """
    c = F.col(col) if isinstance(col, str) else col
    stamp = F.regexp_extract(c, r"([0-9T]{15})", 1)
    ts = F.to_timestamp(stamp, STAMP_FMT)
    epoch1900 = F.to_timestamp(F.lit("1900-01-01 00:00:00"))
    return (F.unix_timestamp(ts) - F.unix_timestamp(epoch1900)).cast("double")
