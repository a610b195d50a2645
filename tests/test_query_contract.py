"""The query contract in ``__spark_entry__.py``: every query has an
oracle, and the oracle SQL text stays byte-for-byte what the external
oracle run checks against."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entry

# sha256 of json.dumps(oracle_sql(), sort_keys=True); an intended change
# to any oracle's text must update this pin in the same commit
ORACLE_SQL_SHA256 = "89ceb112e5bea76d1bcd518362989eee3307751087d7d0089b6e43593d420e98"


def test_queries_and_oracles_pinned():
    queries, oracles = entry.queries(), entry.oracle_sql()
    assert len(queries) == 65
    assert set(queries) == set(oracles)
    text = json.dumps(oracles, sort_keys=True)
    assert hashlib.sha256(text.encode()).hexdigest() == ORACLE_SQL_SHA256
