"""Local mirror of the driver's correctness gate: run every
__spark_entry__ query at a given sf and compare against its DuckDB
oracle (row count + sorted-column value comparison)."""

from __future__ import annotations

import os
import sys
import traceback
from pathlib import Path

import duckdb
import pandas as pd

# check the tree this script lives in, from any working directory: this
# process imports from it first, and the Python workers get it on PYTHONPATH
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import __spark_entry__ as entry_mod  # noqa: E402
from pyrosar_spark.session import get_spark  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        try:
            df[c] = pd.to_numeric(df[c])
        except (ValueError, TypeError):
            pass
        kind = df[c].dtype.kind
        if kind in "iuf":
            # DuckDB returns hugeint/decimal for integer sums; compare all
            # numerics in float64 (the driver hash stringifies values, so
            # 150 == 150 regardless of width)
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def driver_heap() -> str:
    """Driver heap sized to this machine: a quarter of its physical
    memory, 1-16 GiB. (Cores come from ``get_spark``'s default:
    ``$SPARK_GRAFT_CPUS`` or the core count.)"""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total // (4 << 30)))}g"


def main(sf_dir: str, only: list[str]) -> int:
    # comma-separated sf dirs run the whole contract at each scale in
    # one process (VERDICT r3 #5: flushes constants that silently
    # depend on one sf's row counts), reusing the Spark session
    if "," in sf_dir:
        rc = 0
        for d in sf_dir.split(","):
            print(f"===== {d} =====")
            rc |= main(d, only)
        return rc
    # the driver's oracle strings are pinned to sf0.01 handoffs
    # (_ORACLE_SF — a bench run must not clobber the correctness dir);
    # for a LOCAL multi-scale check the oracle must read the SAME
    # scale's handoffs as the queries write, so rebind the pin to this
    # run's sf before materializing the SQL strings (round-4 review:
    # without this, every handoff-backed oracle at sf!=0.01 compared
    # against the wrong scale's data — sf0.001 only passed because the
    # documents corpus is identical at sf0.001 and sf0.01)
    import os

    entry_mod._ORACLE_SF = os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark("oracle_check", driver_memory=driver_heap())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"[SPARK-ERROR] {name}")
            traceback.print_exc()
            failures += 1
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(sdf)} rows")
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"[DUCK-ERROR] {name}")
            traceback.print_exc()
            failures += 1
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            print(f"[COLS-MISMATCH] {name}: spark={list(a.columns)} duck={list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"[COUNT-MISMATCH] {name}: spark={len(a)} duck={len(b)}")
            failures += 1
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_rows = neq.any(axis=1)
            print(f"[VALUE-MISMATCH] {name}: {bad_rows.sum()} differing rows of {len(a)}")
            print("spark:", a[bad_rows].head(3).to_dict("records"))
            print("duck :", b[bad_rows].head(3).to_dict("records"))
            failures += 1
            continue
        print(f"[OK        ] {name}: {len(a)} rows")
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sf = args[0] if args else "/root/testdata/sf0.01"
    sys.exit(main(sf, args[1:]))
