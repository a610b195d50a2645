"""Catalog storage: parquet now, Iceberg when a catalog is configured.

The scene catalog mirrors the reference's ``data`` + ``duplicates``
SpatiaLite tables (``pyroSAR/archive.py:374-418``). The parquet layout
:func:`write_scenes` writes:

 - one directory per acquisition day (``partitionBy("start_day")``,
   ``start_day`` = the first 8 characters of ``start``), after a hash
   repartition on (``start_day``, ``orbitNumber_rel``) that spreads a
   hot track over several files of its day;
 - each file sorted by (xmin, ymin), so parquet min/max column stats
   can skip row groups for the bbox prefilters;
 - no bucketing by ``orbitNumber_rel``. The date predicates P4/P5
   reach the scan as pushed filters on ``start`` only; they do not
   become ``start_day`` partition filters, so no directory is pruned
   (``tests/test_catalog_ops.py::test_stored_catalog_pruning``).

``MERGE INTO`` (Iceberg) gives the transactional insert/dedup the
reference gets from its single SQLite transaction
(``archive.py:585-594``); :func:`insert_scenes_merge_sql` emits it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_scenes(scenes: DataFrame, path: str) -> None:
    """Day-partitioned, (xmin, ymin)-sorted parquet layout (see the
    module docstring), overwriting ``path``."""
    out = scenes.withColumn("start_day", F.substring("start", 1, 8))
    (
        out.repartition(F.col("start_day"), F.col("orbitNumber_rel"))
        .sortWithinPartitions("xmin", "ymin")
        .write.mode("overwrite")
        .partitionBy("start_day")
        .parquet(path)
    )


def read_scenes(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("start_day")


def insert_scenes_merge_sql(
    data_table: str = "catalog.sar.scenes",
    dup_table: str = "catalog.sar.duplicates",
    staging: str = "staged_scenes",
    batch_id_col: str | None = None,
) -> list[str]:
    """The Iceberg transactional form of ``ingest.insert_scenes``
    (duplicate routing, reference ``archive.py:563-577``): two MERGEs
    run inside one Iceberg transaction on a real catalog — the sandbox
    image ships no Iceberg runtime jars (and no network to fetch them;
    verified again round 4), so the statements are emitted verbatim and
    their semantics are EXECUTED differentially in
    ``tests/test_merge_exec.py``: each insert-only MERGE is mechanically
    rewritten to its exact ``INSERT … SELECT … WHERE NOT EXISTS``
    equivalent and run in DuckDB against randomized batches, asserting
    row-for-row parity with ``ingest.insert_scenes``.

    Construction notes (all round-4, each caught by the executed
    differential):

     - Both sources pre-filter staged rows whose exact ``scene`` string
       is already registered (``insert_scenes``' anti-joins) —
       previously a scene re-registered under a different key
       double-inserted.
     - The DATA merge runs FIRST: every guard it evaluates then sees
       the pre-batch state of both tables, like ``insert_scenes``'
       anti-joins (with the duplicates merge first, a same-key
       same-scene pair arriving in one batch poisoned the data merge's
       own registered-scene guard).
     - The DUPLICATES merge reconstructs the pre-batch data state by
       exempting rows the preceding data merge just inserted, then
       routes rank>1 arrivals plus demoted rank-1 rows (key
       pre-registered) — previously intra-batch rank>1 arrivals were
       never routed at all. Two exemption forms (ADVICE r4): the
       default matches on ``doc_id`` membership in the staging batch,
       which is sound only under the contract that the ingest sequence
       is globally unique and never replayed; pass ``batch_id_col``
       (a staging column constant per batch and carried into the data
       table by ``INSERT *``) to exempt by batch identity instead —
       replay-proof because old data rows can never share the current
       batch id.
    """
    key = "t.product = s.product AND t.outname_base = s.outname_base"

    def unreg(data_pre: str) -> str:
        return (
            f"NOT EXISTS (SELECT 1 FROM {data_table} r WHERE r.scene = s.scene"
            f"{data_pre})\n"
            f"      AND NOT EXISTS (SELECT 1 FROM {dup_table} r "
            f"WHERE r.scene = s.scene)"
        )

    # duplicates-merge form: data rows inserted by the preceding data
    # merge do not count as "registered". IS NOT DISTINCT FROM keeps the
    # batch-id form null-safe (legacy data rows predating the column
    # must still count as pre-batch registrations).
    if batch_id_col is not None:
        pre_batch = (
            f"\n        AND NOT (r.{batch_id_col} IS NOT DISTINCT "
            f"FROM s.{batch_id_col})"
        )
    else:
        pre_batch = (
            f"\n        AND NOT EXISTS (SELECT 1 FROM {staging} b "
            f"WHERE b.doc_id = r.doc_id)"
        )
    return [
        # first registration of a key wins; exact re-registrations no-op
        f"""MERGE INTO {data_table} t
USING (
  SELECT * FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY s.product, s.outname_base ORDER BY s.doc_id) AS _rk
    FROM {staging} s
    WHERE {unreg('')}
  ) WHERE _rk = 1
) s
ON {key}
WHEN NOT MATCHED THEN INSERT *""",
        # later arrivals of a registered key (vs the pre-batch table OR
        # within the batch) land in duplicates
        f"""MERGE INTO {dup_table} d
USING (
  SELECT DISTINCT outname_base, scene FROM (
    SELECT s.*, row_number() OVER (
      PARTITION BY s.product, s.outname_base ORDER BY s.doc_id) AS _rk
    FROM {staging} s
    WHERE {unreg(pre_batch)}
  ) s
  WHERE s._rk > 1
     OR NOT EXISTS (SELECT 1 FROM {data_table} t
                    WHERE {key} AND t.scene = s.scene)
) src
ON d.outname_base = src.outname_base AND d.scene = src.scene
WHEN NOT MATCHED THEN INSERT (outname_base, scene) VALUES (src.outname_base, src.scene)""",
    ]
