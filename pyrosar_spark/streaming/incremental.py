"""Incremental / streaming ingest of interleaved documents.

The reference is batch-only (SURVEY §2.11) — its ``Archive.insert`` is
re-run over new scene directories. The engine's incremental path uses
Structured Streaming with ``Trigger.AvailableNow`` (process everything
new, then stop — the idempotent nightly-ingest shape) and
watermark-bounded streaming dedup on the catalog key, mirroring the
``(product, outname_base)`` first-wins routing.

The time-gap grouping (``groupbyTime``, ``ancillary.py:73-108``) maps
to ``session_window`` in streaming mode — Spark merges windows within
the gap, which is exactly the reference's chained-gap semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrosar_spark.datagen import DOC_SCHEMA


def read_document_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of interleaved documents (new parquet files
    under ``path`` are picked up incrementally)."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(path)


def streaming_ingest(
    docs_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    dedup_within: str = "1 hour",
):
    """Parse scene spans and append to the catalog incrementally.

    - ``dropDuplicatesWithinWatermark`` on (product, outname_base)
      keeps the first registration per key within the watermark bound
      (bounded state — at 10^12 docs unbounded exact streaming dedup is
      impossible; cross-restart exactness comes from the idempotent
      batch MERGE in :mod:`pyrosar_spark.operators.ingest`).
    - ``Trigger.AvailableNow`` drains everything present, then stops —
      restartable from the checkpoint at any point.
    """
    from pyrosar_spark.operators.ingest import docs_to_scenes

    scenes = docs_to_scenes(docs_stream).withColumn("_ingest_ts", F.current_timestamp())
    deduped = scenes.withWatermark("_ingest_ts", dedup_within).dropDuplicatesWithinWatermark(
        ["product", "outname_base"]
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
