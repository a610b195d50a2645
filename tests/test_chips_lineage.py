"""Chip→tile alignment mosaic + lineage/checkpoint machinery."""

import numpy as np
from pyspark.sql import functions as F

from pyrosar_spark.operators.chips import (
    assign_chip_tiles,
    dummy_tile,
    mosaic_tiles,
    synthetic_chips,
)
from pyrosar_spark.plans.lineage import CheckpointedPipeline, with_lineage


def test_chip_tile_split(spark):
    # a chip straddling the lon=10 tile boundary must land in 2 tiles
    # (8x8 px at 0.05 deg/px → 0.4 deg extent: lon 9.9-10.3, lat 50.1-50.5)
    chips = spark.createDataFrame(
        [("m1", 9.9, 50.5, 0.05, 0.05, 8, 8, -32768.0, "area", 7)],
        "media_ref string, ulx double, uly double, xres double, yres double, "
        "width int, height int, nodata double, area_or_point string, seed int",
    )
    out = assign_chip_tiles(chips)
    tiles = sorted(r.tile_id for r in out.collect())
    assert tiles == ["N50E009.hgt", "N50E010.hgt"]


def test_mosaic_paste_and_point_shift(spark):
    chips = spark.createDataFrame(
        [
            ("m1", 9.9, 50.5, 0.05, 0.05, 32, 32, -32768.0, "area", 7),
            ("m2", 9.2, 50.9, 0.05, 0.05, 32, 32, -32768.0, "point", 9),
        ],
        "media_ref string, ulx double, uly double, xres double, yres double, "
        "width int, height int, nodata double, area_or_point string, seed int",
    )
    tiles = mosaic_tiles(assign_chip_tiles(chips), px_per_degree=40)
    rows = {r.tile_id: r for r in tiles.collect()}
    t = rows["N50E009.hgt"]
    assert t.n_chips == 2
    canvas = np.frombuffer(bytes(t.data), dtype=np.int16).reshape(40, 40)
    assert (canvas != -32768).sum() == t.n_valid_px > 0
    # determinism
    again = {r.tile_id: r for r in mosaic_tiles(assign_chip_tiles(chips), 40).collect()}
    assert bytes(again["N50E009.hgt"].data) == bytes(t.data)


def test_synthetic_chips_from_docs(docs):
    chips = synthetic_chips(docs)
    assert chips.count() > 0
    assert chips.where(F.col("area_or_point") == "point").count() > 0
    tiles = mosaic_tiles(assign_chip_tiles(chips.limit(50)), px_per_degree=10)
    assert tiles.count() > 0


def test_dummy_tile(spark):
    d = dummy_tile(spark, {"xmin": 1.2, "ymin": -3.7, "xmax": 2, "ymax": -3})
    row = d.first()
    assert row.tile_id == "DUMMY" and row.n_chips == 0


def test_lineage_column(spark):
    df = spark.createDataFrame([(1,)], "x int")
    out = with_lineage(with_lineage(df, "Orb"), "Cal")
    assert out.first()._lineage == "Orb_Cal"


def test_checkpoint_resume(spark, tmp_path):
    pipe = CheckpointedPipeline(spark, str(tmp_path / "run"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(10).withColumnRenamed("id", "doc_id")

    a = pipe.run_stage("stage1", compute, key_col="doc_id")
    assert a.count() == 10 and calls["n"] == 1
    # resume: compute not called again
    b = pipe.run_stage("stage1", compute, key_col="doc_id")
    assert b.count() == 10 and calls["n"] == 1
    m = pipe.metrics()
    assert m.where(F.col("stage") == "stage1").agg(F.sum("n_rows")).first()[0] == 10
    assert {"partition_id", "n_rows", "key_min", "key_max", "stage", "wall_sec"} <= set(
        m.columns
    )


def test_odc_yaml_emit(scenes):
    """F20 (datacube_util.py:610-663, 697-717): per-dataset indexing
    YML columnar emit + ingestion YML tile_size/template."""
    from pyrosar_spark.operators.odc import odc_indexing_docs, odc_ingestion_yaml

    s1 = scenes.where(F.col("doc_id") == "golden_s1").withColumn(
        "vv_path", F.concat(F.col("outname_base"), F.lit("_VV_gamma0.tif"))
    )
    doc = odc_indexing_docs(s1, {"vv_gamma0": "vv_path"}).first()
    assert doc.filename == "S1A__IW___A_20150222T170750_dcindex.yml"
    y = doc.yml
    assert "id: " in y and "platform:\n  code: SENTINEL_1A" in y
    assert "    vv_gamma0:\n      path: S1A__IW___A_20150222T170750_VV_gamma0.tif" in y
    assert "  from_dt: 20150222T170750" in y
    assert "      x: 8.017178\n      y: 52.183979" in y  # ul corner
    assert "spatial_reference: EPSG:4326" in y
    # deterministic id: same row -> same id (uuid4 in the reference;
    # documented deviation for idempotent re-runs)
    assert doc.yml == odc_indexing_docs(s1, {"vv_gamma0": "vv_path"}).first().yml

    ing = odc_ingestion_yaml("s1_gamma0_scene", "s1_gamma0_ingested",
                             resolution=(20.0, -20.0),
                             chunking={"x": 512, "y": 512, "time": 1})
    assert "{tile_index[0]}_{tile_index[1]}_{start_time}.nc" in ing
    assert "x: 10240.0" in ing and "y: -10240.0" in ing
    import pytest as _pytest
    with _pytest.raises(ValueError):
        odc_ingestion_yaml("same", "same")


def test_stateful_dedup_stream_resumes_across_runs(spark, tmp_path):
    """applyInPandasWithState dedup: one row per key across
    micro-batches AND across query RESTARTS from the same checkpoint —
    the streaming form of first-registration-wins (archive.py:563-599)
    plus the north rule's mid-run resumability."""
    from pyrosar_spark.streaming.stateful import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema("k string, v long").parquet(src)
        q = (
            dedup_stream(stream, ["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    spark.createDataFrame([("A", 1), ("B", 2), ("A", 3)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    first = {r.k for r in spark.read.parquet(out).collect()}
    assert first == {"A", "B"}

    # second RUN, same checkpoint: B is already in state -> only C emits
    spark.createDataFrame([("B", 9), ("C", 4)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    assert {r.k for r in rows} == {"A", "B", "C"}
    assert len(rows) == 3  # B emitted exactly once across runs


_RESUME_DRIVER = """
import sys
from pyspark.sql import SparkSession
src, out, ckpt = sys.argv[1:4]
spark = (SparkSession.builder.master("local[4]")
         .appName("resume_driver")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.host", "127.0.0.1")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
from pyrosar_spark.streaming.stateful import dedup_stream
stream = spark.readStream.schema("k string, v long").parquet(src)
q = (dedup_stream(stream, ["k"]).writeStream.format("parquet")
     .option("path", out).option("checkpointLocation", ckpt)
     .trigger(availableNow=True).start())
q.awaitTermination(180)
spark.stop()
"""


def test_stateful_dedup_resumes_across_driver_processes(spark, tmp_path):
    """VERDICT r3 #8: the in-process restart test above shares one
    driver/JVM, so it cannot prove the state survives a real driver
    death. Here each run is a SEPARATE python/JVM process (killed by
    exit between runs) against the same checkpoint dir — the actual
    production resume story."""
    import subprocess
    import sys

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    script = tmp_path / "driver.py"
    script.write_text(_RESUME_DRIVER)

    import os

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": repo_root}

    def run_driver():
        proc = subprocess.run(
            [sys.executable, str(script), src, out, ckpt],
            cwd=repo_root, env=env, capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]

    spark.createDataFrame([("A", 1), ("B", 2), ("A", 3)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_driver()
    assert {r.k for r in spark.read.parquet(out).collect()} == {"A", "B"}

    spark.createDataFrame([("B", 9), ("C", 4)], "k string, v long") \
        .coalesce(1).write.mode("append").parquet(src)
    run_driver()
    rows = spark.read.parquet(out).collect()
    assert {r.k for r in rows} == {"A", "B", "C"}
    assert len(rows) == 3  # B never re-emitted across processes
