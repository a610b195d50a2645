"""Tile-grid goldens ported from the reference
(tests/test_auxdata.py:8-30, 69-79; tests/conftest.py:58-68;
tests/test_drivers.py hgt counts; FIXTURES.md §4 name forms).
"""

from pyspark.sql import functions as F

from pyrosar_spark.operators import tiles

AOI_N = {"xmin": 11.5, "xmax": 11.9, "ymin": 51.1, "ymax": 51.5}
AOI_S = {"xmin": -58.9, "xmax": -58.5, "ymin": -51.5, "ymax": -51.1}


def test_intrange_goldens(spark):
    ext = spark.createDataFrame(
        [(11.5, 11.9, 51.0, 51.5)], "xmin double, xmax double, ymin double, ymax double"
    )
    for step, want in ((1, ([51], [11])), (5, ([50], [10])), (15, ([45], [0]))):
        row = ext.select(
            tiles.intrange_seq(F.col("ymin"), F.col("ymax"), step).alias("lat"),
            tiles.intrange_seq(F.col("xmin"), F.col("xmax"), step).alias("lon"),
        ).first()
        assert (row.lat, row.lon) == want, step


def test_remote_ids_goldens(spark):
    assert tiles.remote_ids(spark, AOI_N, "SRTM 1Sec HGT") == ["N51E011.SRTMGL1.hgt.zip"]
    assert tiles.remote_ids(spark, AOI_N, "SRTM 3Sec") == ["srtm_39_02.zip"]
    assert tiles.remote_ids(spark, AOI_N, "AW3D30") == ["N050E010/N051E011.tar.gz"]
    assert tiles.remote_ids(spark, AOI_S, "SRTM 1Sec HGT") == ["S52W059.SRTMGL1.hgt.zip"]
    assert tiles.remote_ids(spark, AOI_S, "SRTM 3Sec") == ["srtm_25_23.zip"]
    assert tiles.remote_ids(spark, AOI_S, "AW3D30") == ["S055W060/S052W059.tar.gz"]
    assert tiles.remote_ids(spark, AOI_N, "TDX90m") == [
        "DEM/N51/E010/TDM1_DEM__30_N51E011.zip"
    ]


def test_hgt_assignment_golden_counts(spark, scenes):
    """getHGT tile counts: s1 scene → 15 tiles, psr2 → 2
    (reference tests/test_drivers.py:27,44,83)."""
    golden = scenes.where(F.col("doc_id").isin("golden_s1", "golden_psr2"))
    out = tiles.assign_hgt(golden).groupBy("doc_id").count().collect()
    counts = {r.doc_id: r["count"] for r in out}
    assert counts == {"golden_s1": 15, "golden_psr2": 2}


def test_hgt_names(spark, scenes):
    golden = scenes.where(F.col("doc_id") == "golden_psr2")
    names = sorted(
        r.tile_id for r in tiles.assign_hgt(golden).select("tile_id").collect()
    )
    assert names == ["S11W063.hgt", "S12W063.hgt"]


def test_getasse30_form(spark):
    out = tiles.remote_ids(spark, AOI_N, "GETASSE30")
    assert out == ["45N000E.GETASSE30"]
