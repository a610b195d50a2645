"""Goldens ported from the reference test suite (exact values):
tests/test_ancillary.py:10-11, 70-120; tests/test_drivers.py:31, 102-107.
"""

from pyspark.sql import functions as F

from pyrosar_spark.functions.naming import outname_base_col, parse_datasetname_cols
from pyrosar_spark.functions.temporal import parse_date_col, seconds_col


def test_seconds_golden(spark):
    df = spark.createDataFrame([("test_20151212T234411",)], "name string")
    val = df.select(seconds_col("name").alias("s")).first().s
    assert val == 3658952651.0


def test_parse_date(spark):
    cases = [
        ("2006-11-21T00:00:00.000000", "20061121T000000"),
        ("21-NOV-2006 00:00:00.000000", "20061121T000000"),
        ("20150222T170750", "20150222T170750"),
        ("not a date", None),
    ]
    df = spark.createDataFrame([(c[0],) for c in cases], "x string")
    out = [r.p for r in df.select(parse_date_col("x").alias("p")).collect()]
    assert out == [c[1] for c in cases]


def test_outname_base_golden(spark):
    df = spark.createDataFrame(
        [("S1A", "IW", "A", "20150222T170750")],
        "sensor string, mode string, orbit string, start string",
    )
    val = df.select(
        outname_base_col("sensor", "mode", "orbit", "start").alias("o")
    ).first().o
    assert val == "S1A__IW___A_20150222T170750"


def test_parse_datasetname_goldens(spark):
    names = [
        "S1A__IW___A_20150309T173017_VV_grd_mli_geo_norm_db.tif",
        "S1A__IW___A_20150309T173017_149_abc_VV_grd_mli_geo_norm_db.tif",
        "S1A__IW___A_20150309T173017_149_inc_geo.tif",
        "foobar",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    rows = df.select("name", parse_datasetname_cols("name").alias("m")).collect()
    m0 = rows[0].m
    assert m0.outname_base == "S1A__IW___A_20150309T173017"
    assert m0.sensor == "S1A"
    assert m0.acquisition_mode == "IW"
    assert m0.orbit == "A"
    assert m0.start == "20150309T173017"
    assert m0.extensions is None
    assert m0.polarization == "VV"
    assert m0.proc_steps == ["grd", "mli", "geo", "norm", "db"]
    assert m0.filetype == ".tif"
    m1 = rows[1].m
    assert m1.extensions == "149_abc"
    assert m1.polarization == "VV"
    m2 = rows[2].m
    assert m2.polarization is None
    assert m2.proc_steps is None
    assert m2.extensions == "149_inc_geo"
    assert rows[3].m is None
