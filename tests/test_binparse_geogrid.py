"""CEOS fixed-offset binary extraction (F8) + geolocation grids (F17/A9)."""

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.binparse import (
    ERS_DSS_FIELDS,
    FieldSpec,
    extract_fields,
)
from pyrosar_spark.operators.geogrid import geolocation_grid, incidence_stats
from tests.testlib import plan_text


def _record() -> bytes:
    buf = bytearray(b" " * 2000)
    buf[444:452] = b"   12345"
    buf[484:492] = b"   23.17"
    buf[1814:1838] = b"19960401T120000.000     "
    buf[0:4] = (77).to_bytes(4, "big")
    return bytes(buf)


def test_extract_ascii_fields(spark):
    df = spark.createDataFrame([(bytearray(_record()),)], "rec binary")
    row = extract_fields(df, "rec", ERS_DSS_FIELDS).first()
    assert row.orbit_number == 12345
    assert row.incidence_center == 23.17
    assert row.start_time == "19960401T120000.000"


def test_extract_be_int(spark):
    """Packed big-endian words are a JVM expression of extract_fields:
    NULL for a NULL record or one shorter than offset + length."""
    df = spark.createDataFrame(
        [(0, bytearray(_record())), (1, bytearray(b"\x00\x01\x02")), (2, None)],
        "i int, rec binary",
    )
    specs = [FieldSpec("rec_len", 0, 4, "be_int"), FieldSpec("w", 1, 2, "be_int")]
    out = extract_fields(df, "rec", specs)
    assert "Python" not in plan_text(out)
    rows = {r.i: (r.rec_len, r.w) for r in out.collect()}
    assert rows == {0: (77, 0), 1: (None, 258), 2: (None, None)}
    with pytest.raises(ValueError, match="unknown kind"):
        extract_fields(df, "rec", [FieldSpec("x", 0, 4, "le_int")])


def test_geolocation_grid(scenes):
    g = geolocation_grid(scenes.where(F.col("doc_id") == "golden_s1"), 2, 11)
    rows = g.collect()
    assert len(rows) == 22
    lons = [r.lon for r in rows]
    lats = [r.lat for r in rows]
    assert min(lons) == 8.017178 and max(lons) == 12.0268
    assert min(lats) == 50.295261 and max(lats) == 52.183979
    first = [r for r in rows if r.line == 0 and r.pixel == 0][0]
    assert first.incidenceAngle == 19.0
    stats = incidence_stats(g).first()
    assert (stats.incidence_min, stats.incidence_max) == (19.0, 45.0)
    # corner pixel indices hit the image frame
    assert max(r.pixel for r in rows) == 25367
    assert max(r.line for r in rows) == 16684


# -- round 3: REAL ESA GEOLOCATION GRID ADS binary parse ---------------------


def test_geo_ads_record_golden(spark):
    """Build one record byte-by-byte with struct.pack exactly per the
    reference layout (drivers.py:1709-1751) and assert every decoded
    field, including the first/last granule distinction."""
    import struct

    from pyrosar_spark.operators.binparse import GEO_ADS_DSR_SIZE
    from pyrosar_spark.operators.geogrid import tie_points_from_records

    def block(base):
        samples = [100 * j for j in range(11)]
        slants = [(base + j) / 512.0 for j in range(11)]
        incs = [20.0 + j * 0.5 + base for j in range(11)]
        lats = [-10_500_000 + j * 1000 for j in range(11)]
        lons = [142_250_000 + j * 2000 - base * 1_000_000 for j in range(11)]
        return (
            struct.pack(">" + "L" * 11, *samples)
            + struct.pack(">" + "f" * 11, *slants)
            + struct.pack(">" + "f" * 11, *incs)
            + struct.pack(">" + "l" * 11, *lats)
            + struct.pack(">" + "l" * 11, *lons)
        )

    rec = (
        struct.pack(">lLL", 5479, 43200, 250000)   # first_zero_doppler
        + b"\x01"                                   # attach_flag
        + struct.pack(">LL", 2001, 1000)            # line_num, num_lines
        + struct.pack(">f", 123.75)                 # sub_sat_track
        + block(0)                                  # first_line_tie_points
        + b" " * 22                                 # spare
        + struct.pack(">lLL", 5479, 43290, 250000)  # last_zero_doppler
        + block(1)                                  # last_line_tie_points
        + b"IS2"                                    # swath_number
        + b" " * 19
    )
    assert len(rec) == GEO_ADS_DSR_SIZE == 521

    df = spark.createDataFrame([("d0", bytearray(rec)), ("bad", bytearray(b"short"))],
                               "doc_id string, rec binary")
    rows = tie_points_from_records(df).collect()
    assert len(rows) == 22  # malformed record dropped, 11 x first/last
    by_key = {(r["grp"], r["idx"]): r for r in rows}
    r0 = by_key[("first", 0)]
    assert r0["line_num"] == 2001 and r0["num_lines"] == 1000
    assert r0["sub_sat_track"] == 123.75
    assert r0["swath"] == "IS2"
    assert r0["first_time_sec"] == 5479 * 86400.0 + 43200 + 0.25
    assert r0["last_time_sec"] == 5479 * 86400.0 + 43290 + 0.25
    assert r0["sample_number"] == 0
    assert r0["slant_range_time"] == 0.0
    assert r0["incident_angle"] == 20.0
    assert r0["latitude"] == -10.5          # x1e-6 scaling (F9)
    assert r0["longitude"] == 142.25
    r_f10 = by_key[("first", 10)]
    assert r_f10["sample_number"] == 1000
    assert r_f10["incident_angle"] == 25.0
    assert r_f10["latitude"] == -10.49
    r_l0 = by_key[("last", 0)]
    assert r_l0["slant_range_time"] == 1 / 512.0
    assert r_l0["incident_angle"] == 21.0
    assert r_l0["longitude"] == 141.25      # last block differs from first


def test_generate_geo_ads_roundtrip(spark):
    """The datagen record generator and the parser agree bitwise on
    every field (the contract-query invariant, locally)."""
    from pyrosar_spark.datagen import generate_geo_ads
    from pyrosar_spark.operators.geogrid import tie_points_from_records

    recs = generate_geo_ads(spark, "/root/testdata/sf0.001").limit(20).cache()
    parsed = tie_points_from_records(recs.select("doc_id", "rec"))
    from pyspark.sql import functions as F

    exp = recs.select(
        "doc_id", "e_first_time", "e_last_time", "e_line_num", "e_sub_sat",
        "e_swath",
        F.posexplode(F.arrays_zip("e_grp", "e_idx", "e_sample", "e_slant",
                                  "e_inc", "e_lat", "e_lon")).alias("_p", "z"),
    )
    got = {
        (r["doc_id"], r["grp"], r["idx"]): r
        for r in parsed.collect()
    }
    n = 0
    for r in exp.collect():
        key = (r["doc_id"], r["z"]["e_grp"], r["z"]["e_idx"])
        p = got[key]
        assert p["sample_number"] == r["z"]["e_sample"]
        assert p["slant_range_time"] == r["z"]["e_slant"]
        assert p["incident_angle"] == r["z"]["e_inc"]
        assert p["latitude"] == r["z"]["e_lat"]
        assert p["longitude"] == r["z"]["e_lon"]
        assert p["first_time_sec"] == r["e_first_time"]
        assert p["last_time_sec"] == r["e_last_time"]
        assert p["line_num"] == r["e_line_num"]
        assert p["sub_sat_track"] == r["e_sub_sat"]
        assert p["swath"] == r["e_swath"]
        n += 1
    assert n == 20 * 22
