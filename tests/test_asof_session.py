"""As-of join (reference S1/auxil.py:545-587, tests/test_osv.py:33-35)
and time-gap grouping (ancillary.py:73-108, tests/test_ancillary.py:52-67)."""

from pyspark.sql import functions as F

from pyrosar_spark.operators.asof import osv_match, overlap_filter, res_prune, salted_interval_join
from pyrosar_spark.operators.session_group import groupby_time_collect, groupby_attribute
from tests.testlib import plan_text

OSV_ROWS = [
    # sensor, type, publish, start, stop, filename
    ("S1A", "POE", "20150310T000000", "20150221T000000", "20150223T000000", "poe_old"),
    ("S1A", "POE", "20150315T000000", "20150221T000000", "20150223T000000", "poe_new"),
    ("S1A", "RES", "20150222T200000", "20150222T120000", "20150222T200000", "res_cover"),
    ("S1A", "RES", "20150101T000000", "20141231T000000", "20141231T060000", "res_stale"),
    ("S1B", "POE", "20150315T000000", "20150221T000000", "20150223T000000", "poe_wrong_sensor"),
]
OSV_SCHEMA = "sensor string, type string, publish string, start string, stop string, filename string"


def _osv(spark):
    return spark.createDataFrame(OSV_ROWS, OSV_SCHEMA)


def _scene(spark):
    return spark.createDataFrame(
        [("d1", "S1A", "20150222T170750")], "doc_id string, sensor string, start string"
    )


def test_osv_match_poe_latest_publish(spark):
    out = osv_match(_scene(spark), _osv(spark), "POE").first()
    assert out.osv_filename == "poe_new"  # latest publish wins


def test_osv_match_res_only(spark):
    out = osv_match(_scene(spark), _osv(spark), "RES").first()
    assert out.osv_filename == "res_cover"
    # timestamp outside every RES interval → NULL (tests/test_osv.py:34)
    scene2 = spark.createDataFrame(
        [("d2", "S1A", "20150222T080000")], "doc_id string, sensor string, start string"
    )
    assert osv_match(scene2, _osv(spark), "RES").first().osv_filename is None


def test_osv_match_poe_preferred_over_res(spark):
    out = osv_match(_scene(spark), _osv(spark), ["POE", "RES"]).first()
    assert out.osv_type == "POE"


def test_res_prune(spark):
    pruned = res_prune(_osv(spark))
    names = {r.filename for r in pruned.collect()}
    assert "res_stale" not in names  # stop < max(POE.stop)
    assert "res_cover" not in names
    assert "poe_new" in names


def test_overlap_filter(spark):
    out = overlap_filter(
        _osv(spark), "start", "stop", "20141231T030000", "20141231T120000"
    )
    assert [r.filename for r in out.collect()] == ["res_stale"]


def test_salted_interval_join(spark):
    events = spark.createDataFrame(
        [("e1", "20150222T170750"), ("e2", "20140101T000000")], "eid string, t string"
    )
    out = salted_interval_join(events, _osv(spark), "t")
    got = {(r.eid, r.filename) for r in out.collect()}
    assert ("e1", "poe_new") in got and ("e1", "res_cover") in got
    assert not any(e == "e2" for e, _ in got)


def test_groupby_time_golden(spark):
    """Gap=60s chained grouping (reference tests/test_ancillary.py:52-67):
    [120000,120100,120300] → 2 groups (first has 2);
    [120000,120100,120200] → 1 group of 3."""
    def mk(stamps):
        return spark.createDataFrame(
            [(f"img_20150222T{s}", float(i)) for s, i in stamps], "name string, t double"
        )

    case1 = mk([("120000", 0), ("120100", 60), ("120300", 180)])
    out1 = groupby_time_collect(case1, "name", "t", 60).orderBy("session_id").collect()
    assert [r.n for r in out1] == [2, 1]
    case2 = mk([("120000", 0), ("120100", 60), ("120200", 120)])
    out2 = groupby_time_collect(case2, "name", "t", 60).collect()
    assert len(out2) == 1 and out2[0].n == 3


def test_groupby_time_chained_not_anchored(spark):
    """60s gaps chain indefinitely — gap is to the previous member, not
    the session start (ancillary.py:100-103)."""
    df = spark.createDataFrame([(f"i{i}", i * 50.0) for i in range(5)], "name string, t double")
    out = groupby_time_collect(df, "name", "t", 60).collect()
    assert len(out) == 1 and out[0].n == 5


def test_groupby_attribute(spark):
    df = spark.createDataFrame(
        [("b.tif", "S1A"), ("a.tif", "S1A"), ("c.tif", "S1B")], "name string, sensor string"
    )
    out = groupby_attribute(df, "name", "sensor").collect()
    assert [(r.sensor, r.members) for r in out] == [
        ("S1A", ["a.tif", "b.tif"]),
        ("S1B", ["c.tif"]),
    ]


def test_ers_pass_fallback(spark):
    """J4 golden (reference ERS/auxil.py:118-123): own-sensor pass wins;
    ERS1 falls back to ERS2 in a gap; ERS2 never falls back; uncovered
    scenes yield NULL."""
    from pyrosar_spark.operators.asof import ers_pass_lookup

    passdb = spark.createDataFrame(
        [
            ("ERS1", "C", 10, "19950101T000000", "19950601T000000"),
            ("ERS2", "A", 1, "19950101T000000", "19971231T235959"),
            ("ERS1", "G", 20, "19970101T000000", "19970601T000000"),
        ],
        "sensor string, phase string, cycle int, start string, stop string",
    )
    scenes = spark.createDataFrame(
        [
            ("s_own", "ERS1", "19950301T120000"),   # own ERS1 phase C
            ("s_gap", "ERS1", "19961001T120000"),   # ERS1 gap -> ERS2 A
            ("s_e2", "ERS2", "19950301T120000"),    # ERS2 phase A
            ("s_none", "ERS1", "19990101T000000"),  # nothing covers
        ],
        "doc_id string, sensor string, start string",
    )
    out = {r.doc_id: r for r in ers_pass_lookup(scenes, passdb).collect()}
    assert (out["s_own"].phase, out["s_own"].pass_sensor) == ("C", "ERS1")
    assert (out["s_gap"].phase, out["s_gap"].pass_sensor) == ("A", "ERS2")
    assert (out["s_e2"].phase, out["s_e2"].pass_sensor) == ("A", "ERS2")
    assert out["s_none"].phase is None and out["s_none"].pass_sensor is None


def test_salted_interval_join_salt_invariance(spark):
    """n_salt must be invisible in the result: the salted plan routes
    each event to ONE replica of every interval covering its slot, so
    pair membership is identical to the unsalted join (and to a plain
    BETWEEN join — the salted_range_join oracle pins that externally).
    Also: timestamps pass through with ts_fmt=None, and n_salt > 1
    without a salt_col is a hard error, not a silent unsalted join."""
    import datetime as dt

    import pytest

    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=17 * i)) for i in range(40)],
        "eid long, t timestamp",
    )
    ivals = spark.createDataFrame(
        [
            (j, base + dt.timedelta(hours=j), base + dt.timedelta(hours=j + 2))
            for j in range(8)
        ],
        "iid long, start timestamp, stop timestamp",
    )
    kw = dict(slot_seconds=3600, ts_fmt=None)
    plain = {
        (r.eid, r.iid)
        for r in salted_interval_join(events, ivals, "t", **kw).collect()
    }
    salted = {
        (r.eid, r.iid)
        for r in salted_interval_join(
            events, ivals, "t", n_salt=4, salt_col="eid", **kw
        ).collect()
    }
    assert plain and salted == plain
    with pytest.raises(ValueError, match="salt_col"):
        salted_interval_join(events, ivals, "t", n_salt=4, **kw)


def test_salted_interval_join_plan_is_equi_join(spark):
    """The scale contract: the salted join is an EQUI-join on
    (slot, salt) — never a BroadcastNestedLoop/Cartesian range join —
    so it shuffles on a partitionable key and AQE can split stragglers."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    events = spark.createDataFrame(
        [(i, base + dt.timedelta(minutes=i)) for i in range(10)],
        "eid long, t timestamp",
    )
    ivals = spark.createDataFrame(
        [(0, base, base + dt.timedelta(hours=1))],
        "iid long, start timestamp, stop timestamp",
    )
    df = salted_interval_join(
        events, ivals, "t", slot_seconds=3600, ts_fmt=None, n_salt=4, salt_col="eid"
    )
    p = plan_text(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
