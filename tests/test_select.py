"""Archive.select parity cases (reference tests/test_archive.py:35-62)."""

import pytest
from pyspark.sql import functions as F

from pyrosar_spark.operators.select import select
from tests.test_geom import S1_GOLDEN_WKT
from tests.testlib import oracle_intersects, plan_text, wkb_to_ring

S1_BBOX_WKT = "POLYGON((8.017178 50.295261, 12.0268 50.295261, 12.0268 52.183979, 8.017178 52.183979, 8.017178 50.295261))"
DISJOINT_WKT = "POLYGON((12.5 53, 13 53, 13 54, 12.5 54, 12.5 53))"


@pytest.fixture(scope="module")
def golden_scenes(scenes):
    return scenes.where(F.col("doc_id").isin("golden_s1", "golden_psr2")).cache()


def test_select_date_range_strict(golden_scenes):
    out = select(
        golden_scenes,
        sensor="S1A",
        mindate="20150222T000000",
        maxdate="20150223T000000",
    )
    assert out.count() == 1


def test_select_date_overlap_vs_strict(golden_scenes):
    # acquisition 170750-170815; window ends mid-acquisition
    kw = dict(sensor="S1A", mindate="20150222T000000", maxdate="20150222T170800")
    assert select(golden_scenes, date_strict=True, **kw).count() == 0
    assert select(golden_scenes, date_strict=False, **kw).count() == 1


def test_select_malformed_date_ignored(golden_scenes):
    # reference: bad date + unknown kwarg are dropped, row still returned
    # (tests/test_archive.py:39)
    out = select(golden_scenes, sensor="S1A", mindate="2015-02-22", foobar=1)
    assert out.count() == 1


def test_select_polarizations(golden_scenes):
    assert select(golden_scenes, polarizations=["VV"]).count() == 1
    assert select(golden_scenes, polarizations=["HH"]).count() == 1
    assert select(golden_scenes, polarizations=["VV", "XX"]).count() == 1  # XX ignored
    assert select(golden_scenes, polarizations=["VV", "HH"]).count() == 0


def test_select_spatial(golden_scenes):
    assert select(golden_scenes, aoi_wkt=S1_BBOX_WKT).count() == 1
    assert select(golden_scenes, aoi_wkt=DISJOINT_WKT).count() == 0


def test_select_in_list_and_like(golden_scenes):
    assert select(golden_scenes, sensor=("S1A", "PSR2")).count() == 2
    assert select(golden_scenes, scene="ALOS2014410970").count() == 1


def test_select_returns_geometry(golden_scenes):
    row = select(
        golden_scenes,
        sensor="S1A",
        return_value=["outname_base", "mindate", "geometry_wkt", "geometry_wkb"],
    ).first()
    assert row.outname_base == "S1A__IW___A_20150222T170750"
    assert row.mindate == "20150222T170750"
    assert row.geometry_wkt == S1_GOLDEN_WKT
    from pyrosar_spark import geom

    assert geom.ring_to_wkt(wkb_to_ring(bytes(row.geometry_wkb))) == S1_GOLDEN_WKT


def test_select_invalid_return_raises(golden_scenes):
    with pytest.raises(ValueError):
        select(golden_scenes, return_value="nope")


def test_select_processdir_antifilter(spark, golden_scenes):
    processed = spark.createDataFrame(
        [("S1A__IW___A_20150222T170750_VV_grd_mli_geo_norm_db.tif",)], "filename string"
    )
    out = select(golden_scenes, sensor="S1A", processed_names=processed)
    assert out.count() == 0
    out2 = select(golden_scenes, processed_names=processed)
    assert out2.count() == 1  # psr2 not processed
    # scale contract: the anti-filter must be an EQUI-join (hash/merge
    # joinable on outname_base), never a contains nested-loop
    plan = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    assert "Contains(" not in plan


def test_select_pushdown_plan(golden_scenes):
    """Non-spatial predicates must be plain Catalyst filters (pushable)."""
    plan = select(
        golden_scenes, sensor="S1A", mindate="20150101T000000"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in plan


def test_deferred_geometry_equivalence(docs):
    """with_geometry='defer' (hull only on bbox survivors — the scale
    shape) must match the full-geometry catalog row-for-row, including
    exact WKT output, for a convex AOI (SAT refine) and a concave one
    (JVM ring test over the hull of the corners)."""
    from pyrosar_spark.operators.ingest import docs_to_scenes

    full = docs_to_scenes(docs)
    deferred = docs_to_scenes(docs, with_geometry="defer")
    assert "ring" not in deferred.columns
    for aoi in ("POLYGON((-180 -60, -60 -60, -60 60, -180 60, -180 -60))",
                "POLYGON((-180 -60, -60 -60, -60 60, -120 0, -180 60, -180 -60))"):
        a = {r.doc_id: r.geometry_wkt for r in select(
            full, aoi_wkt=aoi, return_value=["doc_id", "geometry_wkt"]).collect()}
        b = {r.doc_id: r.geometry_wkt for r in select(
            deferred, aoi_wkt=aoi, return_value=["doc_id", "geometry_wkt"]).collect()}
        assert a == b and len(a) > 0


def test_flagship_stage_compiles(spark, docs):
    """The benchmark's flagship stage (deferred-geometry parse -> select
    by date, VV and a convex AOI -> HGT tile lattice -> per-tile count)
    runs whole-stage-codegen compiled: the session has codegen fallback
    off, so a method Janino cannot compile raises here. The tiles match
    those of the scenes the scalar oracle keeps over the hull rings."""
    from pyrosar_spark import geom
    from pyrosar_spark.operators.ingest import docs_to_scenes
    from pyrosar_spark.operators.tiles import assign_hgt

    assert spark.conf.get("spark.sql.codegen.fallback") == "false"
    aoi = "POLYGON((-180 -60, -60 -60, -60 60, -180 60, -180 -60))"
    bbox = ["doc_id", "xmin", "xmax", "ymin", "ymax"]
    when = dict(mindate="20150101T000000", maxdate="20151231T235959",
                polarizations=["VV"])

    def tile_counts(sel):
        return {tuple(r) for r in assign_hgt(sel).groupBy("tile_id").count().collect()}

    sel = select(docs_to_scenes(docs, with_geometry="defer"), aoi_wkt=aoi,
                 return_value=bbox, **when)
    rows = select(docs_to_scenes(docs), return_value=bbox + ["ring"], **when).collect()
    keep = [oracle_intersects(r.ring, geom.wkt_to_ring(aoi)) for r in rows]
    ref = spark.createDataFrame([r[:5] for r, k in zip(rows, keep) if k], sel.schema)
    got = tile_counts(sel)
    assert got and got == tile_counts(ref)


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path, scenes):
    """On a stored catalog, select()'s non-spatial predicates and the
    bbox prefilter must reach the parquet scan as PushedFilters, and
    the scan must prune to the projected columns (ReadSchema)."""
    path = str(tmp_path / "catalog.parquet")
    scenes.write.parquet(path)
    # scan-node metadata strings truncate at 100 chars by default,
    # hiding the tail of the PushedFilters list
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        cat = spark.read.parquet(path)
        out = select(
            cat, sensor="S1A", mindate="20150101T000000",
            aoi_wkt="POLYGON((0 40, 20 40, 20 60, 0 60, 0 40))",
            return_value=["doc_id", "xmin", "xmax", "ymin", "ymax"],
        )
        plan = plan_text(out)
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "PushedFilters:" in plan
    assert "IsNotNull(sensor)" in plan or "EqualTo(sensor,S1A)" in plan
    assert "GreaterThanOrEqual(start" in plan
    # bbox prefilter pushed as range filters on the bbox stats columns
    assert "LessThanOrEqual(xmin" in plan
