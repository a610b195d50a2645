"""Round-3 fix coverage: polar kNN clamp, multi-feature AOI error,
registered-meta-key select semantics, media-ref sanitization, Arrow
simhash kernel parity, embedding bucket cap, Iceberg MERGE golden,
attribute-tolerant XML extraction."""

import pytest
from pyspark.sql import functions as F


# -- VERDICT r2 #6: polar clamp in knn_scenes --------------------------------


def test_knn_polar_clamp(spark):
    from pyrosar_spark.operators.spatial import knn_scenes

    rows = [
        ("n1", 10.0, 13.5, 89.0, 89.8),   # centroid lat 89.4 -> top row
        ("n2", 11.0, 14.5, 89.1, 89.9),
        ("n3", 11.5, 14.0, 88.2, 89.0),
        ("s1", -40.0, -36.5, -89.9, -89.1),  # south-pole pair
        ("s2", -41.0, -37.5, -89.8, -89.0),
    ]
    scenes = spark.createDataFrame(
        rows, "doc_id string, xmin double, xmax double, ymin double, ymax double"
    )
    out = knn_scenes(scenes, k=3).collect()
    got = {(r["q_id"], r["n_id"]) for r in out}
    # every northern scene still sees its neighbors (dy=+1 beyond the
    # pole clamps back instead of probing a phantom row)
    assert ("n1", "n2") in got and ("n2", "n1") in got
    assert ("n1", "n3") in got
    assert ("s1", "s2") in got and ("s2", "s1") in got


# -- archive.py:1060-1061 parity: multi-feature AOI is an error --------------


def test_select_multi_feature_aoi_raises(scenes):
    from pyrosar_spark.operators.select import select

    multi = "MULTIPOLYGON(((0 0, 1 0, 1 1, 0 0)), ((2 2, 3 2, 3 3, 2 2)))"
    with pytest.raises(RuntimeError, match="more than one feature"):
        select(scenes, aoi_wkt=multi)
    # a holed POLYGON is ONE feature in the reference (ogr honors the
    # hole); this engine's ring model has no holes → distinct error
    holed = "POLYGON((0 0, 10 0, 10 10, 0 0), (2 2, 3 2, 3 3, 2 2))"
    with pytest.raises(RuntimeError, match="interior rings"):
        select(scenes, aoi_wkt=holed)
    # single-feature path still works
    assert select(scenes, aoi_wkt="POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))") is not None


# -- ADVICE r2: typo'd kwargs drop-with-log, registered meta keys filter -----


def test_select_meta_registered_vs_typo(spark, docs):
    from pyrosar_spark.operators.ingest import docs_to_scenes
    from pyrosar_spark.operators.select import select

    cat = docs_to_scenes(docs, meta_keys=["projection"])
    total = cat.count()
    # registered key: filters on the meta map value
    hit = select(cat, projection="+proj=longlat +datum=WGS84 +no_defs",
                 return_value=["doc_id"]).count()
    assert hit == total
    miss = select(cat, projection="EPSG:32632", return_value=["doc_id"]).count()
    assert miss == 0
    # typo'd/unregistered key: DROPPED (P9), not silently matched vs NULL
    assert select(cat, sensr="S1A", return_value=["doc_id"]).count() == total
    assert select(cat, projjection="x", return_value=["doc_id"]).count() == total


# -- ADVICE r2: media_ref path sanitization -----------------------------------


def test_fetch_payloads_escape_refused(spark, tmp_path):
    from pyrosar_spark.operators.media import fetch_payloads

    store = tmp_path / "store"
    (store / "bucket").mkdir(parents=True)
    (store / "bucket" / "ok.bin").write_bytes(b"payload")
    refs = spark.createDataFrame(
        [
            ("store://bucket/ok.bin",),
            ("file:///etc/passwd",),
            ("store://../../etc/passwd",),
            ("store://bucket/../../../etc/passwd",),
        ],
        "media_ref string",
    )
    rows = {r["media_ref"]: r["payload"]
            for r in fetch_payloads(refs, str(store)).collect()}
    assert bytes(rows["store://bucket/ok.bin"]) == b"payload"
    assert rows["file:///etc/passwd"] is None
    assert rows["store://../../etc/passwd"] is None
    assert rows["store://bucket/../../../etc/passwd"] is None


# -- VERDICT r2 #3: Arrow simhash kernel is byte-identical to the HOF form ---


def test_simhash_arrow_matches_hof(spark):
    from pyrosar_spark.operators.dedup import simhash64, simhash64_udf

    texts = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", "the quick brown fox jumped over the lazy dog"),
        ("c", "completely different content with numbers 123 456"),
        ("d", ""),
        ("e", "one"),
        ("f", "Repeated repeated REPEATED tokens tokens"),
        ("g", None),  # ADVICE r3: NULL text must propagate in BOTH kernels
        ("h", "!!! ---"),  # tokenless but non-NULL → 0, not NULL
    ]
    df = spark.createDataFrame(texts, "doc_id string, text string")
    both = df.select(
        "doc_id",
        simhash64(F.col("text")).alias("hof"),
        simhash64_udf()(F.col("text")).alias("arrow"),
    ).collect()
    for r in both:
        assert r["hof"] == r["arrow"], r["doc_id"]
    vals = {r["doc_id"]: r["arrow"] for r in both}
    assert vals["g"] is None and vals["h"] == 0


def test_simhash_pairs_null_text_not_paired(spark):
    # ADVICE r3 failure mode: with the old Arrow kernel every NULL-text
    # doc hashed to 0 and all of them emerged as hamming-0 pairs
    from pyrosar_spark.operators.dedup import simhash_pairs

    rows = [("n1", None), ("n2", None), ("n3", None),
            ("t1", "real content here"), ("t2", "real content here")]
    d = spark.createDataFrame(rows, "doc_id string, text string")
    got = {(r["a"], r["b"]) for r in simhash_pairs(
        d, max_hamming=3, n_blocks=4
    ).collect()}
    assert got == {("t1", "t2")}


# -- VERDICT r2 #2: viral embedding bucket is dropped + counted, not exploded -


def test_cosine_dup_pairs_bucket_cap(spark):
    import numpy as np

    from pyrosar_spark.operators.similarity import (
        cosine_dup_pairs,
        dropped_embedding_bucket_stats,
    )

    rng = np.random.default_rng(7)
    viral = [1.0] * 64
    rows = [(i, viral) for i in range(50)] + [
        (100 + i, [float(x) for x in rng.standard_normal(64)]) for i in range(5)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = cosine_dup_pairs(
        e, threshold=0.99, n_bits=4, n_tables=2, dim=64, max_bucket=1 << 40
    ).count()
    assert uncapped >= 50 * 49 // 2
    capped = cosine_dup_pairs(
        e, threshold=0.99, n_bits=4, n_tables=2, dim=64, max_bucket=10
    ).count()
    assert capped == 0  # the viral cluster never reaches the self-join
    stats = dropped_embedding_bucket_stats(
        e, n_bits=4, n_tables=2, dim=64, max_bucket=10
    ).collect()[0]
    assert stats["n_dropped_buckets"] == 2  # one viral bucket per table
    # >= : a random vector may coincidentally share the viral bucket
    assert stats["n_dropped_members"] >= 100


# -- VERDICT r2 #8: Iceberg MERGE semantics locked at text level --------------


def test_iceberg_merge_sql_golden():
    from pyrosar_spark.sources.catalog import insert_scenes_merge_sql

    stmts = insert_scenes_merge_sql("c.s.scenes", "c.s.duplicates", "staged")
    assert len(stmts) == 2
    # data MERGE comes FIRST (round 4: its registered-scene guards must
    # see the pre-batch state of both tables, like insert_scenes'
    # anti-joins); first registration per (product, outname_base) wins
    assert stmts[0].startswith("MERGE INTO c.s.scenes")
    assert "t.product = s.product AND t.outname_base = s.outname_base" in stmts[0]
    assert "PARTITION BY s.product, s.outname_base ORDER BY s.doc_id" in stmts[0]
    assert "WHEN NOT MATCHED THEN INSERT *" in stmts[0]
    assert stmts[0].count("NOT EXISTS") == 2  # scene ∉ data, scene ∉ dups
    # duplicates MERGE second: rank>1 arrivals + demoted rank-1 rows,
    # with this batch's own insertions exempted via doc_id
    assert stmts[1].startswith("MERGE INTO c.s.duplicates")
    assert "_rk > 1" in stmts[1]
    assert "b.doc_id = r.doc_id" in stmts[1]
    assert "WHEN NOT MATCHED THEN INSERT (outname_base, scene)" in stmts[1]
    assert stmts[1].count("NOT EXISTS") == 4
    # executed-semantics parity with ingest.insert_scenes lives in
    # tests/test_merge_exec.py (DuckDB differential)


# -- ADVICE r2: attribute-tolerant XML + SM->swath + typed orbit numbers ------


def test_safe_manifest_attributes_and_sm_swath(spark):
    from pyrosar_spark.operators.xmlmeta import parse_safe_manifest

    xml = (
        '<safe:manifest><s1sarl1:missionId>S1A</s1sarl1:missionId>'
        '<s1sarl1:mode>SM</s1sarl1:mode><s1sarl1:swath>S4</s1sarl1:swath>'
        '<s1sarl1:productType>SLC</s1sarl1:productType>'
        '<s1:pass>ASCENDING</s1:pass>'
        '<safe:startTime>2015-02-22T17:07:50.000000</safe:startTime>'
        '<safe:stopTime>2015-02-22T17:08:15.000000</safe:stopTime>'
        '<safe:orbitNumber type="start">4739</safe:orbitNumber>'
        '<safe:orbitNumber type="stop">4740</safe:orbitNumber>'
        '<safe:relativeOrbitNumber type="start">117</safe:relativeOrbitNumber>'
        '<safe:relativeOrbitNumber type="stop">118</safe:relativeOrbitNumber>'
        '<safe:cycleNumber>43</safe:cycleNumber>'
        '<s1sarl1:transmitterReceiverPolarisation>VV'
        '</s1sarl1:transmitterReceiverPolarisation>'
        '<gml:coordinates>50.29,8.50 50.68,12.02 52.18,11.65 51.78,8.01'
        '</gml:coordinates></safe:manifest>'
    )
    df = spark.createDataFrame([("d0", xml)], "doc_id string, xml string")
    row = parse_safe_manifest(df, "xml").collect()[0]
    assert row["acquisition_mode"] == "S4"  # SM substituted by swath
    assert row["orbitNumber_abs"] == 4739   # start-typed, not the stop decoy
    assert row["orbitNumber_rel"] == 117
    assert row["sensor"] == "S1A" and row["orbit"] == "A"
    assert row["start"] == "20150222T170750"


def test_xml_tag_attr_helpers(spark):
    from pyrosar_spark.operators.xmlmeta import xml_tag, xml_tag_attr, xml_path_tag

    xml = (
        '<root><a unit="m">5</a><b>plain</b>'
        '<start><timeUTC>2014-01-01T00:00:01Z</timeUTC></start>'
        '<stop><timeUTC>2014-01-01T00:00:09Z</timeUTC></stop></root>'
    )
    df = spark.createDataFrame([(xml,)], "xml string")
    row = df.select(
        xml_tag(F.col("xml"), "a").alias("a"),
        xml_tag(F.col("xml"), "b").alias("b"),
        xml_tag_attr(F.col("xml"), "a", "unit", "m").alias("am"),
        xml_tag_attr(F.col("xml"), "a", "unit", "km").alias("akm"),
        xml_path_tag(F.col("xml"), "start", "timeUTC").alias("t0"),
        xml_path_tag(F.col("xml"), "stop", "timeUTC").alias("t1"),
    ).collect()[0]
    assert row["a"] == "5" and row["b"] == "plain"
    assert row["am"] == "5" and row["akm"] is None
    assert row["t0"] == "2014-01-01T00:00:01Z"
    assert row["t1"] == "2014-01-01T00:00:09Z"
