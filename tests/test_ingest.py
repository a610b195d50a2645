"""Ingest / duplicate-routing parity (reference archive.py:513-599,
1202-1267; tests/test_archive.py:58-62) + span byte-identity."""

from pyspark.sql import functions as F

from pyrosar_spark.operators import ingest


def test_scenes_schema_and_flags(scenes):
    s1 = scenes.where(F.col("doc_id") == "golden_s1").first()
    assert s1.outname_base == "S1A__IW___A_20150222T170750"
    assert (s1.hh, s1.vv, s1.hv, s1.vh) == (0, 1, 0, 1)
    assert s1.product == "GRD"
    assert abs(s1.xmin - 8.017178) < 1e-9
    assert abs(s1.ymax - 52.183979) < 1e-9
    psr2 = scenes.where(F.col("doc_id") == "golden_psr2").first()
    assert (psr2.hh, psr2.vv, psr2.hv, psr2.vh) == (1, 0, 1, 0)
    assert psr2.product == "1.5"


def test_all_docs_parse(docs, scenes):
    assert scenes.count() == docs.count()


def test_duplicate_routing(spark, scenes):
    base = scenes.where(F.col("doc_id") == "golden_s1")
    dup = base.withColumn("scene", F.lit("copy_of_s1.zip")).withColumn(
        "doc_id", F.lit("zz_dup")
    )
    batch = base.unionByName(dup)
    data, dups = ingest.insert_scenes(batch)
    assert data.count() == 1
    assert dups.count() == 1
    assert data.first().scene != "copy_of_s1.zip"
    assert dups.first().scene == "copy_of_s1.zip"
    # re-inserting the same scenes against the existing catalog: no-ops
    data2, dups2 = ingest.insert_scenes(batch, existing=data, existing_duplicates=dups)
    assert ingest.archive_size(data2, dups2) == (1, 1)


def test_is_registered_and_filter_scenelist(spark, scenes):
    data = scenes.where(F.col("doc_id") == "golden_s1")
    dups = data.limit(0).select("outname_base", "scene")
    assert ingest.is_registered(data, dups, data.first().scene)
    assert not ingest.is_registered(data, dups, "unknown.zip")
    incoming = spark.createDataFrame(
        [(data.first().scene,), ("new_scene.zip",)], "scene string"
    )
    left = ingest.filter_scenelist(data, dups, incoming)
    assert [r.scene for r in left.collect()] == ["new_scene.zip"]


def test_drop_element_promotes_duplicate(spark, scenes):
    base = scenes.where(F.col("doc_id") == "golden_s1")
    dup = base.withColumn("scene", F.lit("copy_of_s1.zip")).withColumn(
        "doc_id", F.lit("zz_dup")
    )
    data, dups = ingest.insert_scenes(base.unionByName(dup))
    victim = data.first().scene
    remaining, new_dups, promo = ingest.drop_element(data, dups, victim)
    assert remaining.count() == 0
    assert new_dups.count() == 0
    assert promo.first().scene == "copy_of_s1.zip"


def test_span_byte_identity(docs, scenes):
    """Every surviving doc's span sequence must be byte-identical
    (BASELINE.json span invariant): pipeline outputs only carry doc_id,
    spans are joined back untouched and compared to the input."""
    surviving = scenes.select("doc_id")
    out = docs.join(surviving, on="doc_id", how="inner")
    cmp = out.alias("a").join(docs.alias("b"), on="doc_id").where(
        F.to_json(F.col("a.spans")) != F.to_json(F.col("b.spans"))
    )
    assert cmp.count() == 0
    # spans preserve strictly increasing offsets
    bad = docs.where(
        ~F.forall(
            F.zip_with(
                F.slice(F.col("spans"), 1, F.size("spans") - 1),
                F.slice(F.col("spans"), 2, F.size("spans") - 1),
                lambda a, b: a.offset < b.offset,
            ),
            lambda x: x,
        )
    )
    assert bad.count() == 0


def test_meta_map_custom_fields(spark):
    """Dynamic schema extension (reference custom_fields,
    archive.py:396-403; SURVEY §1.2 meta map): non-core JSON attributes
    lift into meta map<string,string> and filter via select kwargs."""
    import json

    from pyrosar_spark.datagen import DOC_SCHEMA, GOLDEN_SCENES, META_KEYS
    from pyrosar_spark.operators.select import select

    g = GOLDEN_SCENES[0]
    meta = {k: g[k] for k in META_KEYS}
    meta.update(
        polarizations=g["polarizations"], coordinates=g["coordinates"],
        projection="+proj=longlat", spacing=[10.0, 10.0], scene=g["scene"],
        station="MTI_", processing_level="LEVEL1",
    )
    text = g["scene"] + "|" + json.dumps(meta)
    docs = spark.createDataFrame(
        [("d1", [("scene_meta", text, "", 0)])], DOC_SCHEMA
    )
    scenes = ingest.docs_to_scenes(
        docs, meta_keys=["station", "processing_level", "absent"]
    )
    row = scenes.first()
    assert row.meta["station"] == "MTI_"
    assert row.meta["processing_level"] == "LEVEL1"
    assert row.meta["absent"] is None
    assert select(scenes, station="MTI_", return_value=["doc_id"]).count() == 1
    assert select(scenes, station=["MTI_", "OTHER"], return_value=["doc_id"]).count() == 1
    assert select(scenes, station="XXX", return_value=["doc_id"]).count() == 0
    # without a meta column the unknown kwarg is still dropped (P9)
    plain = ingest.docs_to_scenes(docs)
    assert select(plain, station="MTI_").count() == 1


def test_parser_kernels_produce_identical_rows(spark, docs):
    """The one span parse (pruned ``from_json``) over the generated corpus
    plus adversarial payloads. The parse is row-local, so the corpus rows
    are identical with and without the edge docs beside them, and each
    edge doc gives its expected row: malformed JSON, a JSON null sensor,
    a doc without a scene_meta span and a doc with no spans are dropped;
    of two scene_meta spans the first wins; missing keys and a
    non-numeric int read NULL; escapes and a '|' inside a value survive;
    array fields give exact flags, corners and bbox."""
    from pyrosar_spark.datagen import DOC_SCHEMA

    edge = [
        ("e_bad", [("scene_meta", "SC|{broken", "", 0)]),
        ("e_null", [("scene_meta", 'SC|{"sensor": null}', "", 0)]),
        ("e_sparse", [("scene_meta", 'SC|{"sensor":"S1A"}', "", 0)]),
        ("e_badint", [("scene_meta", 'SC|{"sensor":"S1A","samples":"12x"}', "", 0)]),
        # escaped quote, escaped backslash and a '|' INSIDE a value (the
        # span-prefix delimiter must not confuse the payload slice)
        ("e_esc", [("scene_meta",
                    'SC|{"sensor":"S1A","orbit":"A\\"B\\\\|C","samples":17}',
                    "", 0)]),
        ("e_arr", [("scene_meta",
                    'SC|{"sensor":"PSR2","polarizations":["HH","HV"],'
                    '"coordinates":[[1.0,2.0],[3.0,4.0],[1.5,3.5]],'
                    '"start":"20200101T000000"}', "", 0)]),
        ("e_nometa", [("text", "filler only", "", 0)]),
        # the first span of the kind wins; no spans at all is dropped
        ("e_two", [("scene_meta", 'SC|{"sensor":"S1A"}', "", 0),
                   ("scene_meta", 'SC|{"sensor":"S1B"}', "", 1)]),
        ("e_empty", []),
    ]
    corpus = docs.unionByName(spark.createDataFrame(edge, DOC_SCHEMA))
    rows = {
        r.doc_id: r
        for r in ingest.docs_to_scenes(corpus, with_geometry=False).collect()
    }
    edge_ids = {d for d, _ in edge}
    alone = sorted(
        map(tuple, ingest.docs_to_scenes(docs, with_geometry=False).collect())
    )
    assert sorted(tuple(r) for d, r in rows.items() if d not in edge_ids) == alone
    assert {d for d in rows if d in edge_ids} == {
        "e_sparse", "e_badint", "e_esc", "e_arr", "e_two"
    }
    assert rows["e_two"].sensor == "S1A"
    sparse = rows["e_sparse"].asDict()
    assert sparse["sensor"] == "S1A"
    assert all(
        v is None for k, v in sparse.items()
        if k not in ("doc_id", "sensor", "outname_base")
    )
    assert rows["e_badint"].samples is None
    assert rows["e_esc"].orbit == 'A"B\\|C'
    assert rows["e_esc"].samples == 17
    arr = rows["e_arr"]
    assert (arr.hh, arr.vv, arr.hv, arr.vh) == (1, 0, 1, 0)
    assert (arr.xmin, arr.xmax, arr.ymin, arr.ymax) == (1.0, 3.0, 2.0, 4.0)
    assert [(c.lon, c.lat) for c in arr.corners] == [(1.0, 2.0), (3.0, 4.0), (1.5, 3.5)]
    assert arr.start == "20200101T000000"


def test_parser_kernels_quoted_numeric_boundary(spark):
    """Strict JSON typing of the span parse: a QUOTED numeric in an int
    field ('"17"') reads NULL, while the same value unquoted reads 17.
    Pinned so a change in either direction is visible."""
    from pyrosar_spark.datagen import DOC_SCHEMA

    docs = spark.createDataFrame(
        [
            ("q1", [("scene_meta", 'SC|{"sensor":"S1A","samples":"17"}', "", 0)]),
            ("u1", [("scene_meta", 'SC|{"sensor":"S1A","samples":17}', "", 0)]),
        ],
        DOC_SCHEMA,
    )
    vals = {
        r.doc_id: r.samples
        for r in ingest.docs_to_scenes(docs, with_geometry=False)
        .select("doc_id", "samples").collect()
    }
    assert vals == {"q1": None, "u1": 17}
