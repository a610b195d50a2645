"""Plan-shape assertions for the hot operators (round 4).

Correctness oracles check ANSWERS; these tests check the PHYSICAL PLAN
properties the 100-TB design depends on, so a refactor that silently
de-optimizes a path (drops predicate pushdown, introduces a cartesian
product, re-adds a per-branch scan, moves a hot expression out of the
Generate barrier) fails CI instead of surfacing as a cluster bill.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.testlib import plan_text


def span_filters(df) -> dict[str, int]:
    """Occurrences of each span kind's ``filter`` lambda in the executed
    plan, printed with no field list truncated."""
    import re

    kinds = re.findall(r"lambdafunction\(\(lambda \w+#\d+\.kind = (\w+)\)", plan_text(df))
    return {k: kinds.count(k) for k in set(kinds)}


@pytest.fixture(scope="module")
def catalog_parquet(spark, tmp_path_factory):
    """A scene catalog written to parquet — the storage shape whose
    scan the select() predicates must prune."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.ingest import docs_to_scenes

    path = str(tmp_path_factory.mktemp("cat") / "scenes.parquet")
    docs_to_scenes(generate_documents(spark, 2_000, seed=3),
                   with_geometry=False).write.parquet(path)
    return spark.read.parquet(path)


def test_select_predicates_reach_the_scan(spark, catalog_parquet):
    """P1/P4/P7 filters must be PushedFilters on the parquet scan and
    the projection must prune ReadSchema to the referenced columns."""
    from pyrosar_spark.operators.select import select

    out = select(
        catalog_parquet,
        sensor="S1A",
        mindate="20150101T000000",
        maxdate="20151231T235959",
        polarizations=["VV"],
        return_value=["doc_id", "start"],
    )
    p = plan_text(out)
    assert "PushedFilters:" in p
    pushed = p.split("PushedFilters:")[1].split("]")[0]
    for field in ("sensor", "start", "stop", "vv"):
        assert field in pushed, (field, pushed)
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "corners" not in read_schema and "scene" not in read_schema


def test_docs_scan_prunes_to_spans(spark, tmp_path):
    """The flagship parse reads ONLY (doc_id, spans) from the documents
    table — full-column reads at 100 TB are a design failure."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.ingest import docs_to_scenes

    path = str(tmp_path / "docs.parquet")
    generate_documents(spark, 1_000, seed=4).withColumn(
        "payload", F.repeat(F.lit("x"), 10)
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    out = docs_to_scenes(docs, with_geometry="defer",
                         columns=["doc_id", "start", "stop"])
    p = plan_text(out)
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "spans" in read_schema and "doc_id" in read_schema
    assert "payload" not in read_schema


def test_no_cartesian_products_in_hot_paths(spark, catalog_parquet):
    """Candidate generation is always an equi-join on a derived key —
    never CartesianProduct. (cosine_topk's crossJoin against a
    broadcast <=k-row query side is BroadcastNestedLoopJoin by design
    and asserted as such.)"""
    from pyrosar_spark.operators.dedup import near_dup_pairs, simhash_pairs
    from pyrosar_spark.operators.similarity import cosine_dup_pairs, cosine_topk
    from pyrosar_spark.operators.spatial import knn_scenes

    docs = spark.createDataFrame(
        [(str(i), f"text body number {i % 7} common tokens") for i in range(50)],
        "doc_id string, text string",
    )
    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.rand(7 + i)) for i in range(8)]).alias("embedding"),
    )
    hot = {
        "near_dup": near_dup_pairs(docs),
        "simhash": simhash_pairs(docs),
        "cos_dup": cosine_dup_pairs(emb, dim=8),
        "knn": knn_scenes(
            catalog_parquet.select("doc_id", "xmin", "xmax", "ymin", "ymax"), k=3
        ),
    }
    for name, df in hot.items():
        assert "CartesianProduct" not in plan_text(df), name
    topk = cosine_topk(emb, emb.limit(2), k=3, vec_col="embedding")
    p = plan_text(topk)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p  # the intended broadcast shape


def test_parse_is_bound_once_per_row(spark):
    """Exactly ONE from_json in the flagship parse plan (the Generate
    barrier pins it): CollapseProject inlining the Jackson parse into
    every downstream reference was the round-1 anti-scaling bug. The
    span lookup's filter lambda runs once per row too (a size guard in
    front of it made two)."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.ingest import docs_to_scenes

    docs = generate_documents(spark, 500, seed=5)
    scenes = docs_to_scenes(docs, with_geometry=False)
    p = plan_text(scenes)
    assert p.count("from_json") == 1, p.count("from_json")
    assert span_filters(scenes) == {"scene_meta": 1}


def test_identify_spans_single_scan(spark, tmp_path):
    """The dialect cascade reads its input exactly once (round 4: the
    union form scanned it 7x), and lifts each dialect's span text once:
    every span kind's filter lambda occurs once in the plan (twice each
    before the texts were bound behind one Generate)."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.formats import identify_spans

    path = str(tmp_path / "docs.parquet")
    generate_documents(spark, 500, seed=6).write.parquet(path)
    out = identify_spans(spark.read.parquet(path))
    assert plan_text(out).count("FileScan") == 1
    kinds = ["scene_meta", "scene_meta_xml", "scene_meta_dimap", "scene_meta_tsx",
             "scene_meta_tdm", "scene_meta_psr", "scene_meta_psr_facter"]
    assert span_filters(out) == dict.fromkeys(kinds, 1)


def test_symmetric_edges_single_scan(spark, tmp_path):
    """dedup_clusters' edge list reads its pairs once: the union of two
    selects it replaced evaluated the whole pairs plan (LSH + verify
    under near_dup_pairs) twice."""
    from pyrosar_spark.operators.dedup import _symmetric_edges

    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame([(1, 2), (2, 3)], "a long, b long").write.parquet(path)
    p = plan_text(_symmetric_edges(spark.read.parquet(path)))
    assert p.count("FileScan") == 1, p


@pytest.mark.parametrize("op", ["strip_boilerplate_chunks", "dup_ngram_spans"])
def test_text_is_tokenized_once_per_document(spark, op):
    """Exactly ONE tokenize in the executed plans (checkpoint jobs
    included), and never inside a lambda: a token expression inside the
    chunk or gram lambda re-tokenizes each document once per element.
    AQE is off so each plan description lists every node once."""
    from test_width import _sql_plans

    from pyrosar_spark.operators.corpus import strip_boilerplate_chunks
    from pyrosar_spark.operators.dedup import dup_ngram_spans

    build = {
        "strip_boilerplate_chunks": strip_boilerplate_chunks,
        "dup_ngram_spans": dup_ngram_spans,
    }[op]
    docs = spark.createDataFrame(
        [(i, f"Alpha beta {i % 3} gamma, delta eps zeta eta {i % 5}") for i in range(40)],
        "doc_id long, text string",
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plans = _sql_plans(spark, lambda: build(docs).collect())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    n = sum(p.count("regexp_extract_all") for p in plans)
    assert n == 1, f"expected 1 tokenize, got {n}:\n" + "\n".join(plans)
    for p in plans:
        for line in p.splitlines():
            assert "regexp_extract_all" not in line.partition("lambdafunction(")[2], line


def test_contamination_broadcasts_eval_and_never_shuffles_corpus(spark):
    """VERDICT r4 #5: the eval side must be a broadcast join build side
    and the corpus gram stream must reach the join WITHOUT an Exchange.
    Exactly three hash exchanges are allowed, all off the corpus hot
    path or post-join: the tiny eval-side distinct (inside the
    broadcast subtree), the post-join dropDuplicates, and the final
    per-doc aggregation. The round-4 bug this pins against — a
    corpus-wide pre-join distinct — adds a fourth."""
    from pyrosar_spark.operators.textstats import contamination

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l m n o p") for i in range(30)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m")], "eval_id long, text string"
    )
    p = plan_text(contamination(docs, ev, n=13))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    n_ex = p.count("Exchange hashpartitioning")
    assert n_ex == 3, f"expected 3 hash exchanges, got {n_ex}:\n{p}"
    # both sides lift grams as exploded positions, no per-gram lambda
    assert "lambdafunction(" not in p, p


def test_pack_documents_single_shuffle_on_key_and_shard(spark):
    """VERDICT r4 #5: packing is ONE shuffle, and its window partitions
    by (key..., shard) — a window over the key alone serializes each
    key into one task (the round-4 scale-killer default)."""
    from pyrosar_spark.operators.packing import pack_documents

    df = spark.createDataFrame(
        [(i, f"src{i % 3}", "a b c") for i in range(100)],
        "doc_id long, source string, text string",
    )
    p = plan_text(pack_documents(df, budget=5))
    n_ex = p.count("Exchange hashpartitioning")
    assert n_ex == 1, f"expected exactly 1 shuffle, got {n_ex}"
    wspec = next(ln for ln in p.splitlines() if "windowspecdefinition" in ln)
    assert "source" in wspec and "shard" in wspec, wspec


def test_dedup_clusters_round_plan_shape(spark):
    """VERDICT r4 #5/#6: one propagation round = edge×label equi-join +
    min-aggregation — exactly three hash exchanges (join's two sides +
    the groupBy), no cartesian, no extra probe join (the old two-pass
    convergence check joined new vs old labels AGAIN)."""
    from pyrosar_spark.operators.dedup import _cc_round

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    labels = edges.selectExpr("src as v", "src as cluster_id").distinct()
    p = plan_text(_cc_round(edges, labels.localCheckpoint(), False))
    assert "CartesianProduct" not in p
    n_ex = p.count("Exchange hashpartitioning")
    assert n_ex == 3, f"expected 3 hash exchanges per round, got {n_ex}:\n{p}"
    # exactly ONE join in the round (the propagation join; a second one
    # would be the removed convergence probe sneaking back)
    n_joins = sum(p.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, f"expected 1 join per round, got {n_joins}"


def test_dedup_clusters_round_plan_shape_on_one_partition(spark):
    """The same round over a one-partition graph (what dedup_clusters
    runs for the pairs of a one-task corpus): one join, a shuffled hash
    join over the two one-partition sides, and no Exchange at all."""
    from pyrosar_spark.operators.dedup import _cc_round, _narrow, _one_partition

    # a local relation, so both sides carry a size estimate: Spark joins
    # one-partition sides in place only below spark.sql.maxSinglePartitionBytes
    edges = spark.sql(
        "SELECT * FROM VALUES (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L) AS t(src, dst)"
    ).coalesce(1)
    labels = _narrow(
        edges.selectExpr("src as v", "src as cluster_id").distinct().localCheckpoint(),
        True,
    )
    assert _one_partition(edges) and _one_partition(labels)
    p = plan_text(_cc_round(edges, labels, True))
    assert "Exchange" not in p, p
    assert "CartesianProduct" not in p
    n_joins = sum(p.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1 and "ShuffledHashJoin" in p, p


def test_python_stages_are_arrow(spark, tmp_path):
    """Any Python in a hot plan is Arrow-batched (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas) — never row-at-a-time
    BatchEvalPython. Round 5: a CONVEX AOI select is Python-FREE (JVM
    sign/segment refine — a Python stage demands ~2× the level in
    cores, the worst in-box scaling term). A concave AOI is refined in
    the JVM too: over a stored catalog with ``ring`` no Python runs,
    and over a deferred-geometry catalog exactly one UDF, the hull."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.ingest import docs_to_scenes
    from pyrosar_spark.operators.select import select

    docs = generate_documents(spark, 500, seed=7)
    scenes = docs_to_scenes(docs)
    sel = select(scenes, aoi_wkt="POLYGON((0 0, 20 0, 20 20, 0 20, 0 0))")
    p = plan_text(sel)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p  # convex AOI: pure JVM refine
    concave = "POLYGON((0 0, 20 0, 20 20, 10 4, 0 20, 0 0))"
    path = str(tmp_path / "catalog.parquet")
    scenes.write.parquet(path)
    p2 = plan_text(select(spark.read.parquet(path), aoi_wkt=concave))
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2
    deferred = docs_to_scenes(docs, with_geometry="defer")
    p3 = plan_text(select(deferred, aoi_wkt=concave))
    evals = [line for line in p3.splitlines() if "EvalPython" in line]
    assert len(evals) == 1, evals
    assert "ArrowEvalPython [ring_from_corners_udf(" in evals[0]
    assert evals[0].count("pythonUDF") == 1, evals[0]


def test_span_roundtrip_plan_shape(spark):
    """Round 5: the adversarial span scatter + reassembly is exactly
    two exchanges (the content-hash repartition and the groupBy) with
    no Python stage and no join — the digest is pure JVM columnar."""
    from pyrosar_spark.datagen import generate_documents
    from pyrosar_spark.operators.spans import roundtrip_digest

    p = plan_text(roundtrip_digest(generate_documents(spark, 200, seed=5)))
    n_ex = p.count("Exchange")
    assert n_ex == 2, f"expected 2 exchanges (scatter + regroup), got {n_ex}:\n{p}"
    assert "EvalPython" not in p and "InPandas" not in p
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in p


def test_dimap_incidence_decode_gated_by_semijoin(spark):
    """Round 5: the ENVI decode (the only Python stage) must sit ABOVE
    a left-semi join against the NULL-incidence rows — payload bytes of
    metadata-carrying documents are never decoded (and with column
    pruning, never read)."""
    from pyrosar_spark.operators.envi import fill_incidence_from_rasters

    parsed = spark.createDataFrame(
        [(1, 35.5), (2, None)], "doc_id long, incidence double"
    )
    rasters = spark.createDataFrame(
        [(1, "h", bytearray(b"")), (2, "h", bytearray(b""))],
        "doc_id long, hdr string, payload binary",
    )
    p = plan_text(fill_incidence_from_rasters(parsed, rasters))
    assert "MapInPandas" in p, p
    assert "LeftSemi" in p, p
    assert "BatchEvalPython" not in p
    # the decode stage consumes the semi-join output, not the raw
    # raster scan: the plan orders LeftSemi below MapInPandas
    assert p.index("MapInPandas") < p.index("LeftSemi"), p


def test_media_pipeline_stages_are_narrow_arrow(spark, tmp_path):
    """Round 5: the multimodal stages (feature-extract, frame-sample,
    resize) are NARROW MapInPandas over the payload scan — zero
    Exchange (a shuffle here would move raw media bytes, the most
    expensive possible shuffle at 100 TB) and never BatchEvalPython.
    The scan must also prune to the three pipeline columns."""
    from pyrosar_spark.operators.media import (
        extract_features,
        resize_media,
        sample_frames,
    )

    path = str(tmp_path / "media.parquet")
    spark.range(200).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(F.lit("ref://"), F.col("id")).alias("media_ref"),
        F.encode(F.concat(F.lit("payload:"), F.col("id")), "utf-8").alias("payload"),
        F.lit("extra-column-that-must-prune").alias("junk"),
    ).write.parquet(path)
    media = spark.read.parquet(path)

    for stage in (
        extract_features(media),
        sample_frames(media, stride=5),
        resize_media(media, max_side=64),
    ):
        p = plan_text(stage)
        assert "Exchange" not in p, f"media stage shuffles payload bytes:\n{p}"
        assert "MapInPandas" in p and "BatchEvalPython" not in p
        assert "junk" not in p.split("ReadSchema:")[-1]
