"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``: flagship scene pipeline over sf0.001 — interleaved
documents lifted from the corpus → scene catalog → AOI/date select →
HGT tile assignment.

``queries()`` / ``oracle_sql()``: one entry per operator family from
SURVEY.md §2, run by the driver at sf0.01 against DuckDB oracles —
EVERY query carries an oracle (round 2). Hash-dependent expressions
use the engine-portable md5→bigint hash (identical in Spark and
DuckDB); decimal sums are computed in exact decimal then rounded so
value-hashes match bit-for-bit. Scene-engine queries whose inputs are
synthesized via xxhash64 (not reproducible in SQL) write their
deterministic intermediate frames to a parquet handoff that the
oracle reads back, so the join/PIP/kNN/as-of/session logic is
verified by an independent SQL implementation over identical bytes;
the parse stage itself is pinned by reference-parity goldens in
tests/.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col):
    return col.cast("decimal(18,2)")


def _sumd(col, alias: str, scale: int = 2):
    return F.round(F.sum(col).cast("double"), scale).alias(alias)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

FLAGSHIP_AOI = "POLYGON((-180 -40, -140 -40, -140 60, -180 60, -180 -40))"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: corpus → interleaved docs → scenes → select → tiles."""
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.operators.ingest import docs_to_scenes
    from pyrosar_spark.operators.select import select
    from pyrosar_spark.operators.tiles import assign_hgt

    docs = docs_from_corpus(spark, "/root/testdata/sf0.001")
    # deferred geometry: hull only for bbox survivors (scale shape)
    scenes = docs_to_scenes(docs, with_geometry="defer")
    # select projects every column the tile stage needs — no doc-id
    # semi-join (a broadcast build of the hit set is driver-serial work
    # that caps scaling efficiency; measured round 2)
    sel = select(
        scenes,
        mindate="20150101T000000",
        maxdate="20151231T235959",
        aoi_wkt=FLAGSHIP_AOI,
        return_value=["doc_id", "outname_base", "start", "xmin", "xmax", "ymin", "ymax"],
    )
    tiles = assign_hgt(sel)
    return tiles.select("doc_id", "outname_base", "start", "tile_id").orderBy(
        "doc_id", "tile_id"
    )


# ---------------------------------------------------------------------------
# SQL-oracled queries (driver compares vs DuckDB at sf0.01)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf):
    li = _t(spark, sf, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sumd(_dec(F.col("l_quantity")), "sum_qty"),
            _sumd(_dec(F.col("l_extendedprice")), "sum_base_price"),
            _sumd(
                _dec(F.col("l_extendedprice")) * (F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))),
                "sum_disc_price",
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_select_eq_range(spark, sf):
    o = _t(spark, sf, "orders").where(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") <= "1996-12-31")
    )
    return (
        o.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), _sumd(_dec(F.col("o_totalprice")), "total"))
        .orderBy("o_orderpriority")
    )


def q_select_inlist_like(spark, sf):
    p = _t(spark, sf, "part").where(
        F.col("p_type").isin("ECONOMY", "SMALL") & F.col("p_name").contains("red")
    )
    return p.groupBy("p_brand").agg(
        F.count("*").alias("n"), _sumd(_dec(F.col("p_retailprice")), "total_price")
    )


def q_revenue_join(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    n = _t(spark, sf, "nation")
    rev = _dec(F.col("l_extendedprice")) * (
        F.lit(1).cast("decimal(18,2)") - _dec(F.col("l_discount"))
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("n_name")
        .agg(_sumd(rev, "revenue"), F.count("*").alias("n_items"))
    )


def q_anti_customers(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").where(F.col("o_orderdate") >= "2001-01-01")
    n = _t(spark, sf, "nation")
    inactive = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        inactive.join(F.broadcast(n), inactive.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_inactive"))
    )


def q_semi_suppliers(spark, sf):
    s = _t(spark, sf, "supplier")
    li = _t(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    n = _t(spark, sf, "nation")
    active = s.join(li, s.s_suppkey == li.l_suppkey, "left_semi")
    return (
        active.join(F.broadcast(n), active.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_active"))
    )


def q_topk_per_group(spark, sf):
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    w = W.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            "n_name", "c_custkey", F.round(F.col("c_acctbal"), 2).alias("acctbal"), "rank"
        )
    )


def q_dup_routing(spark, sf):
    o = _t(spark, sf, "orders")
    w = W.partitionBy("o_custkey", "o_orderdate").orderBy("o_orderkey")
    ranked = o.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("o_orderstatus")
        .agg(
            F.sum((F.col("rk") == 1).cast("int")).alias("n_data"),
            F.sum((F.col("rk") > 1).cast("int")).alias("n_dups"),
        )
        .orderBy("o_orderstatus")
    )


def q_session_gap(spark, sf):
    e = _t(spark, sf, "events").select(
        "user_id", F.unix_timestamp("ts").alias("tsec")
    )
    w = W.partitionBy("user_id").orderBy("tsec")
    flagged = e.withColumn(
        "new_sess",
        F.coalesce((F.col("tsec") - F.lag("tsec").over(w) > 1800).cast("int"), F.lit(1)),
    )
    return (
        flagged.groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events"))
        .orderBy("user_id")
    )


def q_asof_purchase_view(spark, sf):
    e = _t(spark, sf, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    v = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    cand = p.join(v, (F.col("p_user") == F.col("v_user")) & (F.col("v_ts") <= F.col("p_ts")))
    # r6 negative result: replacing this window with a max_by
    # aggregation measured ~25% SLOWER on the 10×-scale bed — Spark 4's
    # WindowGroupLimit already prunes to the per-partition top row
    # BEFORE the exchange, while max_by pays object-aggregation state.
    # The window form stays.
    w = W.partitionBy("p_event_id").orderBy(F.col("v_ts").desc(), F.col("v_event_id").desc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("p_event_id", "v_event_id")
    )


def q_interval_overlap(spark, sf):
    o = _t(spark, sf, "orders").withColumn(
        "o_end", F.expr("o_orderdate + INTERVAL 30 DAYS")
    )
    hit = o.where(
        (F.col("o_orderdate") < "1996-07-01") & (F.col("o_end") > "1996-06-01")
    )
    return hit.groupBy("o_orderstatus").agg(F.count("*").alias("n")).orderBy("o_orderstatus")


def q_tile_assign(spark, sf):
    from pyrosar_spark.operators.tiles import assign_hgt

    c = _t(spark, sf, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 360 - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("c_custkey") * 13) % 170 - 85 + 0.25).cast("double").alias("lat"),
    )
    boxed = c.select(
        "c_custkey",
        (F.col("lon") - 1.3).alias("xmin"),
        (F.col("lon") + 1.3).alias("xmax"),
        (F.col("lat") - 0.9).alias("ymin"),
        (F.col("lat") + 0.9).alias("ymax"),
    )
    return assign_hgt(boxed).groupBy("tile_id").agg(F.count("*").alias("n_scenes"))


def q_intrange_bounds(spark, sf):
    n = _t(spark, sf, "nation").select(
        "n_nationkey",
        (F.col("n_nationkey") * 3 - 60).cast("double").alias("xmin"),
    )
    return n.select(
        "n_nationkey",
        (F.floor(F.col("xmin") / 5) * 5).cast("int").alias("lat_first"),
        (F.ceil((F.col("xmin") + 7.2) / 5) * 5 - 5).cast("int").alias("lat_last"),
    ).orderBy("n_nationkey")


def q_exact_dedup_docs(spark, sf):
    from pyrosar_spark.operators.dedup import exact_dedup

    d = _t(spark, sf, "documents")
    groups = exact_dedup(d, "text", "doc_id")
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum("n_members").alias("n_docs"),
        F.sum((F.col("n_members") > 1).cast("int")).alias("n_dup_groups"),
    )


def q_near_dup_pairs(spark, sf):
    # max_bucket is effectively unbounded here so the engine and the
    # DuckDB oracle share identical semantics at every sf (the capped
    # production path is exercised + counted in tests/bench instead)
    from pyrosar_spark.operators.dedup import near_dup_pairs

    d = _t(spark, sf, "documents")
    return near_dup_pairs(
        d, "text", "doc_id", n_hashes=16, n_bands=4, shingle_k=2,
        threshold=0.2, max_bucket=1 << 40,
    )


def q_token_stats(spark, sf):
    from pyrosar_spark.operators.textstats import token_count_ws

    d = _t(spark, sf, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_ws(F.col("text"))).alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def q_quality_by_source(spark, sf):
    from pyrosar_spark.operators.textstats import quality_score

    d = _t(spark, sf, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum(quality_score(F.col("text"))), 3).alias("quality_sum"),
        )
        .orderBy("source")
    )


def q_lang_id_eval(spark, sf):
    from pyrosar_spark.operators.textstats import lang_id

    d = _t(spark, sf, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "lang_guess")
    )


def q_fingerprints(spark, sf):
    from pyrosar_spark.operators.textstats import fingerprint64

    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", fingerprint64(F.col("text"), 8).alias("fingerprint")
    ).orderBy("doc_id")


def q_cosine_topk(spark, sf):
    from pyrosar_spark.operators.similarity import cosine_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    return cosine_topk(e, q, k=5)


def q_embedding_stats(spark, sf):
    e = _t(spark, sf, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.element_at("embedding", 1).cast("double")), 4).alias("sum_d1"),
            F.round(F.sum(F.element_at("embedding", 2).cast("double")), 4).alias("sum_d2"),
        )
        .orderBy("label")
    )


def q_media_decode(spark, sf):
    from pyrosar_spark.operators.media import decode_metadata

    meta = decode_metadata(_media_payloads(spark, sf))
    return meta.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_bytes", "width", "height", "channels",
    ).orderBy("doc_id")


def _media_payloads(spark, sf):
    """documents → (doc_id, media_ref, payload) with the payload being
    the utf-8 text bytes — the shared input of the multimodal pipeline
    queries (ASCII corpus, so DuckDB's per-char ``ascii``/``md5`` see
    the identical byte stream)."""
    return _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("ref://"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def q_media_features(spark, sf):
    """Feature-extract stage (REAL, no codec): L1-normalized 16-bucket
    byte histogram per payload, exploded to (doc_id, bucket, frac) rows
    so the oracle compares every vector component. One vectorized
    np.bincount per Arrow batch; narrow plan (no shuffle before the
    presentation sort). frac is a single IEEE double division in both
    engines — bit-exact, no rounding needed.

    Empty/NULL-text docs have NULL features, which plain posexplode
    drops — the oracle's grid filters ``length(text) > 0`` to match
    (the shipped corpus has no such docs at any sf, but the query pair
    must not diverge if one ever appears)."""
    from pyrosar_spark.operators.media import extract_features

    feats = extract_features(_media_payloads(spark, sf), n_buckets=16)
    return (
        feats.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "n_bytes",
            F.posexplode("features").alias("bucket", "frac"),
        )
        .orderBy("doc_id", "bucket")
    )


def q_media_frames(spark, sf):
    """Frame-sampling stage: stubbed container probe (md5-derived
    n_frames/fps, same convention as the fake image decoder), REAL
    row-explosion plumbing — every 7th frame with its exact integer
    timestamp ``frame_idx * 1000 // fps``. Stride 7 exercises the
    non-divisible tail (last partial stride window)."""
    from pyrosar_spark.operators.media import sample_frames

    fr = sample_frames(_media_payloads(spark, sf), stride=7)
    return fr.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_frames", "fps", "frame_idx", "ts_ms",
    ).orderBy("doc_id", "frame_idx")


def q_media_resize(spark, sf):
    """Resize stage via the deterministic fake resizer (the REAL BMP
    nearest-neighbor kernel is golden-tested in
    tests/test_media_pipeline_r5.py — no full-pixel rasters exist in
    the synthetic corpus): aspect-preserving integer downscale capped
    at 256, token output payload whose length the oracle recomputes."""
    from pyrosar_spark.operators.media import resize_media

    rs = resize_media(_media_payloads(spark, sf), max_side=256)
    return rs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "width", "height", "out_width", "out_height",
        F.octet_length("out_payload").alias("out_bytes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# scene-engine queries over synthesized interleaved docs.
#
# Oracle strategy (round 2): the scene catalog is synthesized from the
# corpus via xxhash64 (not reproducible in SQL), so each query WRITES
# its deterministic intermediate input to a parquet handoff under
# /tmp/pyrosar_oracle (an eager side effect before the returned plan),
# and the DuckDB oracle reads the SAME parquet — the join / PIP / kNN /
# as-of / session logic is then verified by a fully independent SQL
# implementation. The parse stage itself is covered by exact goldens in
# tests/ (reference WKT / outname_base / tile parity).
# ---------------------------------------------------------------------------

_ORACLE_ROOT = "/tmp/pyrosar_oracle"
# the driver's documented correctness sf — oracle_sql() strings are
# static, so they always read THIS sf's handoffs; query fns write to
# the dir keyed by their runtime sf (a bench run at sf0.1 can no
# longer clobber the correctness handoffs — ADVICE r2)
_ORACLE_SF = "sf0.01"

AOI_RECTS = {
    "west": (-180.0, -40.0, -140.0, 60.0),  # == FLAGSHIP_AOI
    "europe": (0.0, 35.0, 30.0, 60.0),
    "nowhere": (200.0, 80.0, 201.0, 81.0),
}


def _oracle_dir(sf_dir: str) -> str:
    import os

    return f"{_ORACLE_ROOT}/{os.path.basename(str(sf_dir).rstrip('/'))}"


# handoff paths already written BY THIS PROCESS. Every handoff name
# maps to exactly one deterministic frame definition per sf (scenes,
# osv, chips_bn, chips_tiles, geo_ads, docs, inc_rasters — the two
# chips call sites select identical columns), so rewriting within a
# process produces byte-identical files and only burns a full
# parse+write job per QUERY CONSTRUCTION — ~1.5 s at sf0.001, paid
# ~20× per contract run and on every bench rep. The first write per
# process still overwrites, so a stale handoff left by an older code
# version on disk can never leak in (the r4 multi-scale pinning
# lesson: keys include the sf dir, never shared across scales).
_HANDOFF_WRITTEN: set = set()


def _handoff(df: DataFrame, name: str, sf_dir: str) -> DataFrame:
    """Write a deterministic intermediate frame to the sf-keyed oracle
    handoff dir (eager, once per process) and return the read-back, so
    engine and DuckDB oracle consume byte-identical input."""
    import os

    path = f"{_oracle_dir(sf_dir)}/{name}.parquet"
    if path not in _HANDOFF_WRITTEN or not os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        # the source tables are single-file parquet, so an
        # unrepartitioned handoff reads back as ONE scan task and every
        # pre-shuffle stage of the scene queries (lattice explode, SAT
        # refine, haversine) runs single-threaded (guide §6 — input
        # split parallelism). The file count follows the source bytes
        # (dedup._input_width: ~1 MiB per file, capped at cores; cores
        # when the size is unknown). Rows and schema are unchanged, so
        # the DuckDB oracle reads identical data from the same glob.
        from pyrosar_spark.operators.dedup import _input_width

        df.repartition(_input_width(df)).write.mode("overwrite").parquet(path)
        _HANDOFF_WRITTEN.add(path)
    return df.sparkSession.read.parquet(path)


def _oracle_scan(name: str) -> str:
    return f"read_parquet('{_ORACLE_ROOT}/{_ORACLE_SF}/{name}.parquet/*.parquet')"


def _scenes_handoff(spark, sf) -> DataFrame:
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.functions.temporal import seconds_col
    from pyrosar_spark.operators.ingest import docs_to_scenes

    scenes = docs_to_scenes(docs_from_corpus(spark, sf)).select(
        "doc_id", "sensor", "orbitNumber_rel", "outname_base", "start",
        "lines", "samples", "xmin", "xmax", "ymin", "ymax", "ring",
        seconds_col("start").alias("tsec"),
    )
    return _handoff(scenes, "scenes", sf)


def q_scene_select_tiles(spark, sf):
    from pyrosar_spark.operators.select import select
    from pyrosar_spark.operators.tiles import assign_hgt

    scenes = _scenes_handoff(spark, sf)
    sel = select(
        scenes, aoi_wkt=FLAGSHIP_AOI,
        return_value=["doc_id", "xmin", "xmax", "ymin", "ymax"],
    )
    return assign_hgt(sel).groupBy("tile_id").agg(F.count("*").alias("n_scenes"))


def q_scene_spatial_join(spark, sf):
    from pyrosar_spark.operators.spatial import aoi_frame, spatial_join

    scenes = _scenes_handoff(spark, sf)
    aois = aoi_frame(
        spark,
        [
            (name, "POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, {x0} {y0}))".format(
                x0=r[0], y0=r[1], x1=r[2], y1=r[3]))
            for name, r in AOI_RECTS.items()
        ],
    )
    return spatial_join(scenes, aois).orderBy("aoi_id", "doc_id")


def q_scene_knn(spark, sf):
    from pyrosar_spark.operators.spatial import knn_scenes

    scenes = _scenes_handoff(spark, sf)
    out = knn_scenes(scenes, k=3)
    return out.select(
        "q_id", "n_id", F.round("dist_km", 6).alias("dist_km"), "rank"
    ).orderBy("q_id", "rank")


def q_scene_osv_asof(spark, sf):
    from pyrosar_spark.datagen import generate_osv
    from pyrosar_spark.operators.asof import osv_match

    scenes = _scenes_handoff(spark, sf)
    osv = _handoff(generate_osv(spark, 2000, seed=42), "osv", sf)
    return osv_match(scenes, osv, ["POE", "RES"]).orderBy("doc_id")


def q_scene_sessions(spark, sf):
    from pyrosar_spark.operators.session_group import groupby_time_collect

    scenes = _scenes_handoff(spark, sf)
    return (
        groupby_time_collect(
            scenes, "outname_base", "tsec", 3600.0, key_cols=["orbitNumber_rel"]
        )
        .select("orbitNumber_rel", "session_id", "n")
        .orderBy("orbitNumber_rel", "session_id")
    )


def q_simhash_pairs(spark, sf):
    # max_hamming=3 keeps the 4-block pigeonhole recall guarantee exact
    # (r1 ran 16, a silent recall shortfall); the md5 hash is SQL-portable
    from pyrosar_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf, "documents")
    return simhash_pairs(
        d, "text", "doc_id", max_hamming=3, n_blocks=4
    ).orderBy("a", "b")


def q_ann_lsh(spark, sf):
    from pyrosar_spark.operators.similarity import lsh_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    return lsh_topk(e, q, k=5, n_bits=6, n_tables=3, dim=64)


def q_geolocation_grid(spark, sf):
    from pyrosar_spark.operators.geogrid import geolocation_grid

    scenes = _scenes_handoff(spark, sf)
    grid = geolocation_grid(scenes, 2, 11)
    # order-independent exact aggregates: int sums of line/pixel, min/max
    # incidence, micro-degree integer sums of the interpolated lon/lat
    # (the arithmetic is pure +-*/ so both engines produce bit-identical
    # doubles; rounding to integer micro-degrees makes the SUM exact in
    # any aggregation order)
    return (
        grid.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_points"),
            F.sum("line").alias("sum_line"),
            F.sum("pixel").alias("sum_pixel"),
            F.min("incidenceAngle").alias("incidence_min"),
            F.max("incidenceAngle").alias("incidence_max"),
            F.sum(F.round(F.col("lon") * 1e6, 0).cast("bigint")).alias("sum_lon_micro"),
            F.sum(F.round(F.col("lat") * 1e6, 0).cast("bigint")).alias("sum_lat_micro"),
        )
        .orderBy("doc_id")
    )


def q_border_noise(spark, sf):
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.operators.bordernoise import remove_border_noise
    from pyrosar_spark.operators.chips import synthetic_chips

    chips = _handoff(
        synthetic_chips(docs_from_corpus(spark, sf)).select(
            "media_ref", "width", "height", "seed"
        ),
        "chips_bn",
        sf,
    )
    # portable payload → the threshold mask is reproducible in SQL;
    # the VW border simplification stays golden-tested in tests/
    return remove_border_noise(chips, payload="portable").select(
        "media_ref", "width", "height", "first_valid_col", "n_masked"
    ).orderBy("media_ref")


def q_chip_mosaic(spark, sf):
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.operators.chips import assign_chip_tiles, mosaic_tiles, synthetic_chips

    chips = _handoff(
        assign_chip_tiles(synthetic_chips(docs_from_corpus(spark, sf))).select(
            "media_ref", "tile_lat", "tile_lon", "tile_id", "ulx", "uly",
            "xres", "yres", "width", "height", "area_or_point", "seed",
        ),
        "chips_tiles",
        sf,
    )
    return mosaic_tiles(chips, px_per_degree=10).select(
        "tile_id", "n_chips", "n_valid_px"
    ).orderBy("tile_id")


def q_binparse_fixed(spark, sf):
    """CEOS-style fixed-offset ASCII field extraction (F8): a synthetic
    2000-byte record per document with fields at fixed offsets; mirrors
    exactly to SQL substr arithmetic."""
    from pyrosar_spark.operators.binparse import FieldSpec, extract_fields

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.encode(
            F.rpad(
                F.concat(
                    F.lpad(F.col("doc_id").cast("string"), 8, "0"),
                    F.lpad(F.col("n_chars").cast("string"), 8, " "),
                    F.rpad(F.col("lang"), 8, " "),
                    F.col("text"),
                ),
                2000,
                " ",
            ),
            "UTF-8",
        ).alias("rec"),
    )
    specs = [
        FieldSpec("rec_doc_id", 0, 8, "int"),
        FieldSpec("rec_chars", 8, 8, "int"),
        FieldSpec("rec_lang", 16, 8, "str"),
    ]
    return extract_fields(d, "rec", specs).select(
        "doc_id", "rec_doc_id", "rec_chars", "rec_lang"
    ).orderBy("doc_id")


def q_s1_resolution(spark, sf):
    """S1 resolution physics (F11) over deterministic per-doc annotation
    parameters derived from documents columns; exact arithmetic both
    engines (window coefficient cycles through the Hamming table)."""
    from pyrosar_spark.operators.physics import s1_resolution, HAMMING_COEFFICIENTS

    coeffs = F.array(*[F.lit(c) for c in HAMMING_COEFFICIENTS])
    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.element_at(coeffs, (F.col("doc_id") % 10 + 1).cast("int")).alias("w_rg"),
        (F.lit(3.0e7) + F.col("doc_id") * 1000.0).alias("b_rg"),
        (F.lit(3.0e7) + F.col("doc_id") * 1000.0).alias("lb_rg"),
        F.element_at(coeffs, (F.col("doc_id") % 10 + 1).cast("int")).alias("w_az"),
        F.lit(300.0).alias("b_az"),
        F.lit(300.0).alias("lb_az"),
        F.lit(10.0).alias("sp_az"),
        F.lit(0.002).alias("ti_az"),
        F.when(F.col("doc_id") % 2 == 0, "GROUND_RANGE").otherwise("SLANT_RANGE").alias("image_geometry"),
        (F.lit(29.0) + (F.col("doc_id") % 17).cast("double")).alias("incidence"),
    )
    out = s1_resolution(d)
    return out.select(
        "doc_id",
        F.round("resolution_rg", 6).alias("resolution_rg"),
        F.round("resolution_az", 6).alias("resolution_az"),
    ).orderBy(F.col("doc_id").cast("bigint"))


def q_xmlparse_safe(spark, sf):
    """SAFE manifest XML span parse (S4 XML variant, reference
    ``drivers.py:2205-2294``): a synthetic manifest per document built
    from its columns, round-tripped through the namespace-proof regexp
    extraction; the oracle computes the expected fields directly from
    first principles (no XML on the DuckDB side)."""
    from pyrosar_spark.operators.xmlmeta import parse_safe_manifest

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    lat0 = (did % 120).cast("double") - 60 + 0.25
    lon0 = (did % 300).cast("double") - 150 + 0.5
    corners = [
        (lat0, lon0),
        (lat0 + 1.5, lon0 + 0.4),
        (lat0 + 1.1, lon0 + 3.9),
        (lat0 - 0.4, lon0 + 3.5),
    ]
    gml = F.concat_ws(
        " ",
        *[
            F.concat(la.cast("string"), F.lit(","), lo.cast("string"))
            for la, lo in corners
        ],
    )
    sensor = F.when(did % 2 == 0, "S1A").otherwise("S1B")
    mode = (
        F.when(did % 3 == 0, "IW").when(did % 3 == 1, "EW").otherwise("SM")
    )
    pols = F.when(did % 2 == 0, "<s1:transmitterReceiverPolarisation>VV"
                  "</s1:transmitterReceiverPolarisation>"
                  "<s1:transmitterReceiverPolarisation>VH"
                  "</s1:transmitterReceiverPolarisation>").otherwise(
        "<s1:transmitterReceiverPolarisation>HH"
        "</s1:transmitterReceiverPolarisation>"
        "<s1:transmitterReceiverPolarisation>HV"
        "</s1:transmitterReceiverPolarisation>")
    start_t = F.concat(
        F.lit("2015-03-"), two(did % 27 + 1), F.lit("T"), two(did % 24),
        F.lit(":"), two(did % 60), F.lit(":"), two((did * 7) % 60),
        F.lit(".000000"),
    )
    stop_t = F.concat(
        F.lit("2015-03-"), two(did % 27 + 1), F.lit("T"), two((did * 3) % 24),
        F.lit(":"), two((did * 5) % 60), F.lit(":"), two((did * 11) % 60),
        F.lit(".000000"),
    )
    # real-manifest shape (ADVICE r2): attributed orbit numbers
    # (type="start"/"stop" — the stop values are decoys the parser must
    # NOT pick) and a concrete swath tag that replaces mode 'SM'
    xml = F.concat(
        F.lit("<safe:manifest><metadataSection><s1sarl1:missionId>"), sensor,
        F.lit("</s1sarl1:missionId><s1sarl1:mode>"), mode,
        F.lit("</s1sarl1:mode><s1sarl1:swath>S3</s1sarl1:swath>"),
        F.lit("<s1sarl1:productType>GRD</s1sarl1:productType><s1:pass>"),
        F.when(did % 2 == 0, "ASCENDING").otherwise("DESCENDING"),
        F.lit("</s1:pass><safe:startTime>"), start_t,
        F.lit("</safe:startTime><safe:stopTime>"), stop_t,
        F.lit('</safe:stopTime><safe:orbitNumber type="start">'),
        (1000 + did).cast("string"),
        F.lit('</safe:orbitNumber><safe:orbitNumber type="stop">'),
        (9000 + did).cast("string"),
        F.lit('</safe:orbitNumber><safe:relativeOrbitNumber type="start">'),
        (did % 175 + 1).cast("string"),
        F.lit('</safe:relativeOrbitNumber><safe:relativeOrbitNumber type="stop">'),
        (did % 175 + 2).cast("string"),
        F.lit("</safe:relativeOrbitNumber><safe:cycleNumber>"),
        (did % 60 + 1).cast("string"), F.lit("</safe:cycleNumber>"), pols,
        F.lit("<gml:coordinates>"), gml,
        F.lit("</gml:coordinates></metadataSection></safe:manifest>"),
    )
    parsed = parse_safe_manifest(d.select("doc_id", xml.alias("xml")), "xml")
    return parsed.select(
        "doc_id", "sensor", "acquisition_mode", "product", "orbit",
        "start", "stop", "orbitNumber_abs", "orbitNumber_rel", "cycleNumber",
        F.concat_ws("/", "polarizations").alias("pols"),
        "xmin", "xmax", "ymin", "ymax", "outname_base",
    ).orderBy("doc_id")


def q_geogrid_parse(spark, sf):
    """REAL ESA geolocation-grid binary parse (VERDICT r2 #4,
    reference ``drivers.py:1700-1760``): packed big-endian GEOLOCATION
    GRID ADS records (generated per the reference layout with the
    expected decoded values stored alongside) → vectorized numpy
    unpack → 22 tie-point rows per record. The engine reads ONLY the
    record bytes; the oracle reads the independently-stored expected
    columns from the same handoff."""
    from pyrosar_spark.datagen import generate_geo_ads
    from pyrosar_spark.operators.geogrid import tie_points_from_records

    recs = _handoff(generate_geo_ads(spark, sf), "geo_ads", sf)
    pts = tie_points_from_records(recs.select("doc_id", "rec"))
    return pts.select(
        "doc_id", "grp", "idx", "line_num", "num_lines",
        F.round("first_time_sec", 6).alias("first_time_sec"),
        F.round("last_time_sec", 6).alias("last_time_sec"),
        "sub_sat_track", "swath", "sample_number", "slant_range_time",
        "incident_angle", "latitude", "longitude",
    ).orderBy("doc_id", "grp", "idx")


_MONTHS_UC = ["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
              "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"]


def q_xmlparse_dimap(spark, sf):
    """BEAM_DIMAP XML parse (S4, reference ``drivers.py:814-942``): a
    synthetic .dim document per row exercising BOTH sensor branches
    (S1 vs ENVISAT product-type decode), the cycle/frame fallback
    chains, the srgr flag, the upper-case month date format and the
    corner ring; the oracle recomputes every field from first
    principles."""
    from pyrosar_spark.operators.formats import parse_dimap

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    is_s1 = did % 2 == 0
    month = F.element_at(F.array(*[F.lit(m) for m in _MONTHS_UC]),
                         (did % 12 + 1).cast("int"))
    raw_date = F.concat(two(did % 27 + 1), F.lit("-"), month, F.lit("-2015 "),
                        two(did % 24), F.lit(":"), two(did % 60), F.lit(":"),
                        two((did * 7) % 60), F.lit(".000000"))
    env_mode = F.element_at(F.array(F.lit("IMS"), F.lit("IMP"), F.lit("WSM")),
                            (did % 3 + 1).cast("int"))
    lat0 = (did % 120).cast("double") - 60
    lon0 = (did % 300).cast("double") - 150
    md = lambda n, v: F.concat(F.lit(f'<MDATTR name="{n}">'), v, F.lit("</MDATTR>"))  # noqa: E731
    xml = F.concat(
        F.lit('<Dimap_Document><MDElem name="Abstracted_Metadata">'),
        md("MISSION", F.when(is_s1, "SENTINEL-1A").otherwise("ENVISAT")),
        F.when(is_s1, md("ACQUISITION_MODE", F.lit("IW"))).otherwise(
            md("PRODUCT_TYPE", F.concat(F.lit("ASA_"), env_mode, F.lit("_1P")))),
        md("PASS", F.when(did % 3 == 0, "ASCENDING").otherwise("DESCENDING")),
        md("ABS_ORBIT", (2000 + did).cast("string")),
        md("REL_ORBIT", (did % 431 + 1).cast("string")),
        # fallback chains: orbit_cycle only on even rows, data_take_id
        # only on multiples of 3
        F.when(is_s1, md("orbit_cycle", (did % 60 + 1).cast("string"))).otherwise(
            md("CYCLE", (did % 80 + 1).cast("string"))),
        F.when(did % 3 == 0, md("data_take_id", (5000 + did).cast("string"))).otherwise(F.lit("")),
        md("SWATH", F.lit("IW")),
        md("srgr_flag", (did % 2).cast("string")),
        # sentinel rows (did%5==0) fall back to the midSwath mean
        F.when(did % 5 == 0, F.concat(
            md("incidence_near", F.lit("99999.0")),
            md("incidence_far", F.lit("99999.0")),
            md("incidenceAngleMidSwath", (20 + did % 10).cast("string")),
            md("incidenceAngleMidSwath", (30 + did % 10).cast("string")),
        )).otherwise(F.concat(
            md("incidence_near", (20 + did % 10).cast("string")),
            md("incidence_far", (40 + did % 10).cast("string")),
        )),
        md("first_near_lat", lat0.cast("string")),
        md("first_near_long", lon0.cast("string")),
        md("first_far_lat", (lat0 + 0.4).cast("string")),
        md("first_far_long", (lon0 + 3.5).cast("string")),
        md("last_near_lat", (lat0 + 1.5).cast("string")),
        md("last_near_long", (lon0 - 0.5).cast("string")),
        md("last_far_lat", (lat0 + 1.9).cast("string")),
        md("last_far_long", (lon0 + 3.0).cast("string")),
        F.lit('<MDATTR name="mds1_tx_rx_polar" desc="Polarization">VV</MDATTR>'
              '<MDATTR name="mds2_tx_rx_polar" desc="Polarization">VH</MDATTR>'
              "</MDElem>"),
        F.when(is_s1, F.lit("<PRODUCT_TYPE>GRD</PRODUCT_TYPE>")).otherwise(F.lit("")),
        F.lit("<BAND_RASTER_WIDTH>"), (20000 + did % 9000).cast("string"),
        F.lit("</BAND_RASTER_WIDTH><BAND_RASTER_HEIGHT>"),
        (12000 + did % 7000).cast("string"),
        F.lit("</BAND_RASTER_HEIGHT><NBANDS>2</NBANDS>"
              "<PRODUCT_SCENE_RASTER_START_TIME>"), raw_date,
        F.lit("</PRODUCT_SCENE_RASTER_START_TIME>"
              "<PRODUCT_SCENE_RASTER_STOP_TIME>"), raw_date,
        F.lit("</PRODUCT_SCENE_RASTER_STOP_TIME></Dimap_Document>"),
    )
    parsed = parse_dimap(d.select("doc_id", xml.alias("xml")), "xml")
    return parsed.select(
        "doc_id", "sensor", "acquisition_mode", "product", "orbit", "start",
        "orbitNumber_abs", "orbitNumber_rel", "cycleNumber", "frameNumber",
        "samples", "lines", "image_geometry",
        F.round("incidence", 6).alias("incidence"),
        F.concat_ws("/", "polarizations").alias("pols"),
        "xmin", "xmax", "ymin", "ymax", "outname_base",
    ).orderBy("doc_id")


def q_dimap_incidence(spark, sf):
    """The COMPLETE DIMAP incidence cascade (drivers.py:897-918)
    including the last-resort ENVI raster read that was COVERAGE.md's
    one documented deviation: rows rotate through (a) near/far
    metadata, (b) the 99999-sentinel → midSwath-mean fallback, and
    (c) doc_id%7==0 rows with NO incidence metadata at all, resolved
    by mean-of-nonzero over a synthetic ``incident_angle.img``
    (rotating ENVI dtypes f4/i2/f8/u2, both byte orders, junk header
    offsets). Engine decodes only (hdr, payload); the oracle
    aggregates the independently-stored expected pixels."""
    from pyrosar_spark.datagen import generate_incidence_rasters
    from pyrosar_spark.operators.envi import fill_incidence_from_rasters
    from pyrosar_spark.operators.formats import parse_dimap

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    md = lambda n, v: F.concat(F.lit(f'<MDATTR name="{n}">'), v, F.lit("</MDATTR>"))  # noqa: E731
    inc_meta = (
        F.when(did % 7 == 0, F.lit(""))
        .when(
            did % 5 == 0,
            F.concat(
                md("incidence_near", F.lit("99999.0")),
                md("incidence_far", F.lit("99999.0")),
                md("incidenceAngleMidSwath", (20 + did % 10).cast("string")),
                md("incidenceAngleMidSwath", (30 + did % 10).cast("string")),
            ),
        )
        .otherwise(
            F.concat(
                md("incidence_near", (20 + did % 10).cast("string")),
                md("incidence_far", (40 + did % 10).cast("string")),
            )
        )
    )
    xml = F.concat(
        F.lit('<Dimap_Document><MDElem name="Abstracted_Metadata">'),
        md("MISSION", F.lit("SENTINEL-1A")),
        md("ACQUISITION_MODE", F.lit("IW")),
        md("PASS", F.lit("DESCENDING")),
        inc_meta,
        F.lit("</MDElem><PRODUCT_TYPE>GRD</PRODUCT_TYPE></Dimap_Document>"),
    )
    parsed = parse_dimap(d.select("doc_id", xml.alias("xml")), "xml").select(
        "doc_id", "incidence"
    )
    rasters = _handoff(generate_incidence_rasters(spark, sf), "inc_rasters", sf)
    return (
        fill_incidence_from_rasters(parsed, rasters)
        .select(
            "doc_id",
            F.round("incidence", 6).alias("incidence"),
            F.when(did % 7 == 0, F.lit("raster"))
            .when(did % 5 == 0, F.lit("metadata_mid"))
            .otherwise(F.lit("metadata_nf"))
            .alias("inc_source"),
        )
        .orderBy("doc_id")
    )


def q_xmlparse_tsx(spark, sf):
    """TSX annotation XML parse (S4, reference ``drivers.py:2354-2392``)
    incl. the GEOREF gridPoint grid with the >180° west shift."""
    from pyrosar_spark.operators.formats import parse_tsx

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    t = lambda hh, mm, ss: F.concat(  # noqa: E731
        F.lit("2014-09-"), two(did % 27 + 1), F.lit("T"), two(hh), F.lit(":"),
        two(mm), F.lit(":"), two(ss), F.lit(".000000Z"))
    lon_raw = (did % 360).cast("double")  # [0, 360) — exercises the shift
    lat_raw = (did % 160).cast("double") - 80
    gp = lambda la, lo: F.concat(  # noqa: E731
        F.lit("<gridPoint><lat>"), la.cast("string"), F.lit("</lat><lon>"),
        lo.cast("string"), F.lit("</lon></gridPoint>"))
    xml = F.concat(
        F.lit("<level1Product><generalHeader><mission>"),
        F.when(did % 2 == 0, "TSX-1").otherwise("TDX-1"),
        F.lit("</mission></generalHeader><orderInfo><productVariant>"),
        F.when(did % 3 == 0, "SSC").otherwise("MGD"),
        F.lit("</productVariant></orderInfo><missionInfo><orbitDirection>"),
        F.when(did % 2 == 0, "ASCENDING").otherwise("DESCENDING"),
        F.lit("</orbitDirection><absOrbit>"), (15000 + did).cast("string"),
        F.lit("</absOrbit><relOrbit>"), (did % 167 + 1).cast("string"),
        F.lit("</relOrbit><orbitCycle>"), (did % 90 + 1).cast("string"),
        F.lit("</orbitCycle></missionInfo><inputData><uniqueDataTakeID>"),
        (100000 + did).cast("string"),
        F.lit("</uniqueDataTakeID></inputData><acquisitionInfo><imagingMode>"),
        F.element_at(F.array(F.lit("SM"), F.lit("HS"), F.lit("SL")),
                     (did % 3 + 1).cast("int")),
        F.lit("</imagingMode><polarisationList><polLayer>HH</polLayer>"
              "<polLayer>VV</polLayer></polarisationList></acquisitionInfo>"
              "<sceneInfo><start><timeUTC>"), t(did % 24, did % 60, (did * 7) % 60),
        F.lit("</timeUTC></start><stop><timeUTC>"),
        t((did * 3) % 24, (did * 5) % 60, (did * 11) % 60),
        F.lit("</timeUTC></stop><sceneCenterCoord><incidenceAngle>"),
        (20 + did % 25).cast("string"),
        F.lit("</incidenceAngle></sceneCenterCoord></sceneInfo>"
              "<imageDataInfo><imageRaster><rowSpacing>1.25</rowSpacing>"
              "<columnSpacing>0.9</columnSpacing><numberOfColumns>"),
        (10000 + did % 5000).cast("string"),
        F.lit("</numberOfColumns><numberOfRows>"),
        (9000 + did % 6000).cast("string"),
        F.lit("</numberOfRows><rangeLooks>1.0</rangeLooks>"
              "<azimuthLooks>2.0</azimuthLooks></imageRaster></imageDataInfo>"),
        gp(lat_raw, lon_raw), gp(lat_raw + 0.8, lon_raw + 0.6),
        F.lit("</level1Product>"),
    )
    parsed = parse_tsx(d.select("doc_id", xml.alias("xml")), "xml")
    return parsed.select(
        "doc_id", "sensor", "product", "orbit",
        F.concat_ws("/", "polarizations").alias("pols"),
        "orbitNumber_abs", "orbitNumber_rel", "cycleNumber", "frameNumber",
        "acquisition_mode", "start", "stop", "spacing_rg", "spacing_az",
        "samples", "lines", "incidence",
        "xmin", "xmax", "ymin", "ymax", "outname_base",
    ).orderBy("doc_id")


def q_xmlparse_tdm(spark, sf):
    """TDM CoSSC parse (S4, reference ``drivers.py:2455-2525``): TDM
    annotation + inSAR-master TSX span; verifies the master-field lift,
    the SAT1/SAT2 master resolution and the bistatic flag."""
    from pyrosar_spark.operators.formats import parse_tdm

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    lat0 = (did % 140).cast("double") - 70
    lon0 = (did % 320).cast("double") - 160
    cc = lambda la, lo: F.concat(  # noqa: E731
        F.lit("<sceneCornerCoord><lat>"), la.cast("string"),
        F.lit("</lat><lon>"), lo.cast("string"),
        F.lit("</lon></sceneCornerCoord>"))
    tdm = F.concat(
        F.lit("<TDM><productInfo><productType>CoSSC</productType></productInfo>"
              "<commonAcquisitionInfo><missionID>TDM-1</missionID>"
              "<satelliteIDsat1>TSX-1</satelliteIDsat1>"
              "<satelliteIDsat2>TDX-1</satelliteIDsat2><inSARmasterID>"),
        F.when(did % 2 == 0, "SAT1").otherwise("SAT2"),
        F.lit("</inSARmasterID><cooperativeMode>"),
        F.when(did % 3 == 0, "BISTATIC").otherwise("monostatic"),
        F.lit("</cooperativeMode><operationsInfo><acquisitionItemID>"),
        (700 + did).cast("string"),
        F.lit("</acquisitionItemID></operationsInfo></commonAcquisitionInfo>"
              "<acquisitionGeometry><effectiveBaseline>"),
        (100.0 + (did % 50).cast("double")).cast("string"),
        F.lit("</effectiveBaseline><heightOfAmbiguity>"),
        (30.0 + (did % 40).cast("double")).cast("string"),
        F.lit("</heightOfAmbiguity><distanceActivePos>1.5</distanceActivePos>"
              "<distanceTracks>0.8</distanceTracks>"
              "<orbitDirection>DESCENDING</orbitDirection></acquisitionGeometry>"),
        cc(lat0, lon0), cc(lat0 + 0.9, lon0 + 1.1),
        F.lit("</TDM>"),
    )
    master = F.concat(
        F.lit("<level1Product><generalHeader><mission>"),
        F.when(did % 2 == 0, "TSX-1").otherwise("TDX-1"),
        F.lit("</mission></generalHeader>"
              "<orderInfo><productVariant>SSC</productVariant></orderInfo>"
              "<missionInfo><orbitDirection>"),
        F.when(did % 4 == 0, "ASCENDING").otherwise("DESCENDING"),
        F.lit("</orbitDirection><absOrbit>"), (20000 + did).cast("string"),
        F.lit("</absOrbit><relOrbit>"), (did % 167 + 1).cast("string"),
        F.lit("</relOrbit><orbitCycle>"), (did % 90 + 1).cast("string"),
        F.lit("</orbitCycle></missionInfo><inputData><uniqueDataTakeID>"),
        (200000 + did).cast("string"),
        F.lit("</uniqueDataTakeID></inputData>"
              "<acquisitionInfo><imagingMode>SM</imagingMode><polarisationList>"
              "<polLayer>HH</polLayer></polarisationList></acquisitionInfo>"
              "<sceneInfo><start><timeUTC>2014-10-"),
        two(did % 27 + 1), F.lit("T"), two(did % 24), F.lit(":"), two(did % 60),
        F.lit(":"), two((did * 7) % 60),
        F.lit(".000000Z</timeUTC></start><stop><timeUTC>2014-10-"),
        two(did % 27 + 1), F.lit("T"), two((did * 3) % 24), F.lit(":"),
        two((did * 5) % 60), F.lit(":"), two((did * 11) % 60),
        F.lit(".000000Z</timeUTC></stop><sceneCenterCoord><incidenceAngle>"),
        (25 + did % 20).cast("string"),
        F.lit("</incidenceAngle></sceneCenterCoord></sceneInfo>"
              "<imageDataInfo><imageRaster><rowSpacing>2.5</rowSpacing>"
              "<columnSpacing>1.1</columnSpacing><numberOfColumns>"),
        (8000 + did % 3000).cast("string"),
        F.lit("</numberOfColumns><numberOfRows>"),
        (7000 + did % 4000).cast("string"),
        F.lit("</numberOfRows><rangeLooks>2.0</rangeLooks>"
              "<azimuthLooks>2.0</azimuthLooks></imageRaster></imageDataInfo>"
              "</level1Product>"),
    )
    parsed = parse_tdm(
        d.select("doc_id", tdm.alias("xml"), master.alias("master_xml")),
        "xml", "master_xml",
    )
    return parsed.select(
        "doc_id", "sensor", "product", "SAT1", "SAT2", "inSARmasterID",
        "inSARmaster", "acquisitionItemID", "effectiveBaseline",
        "heightOfAmbiguity", "cooperativeMode", "bistatic",
        "orbit", "orbitNumber_abs", "acquisition_mode", "start", "stop",
        "samples", "lines", "incidence",
        "xmin", "xmax", "ymin", "ymax", "outname_base",
    ).orderBy("doc_id")


def q_txtparse_psr(spark, sf):
    """EORC_PSR line-indexed text-header parse (S4, reference
    ``drivers.py:1519-1586``): synthetic HDR + facter_m files per row
    (fields at the reference's fixed line indices, space-padded to
    exercise the space strip), abs-orbit arithmetic included."""
    from pyrosar_spark.operators.formats import parse_psr_text

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    lat0 = (did % 100).cast("double") - 50
    lon0 = (did % 340).cast("double") - 170

    def lines(n: int, overrides: dict[int, F.Column]) -> F.Column:
        arr = [
            overrides.get(i, F.lit(f"filler {i}")) for i in range(n)
        ]
        return F.concat_ws("\n", *[c.cast("string") for c in arr])

    hdr = lines(80, {
        2: F.lit("PSR2"),
        3: F.lit("1.5"),
        5: (did % 20 + 1),
        6: F.concat(F.lit("201409"), F.lpad((did % 27 + 1).cast("string"), 2, "0")),
        7: (did % 207 + 1),
        9: F.when(did % 2 == 0, "A").otherwise("D"),
        12: F.when(did % 2 == 0, "FBD").otherwise("FBS"),
        33: lat0, 34: lon0,
        35: (lat0 - 0.2), 36: (lon0 - 0.7),
        37: (lat0 - 0.6), 38: lon0,
        39: (lat0 - 0.8), 40: (lon0 - 0.5),
        # space-padded numerics: the parser must strip blanks like the
        # reference's replace(' ', '') (drivers.py:1521-1523)
        51: F.lit("  6.25 "), 52: F.lit(" 6.25"),
        64: F.lit("-83.0"), 73: F.lit("EORC"),
    })
    facter = lines(175, {
        50: (10000 + did % 5000).cast("double"),
        51: (11000 + did % 4000).cast("double"),
        119: (30.0 + (did % 15).cast("double")),
    })
    parsed = parse_psr_text(
        d.select("doc_id", hdr.alias("hdr"), facter.alias("facter")),
        "hdr", "facter",
    )
    return parsed.select(
        "doc_id", "sensor", "product", "acquisition_mode", "orbit", "start",
        "orbitNumber_abs", "orbitNumber_rel", "cycleNumber",
        "samples", "lines", "incidence", "spacing_rg", "spacing_az", "k_dB",
        "proc_facility", "xmin", "xmax", "ymin", "ymax", "outname_base",
    ).orderBy("doc_id")


def q_ers_pass(spark, sf):
    """J4 ERS pass-DB lookup with ERS1→ERS2 fallback over deterministic
    frames derived from nation (pass table) and customer (scenes)."""
    from pyrosar_spark.operators.asof import ers_pass_lookup

    fmt = "yyyyMMdd'T'HHmmss"
    base = F.unix_timestamp(F.to_timestamp(F.lit("1995-01-01 00:00:00")))
    n = _t(spark, sf, "nation")
    passdb = n.select(
        F.when(F.col("n_nationkey") % 2 == 0, "ERS1").otherwise("ERS2").alias("sensor"),
        F.substring(F.lit("ABCDE"), (F.col("n_nationkey") % 5 + 1).cast("int"), 1).alias("phase"),
        F.col("n_nationkey").cast("int").alias("cycle"),
        F.date_format(
            F.timestamp_seconds(base + (F.col("n_nationkey") % 20) * 30 * 86400), fmt
        ).alias("start"),
        F.date_format(
            F.timestamp_seconds(base + ((F.col("n_nationkey") % 20) * 30 + 45) * 86400), fmt
        ).alias("stop"),
    )
    c = _t(spark, sf, "customer")
    scenes = c.select(
        F.col("c_custkey").alias("doc_id"),
        F.when(F.col("c_custkey") % 4 == 0, "ERS2").otherwise("ERS1").alias("sensor"),
        F.date_format(
            F.timestamp_seconds(base + (F.col("c_custkey") % 700) * 86400), fmt
        ).alias("start"),
    )
    return ers_pass_lookup(scenes, passdb).orderBy("doc_id")


def q_odc_emit(spark, sf):
    """ODC indexing-YML emit (F20, ``datacube_util.py:610-663``): a
    deterministic catalog frame derived from documents columns (bbox as
    DECIMAL(10,6) so the rendered text is byte-identical in any
    engine), one YAML doc per row, verified by md5 of the full text
    against an oracle that rebuilds the identical YAML in SQL."""
    from pyrosar_spark.operators.odc import odc_indexing_docs

    d = _t(spark, sf, "documents")
    did = F.col("doc_id")
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    start = F.concat(F.lit("201503"), two(did % 27 + 1), F.lit("T"),
                     two(did % 24), two(did % 60), two((did * 7) % 60))
    stop = F.concat(F.lit("201503"), two(did % 27 + 1), F.lit("T"),
                    two((did * 3) % 24), two((did * 5) % 60), two((did * 11) % 60))
    frame = d.select(
        F.concat(F.lit("S1A__IW___A_"), start).alias("outname_base"),
        start.alias("start"),
        stop.alias("stop"),
        F.expr("cast((doc_id % 300) - 150 + 0.25 as decimal(10,6))").alias("xmin"),
        F.expr("cast((doc_id % 300) - 150 + 3.75 as decimal(10,6))").alias("xmax"),
        F.expr("cast((doc_id % 120) - 60 + 0.5 as decimal(10,6))").alias("ymin"),
        F.expr("cast((doc_id % 120) - 60 + 2.25 as decimal(10,6))").alias("ymax"),
        F.concat(F.lit("S1A__IW___A_"), start, F.lit("_VV_gamma0.tif")).alias("vv_path"),
        did.alias("doc_id"),
    )
    out = odc_indexing_docs(frame, {"vv_gamma0": "vv_path"}, passthrough=["doc_id"])
    return out.select(
        "doc_id", "identifier", "filename", F.md5("yml").alias("yml_md5")
    ).orderBy("doc_id")


def q_ann_ivf(spark, sf):
    from pyrosar_spark.operators.similarity import ivf_topk

    e = _t(spark, sf, "embeddings")
    q = e.where(F.col("vec_id") < 3)
    return ivf_topk(e, q, k=5, n_cells=16, n_probe=4)


def q_token_bpe(spark, sf):
    from pyrosar_spark.operators.textstats import token_count_bpe

    d = _t(spark, sf, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_bpe(F.col("text"))).alias("total_pieces"),
        )
        .orderBy("source")
    )


def q_embedding_dup_pairs(spark, sf):
    """Embedding-cosine near-dup dedup (LSH-bucketed, never all-pairs);
    oracle mirrors the hyperplane buckets literally."""
    from pyrosar_spark.operators.similarity import cosine_dup_pairs

    e = _t(spark, sf, "embeddings")
    # max_bucket effectively unbounded so engine and oracle share
    # identical semantics at every sf (the capped production default is
    # exercised + counted in tests instead — same policy as near_dup)
    return cosine_dup_pairs(
        e, threshold=0.4, n_bits=6, n_tables=3, dim=64, seed=42,
        max_bucket=1 << 40,
    ).orderBy("a", "b")


def q_dedup_clusters(spark, sf):
    """Connected components over the near-dup pair graph: doc →
    cluster root (min id) + component size — the keep/drop decision
    step after pairwise dedup. Spark side is iterative min-label
    propagation (one shuffle per round, diameter-bounded); the oracle
    is a recursive CTE transitive closure over the same pair SQL."""
    from pyrosar_spark.operators.dedup import dedup_clusters, near_dup_pairs

    d = _t(spark, sf, "documents")
    pairs = near_dup_pairs(
        d, "text", "doc_id", n_hashes=16, n_bands=4, shingle_k=2,
        threshold=0.2, max_bucket=1 << 40,
    )
    labels = dedup_clusters(pairs)
    w = W.partitionBy("cluster_id")
    return (
        labels.withColumn("cluster_size", F.count("*").over(w))
        .select("v", "cluster_id", "cluster_size")
        .orderBy("v")
    )


def q_contamination(spark, sf):
    """Benchmark decontamination: the eval set is 5 deterministically
    sampled corpus docs (min md5-hash of id — same sampling as the IVF
    centroids), each reduced to a 40-token slice (a leaked benchmark
    fragment); training docs sharing any exact 13-gram are flagged
    with hit counts + offending eval ids. Broadcast eval grams, inner
    join, aggregate — the corpus text itself never shuffles."""
    from pyrosar_spark.operators.dedup import portable_hash64
    from pyrosar_spark.operators.textstats import contamination, tokens_ws

    d = _t(spark, sf, "documents")
    ev = (
        d.orderBy(
            portable_hash64(F.col("doc_id").cast("string"), 0).asc(),
            F.col("doc_id").asc(),
        )
        .limit(5)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.array_join(F.slice(tokens_ws(F.col("text")), 3, 40), " ").alias("text"),
        )
    )
    return (
        contamination(d, ev, n=13)
        .select(
            "doc_id",
            "n_hits",
            F.to_json("eval_ids").alias("eval_ids"),
        )
        .orderBy("doc_id")
    )


def q_pack_bins(spark, sf):
    """Sequence packing (training-pipeline op): documents → fixed
    token-budget bins via ONE window cumulative sum per (source,
    shard); per-bin fill stats. md5-portable shard hash so the oracle
    reproduces the sharding literally."""
    from pyrosar_spark.operators.packing import bin_stats, pack_documents

    d = _t(spark, sf, "documents")
    packed = pack_documents(d, budget=512, n_shards=2)
    return bin_stats(packed).orderBy("source", "shard", "bin_id")


def _stream_session(spark):
    """A private session for one streaming drain: the caller's runtime
    confs, but the stream's own shuffle width, so a drain never changes
    a conf of the caller's session.

    Stateful streaming pins one state-store instance per shuffle
    partition per micro-batch — at the batch width (2× cores) a
    4-trigger drain pays 4×64 state checkpoint tasks of near-empty
    state — so the stream runs at the delivered cores
    (``defaultParallelism``). The state partition count is captured in
    the fresh checkpoint at the first batch. The memory-sink table is
    registered in this session: read it back with ``session.table``."""
    s = spark.newSession()
    for k, v in spark.conf.getAll.items():
        if spark.conf.isModifiable(k):
            s.conf.set(k, v)
    s.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    return s


def _run_stream_to_memory(df_stream, name_prefix: str, min_batches: int | None = None):
    """Execute a streaming aggregation to a complete-mode memory sink
    with Trigger.AvailableNow (drain everything, then stop) and return
    the finished query, whose memory-sink table ``q.name`` lives in the
    stream's session — a genuinely incremental Structured Streaming
    execution whose FINAL output is deterministic, hence ORACLE-able
    against batch SQL (round 4: upgrades streaming coverage from
    golden-only to oracle-exact).

    ``min_batches`` (round 5, VERDICT r4 #3): raise unless the drain
    executed at least that many micro-batches — the proof that the
    oracle-matched output came from state MERGED ACROSS micro-batches,
    not a single-batch pass that never exercises the merge path."""
    import tempfile
    import uuid

    name = f"{name_prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        df_stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"{name}_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    # a timed-out drain must FAIL, not silently hand back a partial
    # complete-mode table (round-4 review)
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError(f"streaming drain {name} did not finish in 600s")
    if min_batches is not None:
        n = len(_stream_batch_ids(q))
        if n < min_batches:
            raise RuntimeError(
                f"streaming drain {name} ran {n} micro-batches; "
                f">={min_batches} required to prove cross-batch state merge"
            )
    return q


def _stream_batch_ids(q) -> set:
    """Distinct micro-batch ids a finished streaming query executed
    (recentProgress keeps the last ~100 — far above any drain here)."""
    ids = set()
    for p in q.recentProgress:
        try:
            ids.add(p.batchId)
        except AttributeError:
            ids.add(p["batchId"])
    return ids


def q_stream_sessions(spark, sf):
    """Sessionization as a STREAM (SURVEY §2.11, ``groupbyTime`` →
    ``session_window``, reference ``ancillary.py:73-108``): the events
    table replayed through the file-stream source, session_window
    aggregation per user (30-min gap, chained-merge semantics),
    complete-mode memory sink. Final output equals the batch
    session_window result; oracle = gap-and-islands SQL (new session
    when the µs delta ≥ gap, mirroring Spark's half-open [start,
    last+gap) windows).

    Round 5 (VERDICT r4 #3): the input is staged as FOUR time-range
    parquet files and drained with ``maxFilesPerTrigger=1``, so every
    session straddling a range boundary must MERGE across micro-batches
    — the drain raises unless ≥3 micro-batches actually executed, so an
    oracle pass here certifies cross-batch ``session_window`` state
    merge, not a vacuous single-batch run."""
    import os

    src = f"{str(sf).rstrip('/')}/events.parquet"
    stage = f"{_oracle_dir(sf)}/events_stream4"
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        (
            spark.read.parquet(src)
            .repartitionByRange(4, F.col("ts"))
            .write.mode("overwrite")
            .parquet(stage)
        )
    sch = spark.read.parquet(src).schema
    ep = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    ss = _stream_session(spark)
    sessions = (
        ss.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .groupBy(F.session_window(F.col("ts"), "1800 seconds").alias("session"),
                 "user_id")
        .agg(F.count("*").alias("n_events"),
             # sum as DECIMAL: float summation order differs between the
             # streaming state merges and DuckDB's scan, which can flip
             # the 4th-decimal rounding boundary (ADVICE r4) — decimal
             # addition is exact, hence order-independent
             F.round(F.sum(F.col("value").cast("decimal(30,10)")), 4)
             .cast("double").alias("sum_value"))
        .select("user_id", ep("session.start").alias("session_start_us"),
                ep("session.end").alias("session_end_us"),
                "n_events", "sum_value")
    )
    q = _run_stream_to_memory(sessions, "stream_sessions", min_batches=3)
    return ss.table(q.name).orderBy("user_id", "session_start_us")


def q_stream_ingest_keys(spark, sf):
    """Streaming ingest (SURVEY §2.11 ``streaming.incremental``): the
    interleaved-document corpus replayed through the file-stream
    source, ``docs_to_scenes`` span parse ON THE STREAM (pruned to the
    outname fields), catalog-key counts in a stateful complete-mode
    aggregation. The oracle re-derives the keys from the SAME handoff
    parquet entirely in DuckDB — list_filter for the first scene_meta
    span, json_extract of the payload, rpad outname_base — so the
    streaming parse is checked against a first-principles SQL parse,
    not a Spark-side handoff of its own output."""
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.operators.ingest import docs_to_scenes

    docs_path = f"{_oracle_dir(sf)}/docs.parquet"
    _handoff(docs_from_corpus(spark, sf), "docs", sf)
    sch = spark.read.parquet(docs_path).schema
    ss = _stream_session(spark)
    stream = ss.readStream.schema(sch).parquet(docs_path)
    keys = (
        docs_to_scenes(stream, with_geometry=False,
                       columns=["product", "outname_base"])
        .groupBy("product", "outname_base")
        .agg(F.count("*").alias("n"))
    )
    q = _run_stream_to_memory(keys, "stream_ingest_keys")
    return ss.table(q.name).orderBy("product", "outname_base")


def q_span_roundtrip(spark, sf):
    """The BASELINE input-contract invariant, executed adversarially:
    every document's span sequence (kind, text, media_ref, offset — in
    order) must survive the pipeline byte-identically. Spans are
    exploded, scattered across partitions by a content hash that
    ignores doc_id (the redistribution a by-kind processing stage
    performs), then reassembled and digested; the oracle digests the
    STORED arrays directly in DuckDB. Per-doc digest equality ==
    byte-identity of membership AND order."""
    from pyrosar_spark.datagen import docs_from_corpus
    from pyrosar_spark.operators.spans import roundtrip_digest

    docs = _handoff(docs_from_corpus(spark, sf), "docs", sf)
    return (
        roundtrip_digest(docs)
        .select(
            "doc_id", F.col("n_spans").cast("long").alias("n_spans"), "digest"
        )
        .orderBy("doc_id")
    )


def q_repetition_stats(spark, sf):
    """Gopher-style repetition quality signals, zero-shuffle columnar
    (run-length scan over sorted in-row gram arrays); the oracle is an
    independent O(g²) count-per-distinct-gram formulation."""
    from pyrosar_spark.operators.textstats import repetition_stats

    d = _t(spark, sf, "documents")
    return (
        repetition_stats(d)
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "dup_2gram_frac",
            F.col("top_2gram_count").cast("long").alias("top_2gram_count"),
            "top_2gram_frac",
        )
        .orderBy("doc_id")
    )


def q_tfidf_top_terms(spark, sf):
    """Top-3 TF-IDF terms per document (smooth idf, term tie-break):
    token-level shuffle for tf, pair-level re-aggregation for df,
    broadcast join back, windowed top-k."""
    from pyrosar_spark.operators.textstats import tfidf_top_terms

    d = _t(spark, sf, "documents")
    return (
        tfidf_top_terms(d, k=3)
        .select(
            "doc_id", F.col("rank").cast("long").alias("rank"), "term", "tfidf"
        )
        .orderBy("doc_id", "rank")
    )


def q_dup_ngram_spans(spark, sf):
    """Substring-level duplicate spans (Lee et al. 2022, n-gram form):
    maximal token spans whose every 6-gram occurs in ≥2 documents —
    position explosion → gram-hash multiplicity → join-back →
    gap-and-islands merge. md5-portable hash so the oracle reproduces
    the spans literally."""
    from pyrosar_spark.operators.dedup import dup_ngram_spans

    d = _t(spark, sf, "documents")
    return dup_ngram_spans(d, n=6, min_docs=2).orderBy(
        "doc_id", "span_start"
    )


def q_quality_topfrac(spark, sf):
    """Quality-quantile cull: best 25% of documents per language by
    the composite quality score (exact rank-window mode, integer
    rank*100 <= cnt*pct comparison — no float boundary); aggregated
    per language so the oracle stays small."""
    from pyrosar_spark.operators.sampling import quality_filter

    d = _t(spark, sf, "documents")
    kept = quality_filter(d, pct=25, by="lang", mode="exact")
    return (
        kept.groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.round(F.sum("score"), 3).alias("score_sum"),
            F.min("score").alias("score_floor"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


def q_mix_budget_sample(spark, sf):
    """Data-mixture construction: deterministic hash-ordered sample of
    four sources up to per-source token budgets (unlisted sources drop
    out through the broadcast dim join); the first budget-crossing doc
    is included. Per-kept-doc output pins the exact membership, not
    just counts."""
    from pyrosar_spark.operators.sampling import sample_token_budget

    d = _t(spark, sf, "documents")
    kept = sample_token_budget(
        d,
        budgets={"src0": 600, "src1": 300, "src2": 150, "src3": 50},
        by="source",
    )
    return kept.select(
        "doc_id", "source", "tokens", "cum_tokens"
    ).orderBy("source", "cum_tokens", "doc_id")


def q_cross_dup_pairs(spark, sf):
    """Cross-corpus document-level near-dup: the same 5-doc eval set
    the contamination query leaks (40-token slices of sampled corpus
    docs), matched back against the full corpus by banded MinHash-LSH
    with an exact-Jaccard verify — the fuzzy whole-document complement
    of the exact 13-gram contamination check. Reference bands and
    shingles ride broadcasts; the corpus never shuffles by itself."""
    from pyrosar_spark.operators.dedup import (
        cross_near_dup_pairs,
        portable_hash64,
    )
    from pyrosar_spark.operators.textstats import tokens_ws

    d = _t(spark, sf, "documents")
    ev = (
        d.orderBy(
            portable_hash64(F.col("doc_id").cast("string"), 0).asc(),
            F.col("doc_id").asc(),
        )
        .limit(5)
        .select(
            "doc_id",
            F.array_join(F.slice(tokens_ws(F.col("text")), 3, 40), " ").alias("text"),
        )
    )
    return cross_near_dup_pairs(
        d, ev, n_hashes=16, n_bands=8, shingle_k=2, threshold=0.05
    ).orderBy("doc_id", "ref_id")


def q_boilerplate_strip(spark, sf):
    """C4-style corpus boilerplate removal: 4-token chunks occurring in
    >= 2 distinct documents are deleted and each surviving document is
    re-emitted with the remaining chunks re-joined in order (portable
    md5 chunk hash so the oracle reproduces membership exactly);
    fully-boilerplate documents drop out, per C4."""
    from pyrosar_spark.operators.corpus import strip_boilerplate_chunks

    d = _t(spark, sf, "documents")
    return strip_boilerplate_chunks(
        d, chunk_tokens=4, min_docs=2
    )


def q_token_commonness(spark, sf):
    """Corpus-informed commonness scoring: unigram frequency table
    (vocab-sized) broadcast back onto the corpus tokens — rare-token
    fraction + mean token frequency per doc, integer-exact (the log-
    free stand-in for unigram log-prob quality scores)."""
    from pyrosar_spark.operators.corpus import token_commonness

    d = _t(spark, sf, "documents")
    return token_commonness(d, rare_max_count=3)


def q_stratified_sample(spark, sf):
    """Deterministic stratified mixture sample: per-source keep
    fractions quantized to integer ppm, keep iff
    pmod(md5hash(id), 1e6) < ppm — a zero-shuffle scan-filter whose
    membership any SQL engine replays exactly (unlisted sources drop
    through the broadcast dim join)."""
    from pyrosar_spark.operators.sampling import sample_stratified

    d = _t(spark, sf, "documents")
    kept = sample_stratified(
        d,
        {"src0": 0.5, "src1": 0.25, "src2": 1.0, "src3": 0.125},
        by="source",
        seed=7,
    )
    return kept.select("doc_id", "source", "lang").orderBy("doc_id")


def q_salted_range_join(spark, sf):
    """The north rule's salted range join EXECUTED at n_salt=4: views
    within ±1 h of each purchase via hour-slot bucketing (equi-join on
    the slot, exact interval refine), the interval side replicated
    across 4 salt sub-keys and each event routed to one by
    pmod(xxhash64(event_id), 4) so a hot slot spreads over 4 reducers.
    The oracle is the plain BETWEEN join — salting must be invisible
    in the result."""
    from pyrosar_spark.operators.asof import salted_interval_join

    e = _t(spark, sf, "events")
    views = e.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("v_event_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    )
    buys = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user"),
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_stop"),
    )
    j = salted_interval_join(
        views,
        buys,
        "v_ts",
        "w_start",
        "w_stop",
        slot_seconds=3600,
        ts_fmt=None,
        n_salt=4,
        salt_col="v_event_id",
    )
    return (
        j.groupBy("p_event_id")
        .agg(
            F.count("*").alias("n_views"),
            F.sum(
                F.when(F.col("v_user") == F.col("p_user"), 1).otherwise(0)
            ).alias("n_same_user"),
        )
        .orderBy("p_event_id")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "select_eq_range": q_select_eq_range,
        "select_inlist_like": q_select_inlist_like,
        "revenue_join": q_revenue_join,
        "anti_customers": q_anti_customers,
        "semi_suppliers": q_semi_suppliers,
        "topk_per_group": q_topk_per_group,
        "dup_routing": q_dup_routing,
        "session_gap": q_session_gap,
        "asof_purchase_view": q_asof_purchase_view,
        "interval_overlap": q_interval_overlap,
        "tile_assign": q_tile_assign,
        "intrange_bounds": q_intrange_bounds,
        "exact_dedup_docs": q_exact_dedup_docs,
        "near_dup_pairs": q_near_dup_pairs,
        "token_stats": q_token_stats,
        "quality_by_source": q_quality_by_source,
        "lang_id_eval": q_lang_id_eval,
        "fingerprints": q_fingerprints,
        "cosine_topk": q_cosine_topk,
        "embedding_stats": q_embedding_stats,
        "media_decode": q_media_decode,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "media_resize": q_media_resize,
        "scene_select_tiles": q_scene_select_tiles,
        "scene_spatial_join": q_scene_spatial_join,
        "scene_knn": q_scene_knn,
        "scene_osv_asof": q_scene_osv_asof,
        "scene_sessions": q_scene_sessions,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "geolocation_grid": q_geolocation_grid,
        "border_noise": q_border_noise,
        "chip_mosaic": q_chip_mosaic,
        "binparse_fixed": q_binparse_fixed,
        "s1_resolution": q_s1_resolution,
        "xmlparse_safe": q_xmlparse_safe,
        "xmlparse_dimap": q_xmlparse_dimap,
        "xmlparse_tsx": q_xmlparse_tsx,
        "xmlparse_tdm": q_xmlparse_tdm,
        "txtparse_psr": q_txtparse_psr,
        "geogrid_parse": q_geogrid_parse,
        "ers_pass": q_ers_pass,
        "odc_emit": q_odc_emit,
        "embedding_dup_pairs": q_embedding_dup_pairs,
        "token_bpe": q_token_bpe,
        "stream_sessions": q_stream_sessions,
        "stream_ingest_keys": q_stream_ingest_keys,
        "pack_bins": q_pack_bins,
        "contamination": q_contamination,
        "dedup_clusters": q_dedup_clusters,
        "span_roundtrip": q_span_roundtrip,
        "repetition_stats": q_repetition_stats,
        "tfidf_top_terms": q_tfidf_top_terms,
        "dimap_incidence": q_dimap_incidence,
        "dup_ngram_spans": q_dup_ngram_spans,
        "quality_topfrac": q_quality_topfrac,
        "mix_budget_sample": q_mix_budget_sample,
        "cross_dup_pairs": q_cross_dup_pairs,
        "boilerplate_strip": q_boilerplate_strip,
        "token_commonness": q_token_commonness,
        "stratified_sample": q_stratified_sample,
        "salted_range_join": q_salted_range_join,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# portable md5 → 60-bit bigint (same value as Spark's
# conv(substring(md5(x),1,15),16,10)); {X} is the input expression
_MD5NUM = "(('0x' || substr(md5({X}), 1, 15))::BIGINT)"


def _md5num(x: str) -> str:
    return _MD5NUM.format(X=x)


def _ensure_handoffs(sf_dir: str = "/root/testdata/sf0.01") -> None:
    """Insurance for oracle-before-query execution order: if the
    parquet handoffs the scene oracles read are missing, materialize
    them at the documented correctness sf. When the driver runs the
    Spark query first (the normal order) each query fn has already
    (over)written them and this is a no-op."""
    import os

    needed = ["scenes", "osv", "chips_bn", "chips_tiles", "geo_ads", "docs",
              "inc_rasters"]
    if all(
        os.path.exists(f"{_oracle_dir(sf_dir)}/{n}.parquet/_SUCCESS")
        for n in needed
    ):
        return
    from pyrosar_spark.session import get_spark

    spark = get_spark("oracle_handoff")
    _scenes_handoff(spark, sf_dir)
    from pyrosar_spark.datagen import docs_from_corpus, generate_osv
    from pyrosar_spark.operators.chips import assign_chip_tiles, synthetic_chips

    _handoff(generate_osv(spark, 2000, seed=42), "osv", sf_dir)
    chips = synthetic_chips(docs_from_corpus(spark, sf_dir))
    _handoff(chips.select("media_ref", "width", "height", "seed"), "chips_bn", sf_dir)
    _handoff(
        assign_chip_tiles(chips).select(
            "media_ref", "tile_lat", "tile_lon", "tile_id", "ulx", "uly",
            "xres", "yres", "width", "height", "area_or_point", "seed",
        ),
        "chips_tiles",
        sf_dir,
    )
    from pyrosar_spark.datagen import generate_geo_ads

    _handoff(generate_geo_ads(spark, sf_dir), "geo_ads", sf_dir)
    _handoff(docs_from_corpus(spark, sf_dir), "docs", sf_dir)
    from pyrosar_spark.datagen import generate_incidence_rasters

    _handoff(generate_incidence_rasters(spark, sf_dir), "inc_rasters", sf_dir)


def _mask_sql_list(n_hashes: int) -> str:
    """SQL list literal of the engine's deterministic minhash XOR masks."""
    from pyrosar_spark.operators.dedup import minhash_masks

    return "[" + ", ".join(str(m) for m in minhash_masks(n_hashes)) + "]"


def _rect_sat_pred(ring: str, x0: float, y0: float, x1: float, y1: float) -> str:
    """Convex-polygon × axis-aligned-rectangle intersect as SQL
    (separating-axis test; touch-inclusive like the engine's exact
    segment/PIP test): bbox overlap (the rectangle's two axes) AND no
    CCW polygon edge has all four rectangle corners strictly outside.
    """
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    crosses = ", ".join(
        f"(({ring}[2*i+1]-{ring}[2*i-1])*(({qy!r})-{ring}[2*i])"
        f" - ({ring}[2*i+2]-{ring}[2*i])*(({qx!r})-{ring}[2*i-1]))"
        for qx, qy in corners
    )
    return (
        f"(xmin <= {x1!r} AND xmax >= {x0!r} AND ymin <= {y1!r} AND ymax >= {y0!r}"
        f" AND len(list_filter(generate_series(1, len({ring})//2 - 1),"
        f" i -> greatest({crosses}) < 0)) = 0)"
    )


def _haversine_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """Mirror of spatial.haversine_km — identical literal constants and
    operation order so both engines evaluate the same IEEE doubles."""
    p = repr(3.141592653589793 / 180.0)
    two_r = repr(2 * 6371.0088)
    sl = f"sin((({lat2})-({lat1}))*{p}/2)"
    so = f"sin((({lon2})-({lon1}))*{p}/2)"
    return (
        f"{two_r} * asin(sqrt({sl}*{sl}"
        f" + cos(({lat1})*{p})*cos(({lat2})*{p})*{so}*{so}))"
    )


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Unrounded cosine similarity of two embedding-list columns."""
    dot = (
        f"list_reduce([{a}[i]::DOUBLE * {b}[i]::DOUBLE"
        f" FOR i IN generate_series(1, {dim})], (x, y) -> x + y)"
    )
    na = (
        f"sqrt(list_reduce([{a}[i]::DOUBLE * {a}[i]::DOUBLE"
        f" FOR i IN generate_series(1, {dim})], (x, y) -> x + y))"
    )
    nb = (
        f"sqrt(list_reduce([{b}[i]::DOUBLE * {b}[i]::DOUBLE"
        f" FOR i IN generate_series(1, {dim})], (x, y) -> x + y))"
    )
    return f"{dot} / ({na} * {nb})"


def _dot_lit_sql(vec: str, coeffs: list[float]) -> str:
    return " + ".join(f"{vec}[{i + 1}]::DOUBLE*({c!r})" for i, c in enumerate(coeffs))


def _lsh_bucket_sql(vec: str, planes: list[list[float]]) -> str:
    terms = [
        f"(CASE WHEN ({_dot_lit_sql(vec, p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")"


_HGT_NAME = (
    "concat(CASE WHEN la < 0 THEN 'S' ELSE 'N' END, lpad(cast(abs(la) as varchar), 2, '0'), "
    "CASE WHEN lo < 0 THEN 'W' ELSE 'E' END, lpad(cast(abs(lo) as varchar), 3, '0'), '.hgt')"
)


# shared doc tokenization for the dedup/text oracles
_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)
_SHINGLES = (
    "list_distinct(CASE WHEN len(tk) >= 2 THEN "
    "[array_to_string(tk[i:i+1], ' ') FOR i IN generate_series(1, len(tk)-1)] "
    "ELSE [] END)"
)


def oracle_sql() -> dict[str, str]:
    _ensure_handoffs()
    qual = """
      least(cast(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) as double) / 50.0, 1.0) * 0.4
      + round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) as double) / greatest(length(text), 1), 6) * 0.3
      + round(cast(len(list_filter(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''), t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) as double)
              / greatest(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')), 1), 6) * 0.3
      - least(round(cast(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) as double) / greatest(length(text), 1), 6) * 4, 1.0) * 0.2
    """
    sw = {
        "en": "['the','a','of','and','to','in','is','it','that','for']",
        "de": "['der','die','das','und','ist','ein','nicht','mit','auf','zu']",
        "fr": "['le','la','les','et','est','un','une','pas','pour','dans']",
        "es": "['el','la','los','y','es','un','una','no','por','para']",
    }
    ratios = ",\n".join(
        f"round(cast(len(list_filter(tk_l, t -> list_contains({lst}, t))) as double)"
        f" / greatest(len(tk_l), 1), 6) AS r_{lang}"
        for lang, lst in sw.items()
    )
    out = {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(cast(sum(cast(l_quantity as decimal(18,2))) as double), 2) AS sum_qty,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2))) as double), 2) AS sum_base_price,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2
        """,
        "select_eq_range": """
            SELECT o_orderpriority, count(*) AS n,
                   round(cast(sum(cast(o_totalprice as decimal(18,2))) as double), 2) AS total
            FROM orders
            WHERE o_orderstatus = 'O'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <= TIMESTAMP '1996-12-31 00:00:00'
            GROUP BY o_orderpriority ORDER BY 1
        """,
        "select_inlist_like": """
            SELECT p_brand, count(*) AS n,
                   round(cast(sum(cast(p_retailprice as decimal(18,2))) as double), 2) AS total_price
            FROM part
            WHERE p_type IN ('ECONOMY', 'SMALL') AND p_name LIKE '%red%'
            GROUP BY p_brand
        """,
        "revenue_join": """
            SELECT n_name,
                   round(cast(sum(cast(l_extendedprice as decimal(18,2)) * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))) as double), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
        """,
        "anti_customers": """
            SELECT n_name, count(*) AS n_inactive
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
            GROUP BY n_name
        """,
        "semi_suppliers": """
            SELECT n_name, count(*) AS n_active
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_suppkey = s_suppkey
                  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00')
            GROUP BY n_name
        """,
        "topk_per_group": """
            SELECT n_name, c_custkey, round(c_acctbal, 2) AS acctbal, rank FROM (
                SELECT n_name, c_custkey, c_acctbal,
                       row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey ASC) AS rank
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            ) WHERE rank <= 3
        """,
        "dup_routing": """
            SELECT o_orderstatus,
                   cast(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) as bigint) AS n_data,
                   cast(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) as bigint) AS n_dups
            FROM (
                SELECT o_orderstatus,
                       row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey) AS rk
                FROM orders
            ) GROUP BY o_orderstatus ORDER BY 1
        """,
        "session_gap": """
            SELECT user_id, cast(sum(new_sess) as bigint) AS n_sessions, count(*) AS n_events FROM (
                SELECT user_id,
                       coalesce((tsec - lag(tsec) OVER (PARTITION BY user_id ORDER BY tsec) > 1800)::INT, 1) AS new_sess
                FROM (SELECT user_id, cast(floor(epoch(ts)) as bigint) AS tsec FROM events)
            ) GROUP BY user_id ORDER BY user_id
        """,
        "asof_purchase_view": """
            SELECT p_event_id, v_event_id FROM (
                SELECT p.event_id AS p_event_id, v.event_id AS v_event_id,
                       row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) AS rk
                FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                JOIN (SELECT * FROM events WHERE event_type = 'view') v
                  ON p.user_id = v.user_id AND v.ts <= p.ts
            ) WHERE rk = 1
        """,
        "interval_overlap": """
            SELECT o_orderstatus, count(*) AS n
            FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
              AND o_orderdate + INTERVAL 30 DAY > TIMESTAMP '1996-06-01 00:00:00'
            GROUP BY o_orderstatus ORDER BY 1
        """,
        "tile_assign": """
            WITH pts AS (
                SELECT c_custkey,
                       cast((c_custkey * 7) % 360 - 180 + 0.5 as double) AS lon,
                       cast((c_custkey * 13) % 170 - 85 + 0.25 as double) AS lat
                FROM customer
            ), lattice AS (
                SELECT c_custkey, la, lo
                FROM pts,
                     unnest(generate_series(cast(floor(lat - 0.9) as bigint), cast(floor(lat + 0.9) as bigint))) AS t1(la),
                     unnest(generate_series(cast(floor(lon - 1.3) as bigint), cast(floor(lon + 1.3) as bigint))) AS t2(lo)
            )
            SELECT concat(CASE WHEN la < 0 THEN 'S' ELSE 'N' END, lpad(cast(abs(la) as varchar), 2, '0'),
                          CASE WHEN lo < 0 THEN 'W' ELSE 'E' END, lpad(cast(abs(lo) as varchar), 3, '0'),
                          '.hgt') AS tile_id,
                   count(*) AS n_scenes
            FROM lattice GROUP BY 1
        """,
        "intrange_bounds": """
            SELECT n_nationkey,
                   cast(floor(cast(n_nationkey * 3 - 60 as double) / 5) * 5 as int) AS lat_first,
                   cast(ceil((cast(n_nationkey * 3 - 60 as double) + 7.2) / 5) * 5 - 5 as int) AS lat_last
            FROM nation ORDER BY n_nationkey
        """,
        "exact_dedup_docs": """
            SELECT count(*) AS n_groups, cast(sum(n_members) as bigint) AS n_docs,
                   cast(sum(CASE WHEN n_members > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_groups
            FROM (
                SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_members
                FROM documents GROUP BY 1
            )
        """,
        "near_dup_pairs": f"""
            WITH toks AS (
                SELECT doc_id, {_TOKS} AS tk FROM documents
            ), sh AS (
                SELECT doc_id, {_SHINGLES} AS sh FROM toks
            ), hs AS (
                SELECT doc_id, sh, [{_md5num("g")} FOR g IN sh] AS hs
                FROM sh WHERE len(sh) > 0
            ), sigs AS (
                SELECT doc_id, sh,
                       [list_min([xor(h, m) FOR h IN hs]) FOR m IN {_mask_sql_list(16)}] AS sig
                FROM hs
            ), bands AS (
                SELECT doc_id, b AS band,
                       cast(sig[4*b+1] as varchar) || '_' || cast(sig[4*b+2] as varchar) || '_' || cast(sig[4*b+3] as varchar) || '_' || cast(sig[4*b+4] as varchar) AS key
                FROM sigs, unnest(generate_series(0, 3)) AS t(b)
            ), pairs AS (
                SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
            )
            SELECT a, b,
                   round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
                         / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
            FROM pairs JOIN sh sa ON sa.doc_id = a JOIN sh sb ON sb.doc_id = b
            WHERE round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
                        / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.2
        """,
        "token_bpe": r"""
            SELECT source, count(*) AS n_docs,
                   cast(sum(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))) as bigint) AS total_pieces
            FROM documents GROUP BY source ORDER BY source
        """,
        "token_stats": """
            SELECT lang, count(*) AS n_docs,
                   cast(sum(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))) as bigint) AS total_tokens,
                   cast(sum(n_chars) as bigint) AS total_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "quality_by_source": f"""
            SELECT source, count(*) AS n_docs,
                   round(sum(round(greatest(least(({qual}), 1.0), 0.0), 6)), 3) AS quality_sum
            FROM documents GROUP BY source ORDER BY source
        """,
        "lang_id_eval": f"""
            WITH scored AS (
                SELECT lang, {ratios}
                FROM (SELECT lang, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS tk_l FROM documents)
            )
            SELECT lang,
                   CASE WHEN greatest(r_en, r_de, r_fr, r_es) = 0 THEN 'und'
                        WHEN r_en >= r_de AND r_en >= r_fr AND r_en >= r_es THEN 'en'
                        WHEN r_de >= r_fr AND r_de >= r_es THEN 'de'
                        WHEN r_fr >= r_es THEN 'fr'
                        ELSE 'es' END AS lang_guess,
                   count(*) AS n
            FROM scored GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "fingerprints": f"""
            SELECT doc_id,
                   list_min([{_md5num("substr(text, i, 8) || '#0'")}
                             FOR i IN generate_series(1, greatest(length(text) - 7, 1))]) AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 3),
            scored AS (
                SELECT q.q_id, e.vec_id AS item_id,
                       round(
                         list_reduce([e.embedding[i]::DOUBLE * q.q_vec[i]::DOUBLE FOR i IN generate_series(1, 64)], (x, y) -> x + y)
                         / (sqrt(list_reduce([e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE FOR i IN generate_series(1, 64)], (x, y) -> x + y))
                          * sqrt(list_reduce([q.q_vec[i]::DOUBLE * q.q_vec[i]::DOUBLE FOR i IN generate_series(1, 64)], (x, y) -> x + y))), 6) AS cosine_sim
                FROM embeddings e, q WHERE e.vec_id <> q.q_id
            )
            SELECT q_id, item_id, cosine_sim, rank FROM (
                SELECT q_id, item_id, cosine_sim,
                       row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, item_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "embedding_stats": """
            SELECT label, count(*) AS n,
                   round(sum(embedding[1]::DOUBLE), 4) AS sum_d1,
                   round(sum(embedding[2]::DOUBLE), 4) AS sum_d2
            FROM embeddings GROUP BY label ORDER BY label
        """,
        "s1_resolution": """
            WITH p AS (
                SELECT cast(doc_id as varchar) AS doc_id,
                       (3.0e7 + doc_id * 1000.0) AS b_rg,
                       (CASE (doc_id % 10) WHEN 0 THEN 1.54 WHEN 1 THEN 1.32 WHEN 2 THEN 1.3 WHEN 3 THEN 1.28 WHEN 4 THEN 1.27 WHEN 5 THEN 1.24 WHEN 6 THEN 1.18 WHEN 7 THEN 1.16 WHEN 8 THEN 1.15 WHEN 9 THEN 1.13 END) AS k,
                       CASE WHEN doc_id % 2 = 0 THEN 'GROUND_RANGE' ELSE 'SLANT_RANGE' END AS geom,
                       29.0 + cast(doc_id % 17 as double) AS incidence,
                       doc_id AS did
                FROM documents
            )
            SELECT doc_id,
                   round(CASE WHEN geom = 'GROUND_RANGE'
                              THEN (0.886 * 299792458.0 / (2 * b_rg) * k * 1.0) / sin(radians(incidence))
                              ELSE 0.886 * 299792458.0 / (2 * b_rg) * k * 1.0 END, 6) AS resolution_rg,
                   round(0.886 * (10.0 / 0.002) / 300.0 * k * 1.0, 6) AS resolution_az
            FROM p ORDER BY did
        """,
        "binparse_fixed": """
            SELECT doc_id,
                   cast(trim(substr(rec, 1, 8)) as bigint) AS rec_doc_id,
                   cast(trim(substr(rec, 9, 8)) as bigint) AS rec_chars,
                   trim(substr(rec, 17, 8)) AS rec_lang
            FROM (
                SELECT doc_id,
                       rpad(lpad(cast(doc_id as varchar), 8, '0')
                            || lpad(cast(n_chars as varchar), 8, ' ')
                            || rpad(lang, 8, ' ')
                            || text, 2000, ' ') AS rec
                FROM documents
            ) ORDER BY doc_id
        """,
        "media_decode": f"""
            SELECT doc_id,
                   cast(octet_length(encode(text)) as int) AS n_bytes,
                   cast(1 + h % 512 as int) AS width,
                   cast(1 + (h % 262144) // 512 as int) AS height,
                   cast(1 + h % 3 as int) AS channels
            FROM (SELECT doc_id, text, {_md5num("text")} AS h FROM documents)
            ORDER BY doc_id
        """,
        # per-byte 16-bucket histogram: ascii(char) == byte because the
        # corpus is pure ASCII (asserted by the parity of octet_length
        # and length in media_decode); zero-count buckets materialized
        # via the cross-joined bucket grid
        "media_features": """
            WITH cnt AS (
                SELECT doc_id, (ascii(substr(text, i, 1)) * 16) // 256 AS bucket,
                       count(*) AS c
                FROM documents, unnest(range(1, length(text) + 1)) AS u(i)
                GROUP BY 1, 2
            ), grid AS (
                -- length(text) > 0 mirrors posexplode dropping the
                -- NULL feature vector of an empty/NULL-text doc
                SELECT d.doc_id, octet_length(encode(d.text)) AS n_bytes, g.bucket
                FROM documents d
                CROSS JOIN (SELECT unnest(range(0, 16)) AS bucket) g
                WHERE length(d.text) > 0
            )
            SELECT grid.doc_id,
                   cast(grid.n_bytes as int) AS n_bytes,
                   cast(grid.bucket as int) AS bucket,
                   coalesce(c.c, 0)::double / grid.n_bytes AS frac
            FROM grid
            LEFT JOIN cnt c ON c.doc_id = grid.doc_id AND c.bucket = grid.bucket
            ORDER BY grid.doc_id, grid.bucket
        """,
        "media_frames": f"""
            SELECT doc_id,
                   cast(n_frames as int) AS n_frames,
                   cast(fps as int) AS fps,
                   cast(fi as int) AS frame_idx,
                   cast((fi * 1000) // fps as bigint) AS ts_ms
            FROM (SELECT doc_id, 1 + h % 240 AS n_frames, 12 + 6 * (h % 4) AS fps
                  FROM (SELECT doc_id, {_md5num("text")} AS h FROM documents)),
                 unnest(generate_series(0, n_frames - 1, 7)) AS u(fi)
            ORDER BY doc_id, frame_idx
        """,
        # fake-resizer math: dims from the shared md5 convention,
        # aspect-preserving floor-division downscale capped at 256;
        # out_bytes = len('resized:{{ow}}x{{oh}}:') + 32 md5-hex chars
        "media_resize": f"""
            SELECT doc_id,
                   cast(w as int) AS width, cast(ht as int) AS height,
                   cast(ow as int) AS out_width, cast(oh as int) AS out_height,
                   cast(length('resized:' || ow || 'x' || oh || ':') + 32 as int)
                       AS out_bytes
            FROM (
                SELECT doc_id, w, ht,
                       CASE WHEN greatest(w, ht) <= 256 THEN w
                            ELSE greatest(1, (w * 256) // greatest(w, ht)) END AS ow,
                       CASE WHEN greatest(w, ht) <= 256 THEN ht
                            ELSE greatest(1, (ht * 256) // greatest(w, ht)) END AS oh
                FROM (SELECT doc_id, 1 + h % 512 AS w, 1 + (h % 262144) // 512 AS ht
                      FROM (SELECT doc_id, {_md5num("text")} AS h FROM documents))
            )
            ORDER BY doc_id
        """,
    }
    out["xmlparse_safe"] = """
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'S1A' ELSE 'S1B' END AS sensor,
               CASE WHEN doc_id % 3 = 0 THEN 'IW' WHEN doc_id % 3 = 1 THEN 'EW' ELSE 'S3' END AS acquisition_mode,
               'GRD' AS product,
               CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'D' END AS orbit,
               '201503' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'
                 || lpad(cast(doc_id % 24 as varchar), 2, '0')
                 || lpad(cast(doc_id % 60 as varchar), 2, '0')
                 || lpad(cast((doc_id*7) % 60 as varchar), 2, '0') AS start,
               '201503' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'
                 || lpad(cast((doc_id*3) % 24 as varchar), 2, '0')
                 || lpad(cast((doc_id*5) % 60 as varchar), 2, '0')
                 || lpad(cast((doc_id*11) % 60 as varchar), 2, '0') AS stop,
               cast(1000 + doc_id as int) AS orbitNumber_abs,
               cast(doc_id % 175 + 1 as int) AS orbitNumber_rel,
               cast(doc_id % 60 + 1 as int) AS cycleNumber,
               CASE WHEN doc_id % 2 = 0 THEN 'VH/VV' ELSE 'HH/HV' END AS pols,
               (cast(doc_id % 300 as double) - 150 + 0.5) AS xmin,
               ((cast(doc_id % 300 as double) - 150 + 0.5) + 3.9) AS xmax,
               ((cast(doc_id % 120 as double) - 60 + 0.25) - 0.4) AS ymin,
               ((cast(doc_id % 120 as double) - 60 + 0.25) + 1.5) AS ymax,
               concat_ws('_',
                 rpad(CASE WHEN doc_id % 2 = 0 THEN 'S1A' ELSE 'S1B' END, 4, '_'),
                 rpad(CASE WHEN doc_id % 3 = 0 THEN 'IW' WHEN doc_id % 3 = 1 THEN 'EW' ELSE 'S3' END, 4, '_'),
                 CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'D' END,
                 '201503' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'
                   || lpad(cast(doc_id % 24 as varchar), 2, '0')
                   || lpad(cast(doc_id % 60 as varchar), 2, '0')
                   || lpad(cast((doc_id*7) % 60 as varchar), 2, '0')) AS outname_base
        FROM documents ORDER BY doc_id
    """
    out["ers_pass"] = """
        WITH p AS (
            SELECT CASE WHEN n_nationkey % 2 = 0 THEN 'ERS1' ELSE 'ERS2' END AS psensor,
                   substr('ABCDE', cast(n_nationkey % 5 + 1 as int), 1) AS phase,
                   cast(n_nationkey as int) AS cycle,
                   strftime(TIMESTAMP '1995-01-01 00:00:00' + ((n_nationkey % 20) * 30) * INTERVAL 1 DAY, '%Y%m%dT%H%M%S') AS pstart,
                   strftime(TIMESTAMP '1995-01-01 00:00:00' + ((n_nationkey % 20) * 30 + 45) * INTERVAL 1 DAY, '%Y%m%dT%H%M%S') AS pstop
            FROM nation
        ), s AS (
            SELECT c_custkey AS doc_id,
                   CASE WHEN c_custkey % 4 = 0 THEN 'ERS2' ELSE 'ERS1' END AS ssensor,
                   strftime(TIMESTAMP '1995-01-01 00:00:00' + (c_custkey % 700) * INTERVAL 1 DAY, '%Y%m%dT%H%M%S') AS t
            FROM customer
        ), cand AS (
            SELECT s.doc_id, p.phase, p.cycle, p.psensor AS pass_sensor, p.pstart, s.ssensor
            FROM s LEFT JOIN p
              ON s.t >= p.pstart AND s.t <= p.pstop
             AND (p.psensor = s.ssensor OR (s.ssensor = 'ERS1' AND p.psensor = 'ERS2'))
        )
        SELECT doc_id, phase, cycle, pass_sensor FROM (
            SELECT doc_id, phase, cycle, pass_sensor,
                   row_number() OVER (PARTITION BY doc_id ORDER BY
                       (pass_sensor IS NULL)::INT,
                       (pass_sensor <> ssensor)::INT,
                       pstart DESC, phase ASC, cycle ASC) AS rk
            FROM cand
        ) WHERE rk = 1 ORDER BY doc_id
    """
    out.update(_scene_oracle_sqls())
    out.update(_ann_oracle_sqls())
    out.update(_pixel_oracle_sqls())
    out.update(_odc_oracle_sqls())
    out.update(_format_oracle_sqls())
    out.update(_stream_and_pipeline_oracle_sqls())
    out.update(_text_r5_oracle_sqls())
    out.update(_sampling_oracle_sqls(qual))
    # connected components over the SAME pair SQL the near-dup oracle
    # runs: recursive-CTE transitive closure, min reachable id per
    # vertex — the declarative mirror of the engine's iterative
    # min-label propagation
    out["dedup_clusters"] = f"""
        WITH RECURSIVE nd AS ({out['near_dup_pairs']}),
        edges AS (
            SELECT a AS src, b AS dst FROM nd
            UNION
            SELECT b, a FROM nd
        ),
        reach(v, r) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON reach.v = e.dst
        ),
        roots AS (SELECT v, min(r) AS cluster_id FROM reach GROUP BY v)
        SELECT v, cluster_id,
               cast(count(*) OVER (PARTITION BY cluster_id) as bigint)
               AS cluster_size
        FROM roots ORDER BY v
    """
    return out


def _stream_and_pipeline_oracle_sqls() -> dict[str, str]:
    """Oracles for the round-4 queries: the two STREAMING queries plus
    the training-pipeline extensions (``contamination``,
    ``pack_bins``; ``dedup_clusters`` composes over the near-dup SQL in
    ``oracle_sql`` itself). The streaming executions are incremental
    (file-stream source, stateful agg, AvailableNow drain) but their
    final complete-mode output is deterministic, so exact batch SQL
    applies:

     - ``stream_sessions``: gap-and-islands sessionization. Spark's
       ``session_window`` merges an event into a session iff it falls
       inside the half-open window [start, last+gap), so a NEW session
       starts when the µs delta to the previous event is >= the gap.
     - ``stream_ingest_keys``: the span parse re-derived from the raw
       docs handoff entirely in SQL — first scene_meta span via
       list_filter, json_extract of the payload after the '|', the
       rpad-4 outname_base build (naming.py:42) — checking the
       streaming docs_to_scenes against an independent parser.
    """
    gap_us = 1800 * 1_000_000
    return {
        "stream_sessions": f"""
            WITH e AS (
                SELECT user_id, epoch_us(ts) AS t, value FROM events
            ), f AS (
                SELECT user_id, t, value,
                       CASE WHEN lag(t) OVER w IS NULL
                                 OR t - lag(t) OVER w >= {gap_us}
                            THEN 1 ELSE 0 END AS new_sess
                FROM e
                WINDOW w AS (PARTITION BY user_id ORDER BY t)
            ), g AS (
                SELECT user_id, t, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS sid
                FROM f
            )
            SELECT user_id,
                   min(t) AS session_start_us,
                   max(t) + {gap_us} AS session_end_us,
                   count(*) AS n_events,
                   CAST(round(sum(CAST(value AS DECIMAL(30,10))), 4)
                        AS DOUBLE) AS sum_value
            FROM g GROUP BY user_id, sid
            ORDER BY user_id, session_start_us
        """,
        "contamination": f"""
            WITH ev0 AS (
                SELECT doc_id AS eval_id FROM documents
                ORDER BY {_md5num("cast(doc_id as varchar) || '#0'")}, doc_id
                LIMIT 5
            ), evtxt AS (
                SELECT e.eval_id,
                       array_to_string(
                         list_filter(string_split_regex(d.text, '\\s+'),
                                     x -> x <> '')[3:42], ' ') AS text
                FROM ev0 e JOIN documents d ON d.doc_id = e.eval_id
            ), evtok AS (
                SELECT eval_id, {_TOKS} AS tk FROM evtxt
            ), evh AS (
                SELECT DISTINCT eval_id, h FROM (
                    SELECT eval_id,
                           unnest([{_md5num("g || '#0'")} FOR g IN
                             list_distinct(CASE WHEN len(tk) >= 13 THEN
                               [array_to_string(tk[i:i+12], ' ')
                                FOR i IN generate_series(1, len(tk)-12)]
                             ELSE [] END)]) AS h
                    FROM evtok)
            ), trtok AS (
                SELECT doc_id, {_TOKS} AS tk FROM documents
            ), trh AS (
                SELECT DISTINCT doc_id, h FROM (
                    SELECT doc_id,
                           unnest([{_md5num("g || '#0'")} FOR g IN
                             list_distinct(CASE WHEN len(tk) >= 13 THEN
                               [array_to_string(tk[i:i+12], ' ')
                                FOR i IN generate_series(1, len(tk)-12)]
                             ELSE [] END)]) AS h
                    FROM trtok)
            )
            SELECT t.doc_id, cast(count(*) as bigint) AS n_hits,
                   '[' || array_to_string(
                     list_sort(list_distinct(list(e.eval_id))), ',') || ']'
                   AS eval_ids
            FROM trh t JOIN evh e ON t.h = e.h
            GROUP BY t.doc_id ORDER BY t.doc_id
        """,
        "pack_bins": f"""
            WITH t AS (
                SELECT source, doc_id,
                       len(list_filter(string_split_regex(text, '\\s+'),
                                       x -> x <> '')) AS tokens,
                       cast({_md5num("cast(doc_id as varchar) || '#0'")} % 2
                            as int) AS shard
                FROM documents
            ), c AS (
                SELECT source, doc_id, shard, tokens,
                       sum(tokens) OVER (PARTITION BY source, shard
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM t
            )
            SELECT source, shard, cast((cum - tokens) // 512 as bigint) AS bin_id,
                   cast(count(*) as bigint) AS n_docs,
                   cast(sum(tokens) as bigint) AS bin_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY source, shard, bin_id
            ORDER BY source, shard, bin_id
        """,
        "stream_ingest_keys": f"""
            WITH m AS (
                SELECT list_filter(spans, x -> x.kind = 'scene_meta')[1].text
                       AS t
                FROM {_oracle_scan('docs')}
            ), j AS (
                SELECT substr(t, strpos(t, '|') + 1) AS p FROM m
                WHERE t IS NOT NULL
            ), f AS (
                SELECT json_extract_string(p, '$.sensor') AS sensor,
                       json_extract_string(p, '$.acquisition_mode') AS mode,
                       json_extract_string(p, '$.orbit') AS orbit,
                       json_extract_string(p, '$.start') AS "start",
                       json_extract_string(p, '$.product') AS product
                FROM j
            )
            SELECT product,
                   concat_ws('_', rpad(sensor, 4, '_'), rpad(mode, 4, '_'),
                             orbit, "start") AS outname_base,
                   count(*) AS n
            FROM f WHERE sensor IS NOT NULL
            GROUP BY product, outname_base
            ORDER BY product, outname_base
        """,
    }


def _text_r5_oracle_sqls() -> dict[str, str]:
    """Round-5 text-pipeline oracles: span byte-identity, Gopher
    repetition, tf-idf. Each re-derives the answer from first
    principles in DuckDB (direct list render of the stored spans; an
    O(g²) distinct-gram count instead of the engine's run-length scan;
    the same smooth-idf formula in identical IEEE op order)."""
    span_render = (
        "s['kind'] || chr(1) || s['text'] || chr(1) || s['media_ref']"
        " || chr(1) || s['offset']::VARCHAR"
    )
    return {
        "span_roundtrip": f"""
            SELECT doc_id,
                   cast(len(spans) as bigint) AS n_spans,
                   md5(array_to_string(
                     list_transform(spans, s -> {span_render}), chr(2)))
                   AS digest
            FROM {_oracle_scan('docs')}
            ORDER BY doc_id
        """,
        "repetition_stats": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS tk FROM documents
            ), g AS (
                SELECT doc_id, tk,
                       CASE WHEN len(tk) >= 2 THEN
                         [tk[i] || ' ' || tk[i+1]
                          FOR i IN generate_series(1, len(tk)-1)]
                       ELSE [] END AS gr
                FROM t
            ), m AS (
                SELECT doc_id, tk, gr,
                       CASE WHEN len(gr) > 0 THEN
                         list_max(list_transform(list_distinct(gr),
                           d -> len(list_filter(gr, x -> x = d))))
                       ELSE 0 END AS topc
                FROM g
            )
            SELECT doc_id,
                   cast(len(tk) as bigint) AS n_tokens,
                   round(CASE WHEN len(gr) > 0 THEN
                           1.0 - len(list_distinct(gr))::DOUBLE / len(gr)
                         ELSE 0.0 END, 6) AS dup_2gram_frac,
                   cast(topc as bigint) AS top_2gram_count,
                   round(CASE WHEN len(tk) > 0 THEN
                           least(topc * 2.0 / len(tk), 1.0)
                         ELSE 0.0 END, 6) AS top_2gram_frac
            FROM m ORDER BY doc_id
        """,
        "dimap_incidence": f"""
            WITH r AS (
                SELECT doc_id,
                       list_filter(e_px, x -> x <> 0) AS nz
                FROM {_oracle_scan('inc_rasters')}
            )
            SELECT d.doc_id,
                   round(CASE
                     WHEN d.doc_id % 7 = 0 THEN
                       list_aggregate(r.nz, 'sum') / len(r.nz)
                     WHEN d.doc_id % 5 = 0 THEN
                       ((20 + d.doc_id % 10) + (30 + d.doc_id % 10)) / 2.0
                     ELSE
                       ((20 + d.doc_id % 10) + (40 + d.doc_id % 10)) / 2.0
                   END, 6) AS incidence,
                   CASE WHEN d.doc_id % 7 = 0 THEN 'raster'
                        WHEN d.doc_id % 5 = 0 THEN 'metadata_mid'
                        ELSE 'metadata_nf' END AS inc_source
            FROM documents d LEFT JOIN r USING (doc_id)
            ORDER BY d.doc_id
        """,
        "tfidf_top_terms": f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS tk FROM documents
            ), tok AS (
                SELECT doc_id, len(tk) AS n, unnest(tk) AS term FROM t
            ), tf AS (
                SELECT doc_id, term, count(*) AS c, any_value(n) AS n
                FROM tok GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, count(*) AS dfc FROM tf GROUP BY term
            ), nd AS (
                SELECT count(*) AS ndocs FROM t
            ), s AS (
                SELECT tf.doc_id, tf.term,
                       round((c::DOUBLE / n)
                             * (ln((ndocs + 1.0) / (dfc + 1.0)) + 1.0), 6)
                       AS tfidf
                FROM tf JOIN dfq USING (term) CROSS JOIN nd
            ), r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
                FROM s
            )
            SELECT doc_id, cast(rank as bigint) AS rank, term, tfidf
            FROM r WHERE rank <= 3 ORDER BY doc_id, rank
        """,
    }


def _format_oracle_sqls() -> dict[str, str]:
    """First-principles mirrors of the round-3 format-dialect queries
    (every field recomputed from doc_id arithmetic, no XML/text parse
    on the DuckDB side)."""
    stamp = (
        "'2015' || lpad(cast(doc_id % 12 + 1 as varchar), 2, '0')"
        " || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'"
        " || lpad(cast(doc_id % 24 as varchar), 2, '0')"
        " || lpad(cast(doc_id % 60 as varchar), 2, '0')"
        " || lpad(cast((doc_id*7) % 60 as varchar), 2, '0')"
    )
    tsx_start = (
        "'201409' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'"
        " || lpad(cast(doc_id % 24 as varchar), 2, '0')"
        " || lpad(cast(doc_id % 60 as varchar), 2, '0')"
        " || lpad(cast((doc_id*7) % 60 as varchar), 2, '0')"
    )
    tsx_stop = (
        "'201409' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'"
        " || lpad(cast((doc_id*3) % 24 as varchar), 2, '0')"
        " || lpad(cast((doc_id*5) % 60 as varchar), 2, '0')"
        " || lpad(cast((doc_id*11) % 60 as varchar), 2, '0')"
    )
    tdm_start = tsx_start.replace("'201409'", "'201410'")
    tdm_stop = tsx_stop.replace("'201409'", "'201410'")
    return {
        "xmlparse_dimap": f"""
            WITH b AS (
                SELECT doc_id, doc_id % 2 = 0 AS is_s1,
                       CASE (doc_id % 3) WHEN 0 THEN 'IMS' WHEN 1 THEN 'IMP' ELSE 'WSM' END AS env_mode,
                       cast(doc_id % 120 as double) - 60 AS lat0,
                       cast(doc_id % 300 as double) - 150 AS lon0,
                       {stamp} AS stamp
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN is_s1 THEN 'S1A' ELSE 'ASAR' END AS sensor,
                   CASE WHEN is_s1 THEN 'IW' ELSE env_mode END AS acquisition_mode,
                   CASE WHEN is_s1 THEN 'GRD' WHEN env_mode = 'IMS' THEN 'SLC'
                        WHEN env_mode = 'IMP' THEN 'PRI' ELSE 'MR' END AS product,
                   CASE WHEN doc_id % 3 = 0 THEN 'A' ELSE 'D' END AS orbit,
                   stamp AS start,
                   cast(2000 + doc_id as int) AS orbitNumber_abs,
                   cast(doc_id % 431 + 1 as int) AS orbitNumber_rel,
                   cast(CASE WHEN is_s1 THEN doc_id % 60 + 1 ELSE doc_id % 80 + 1 END as int) AS cycleNumber,
                   cast(CASE WHEN doc_id % 3 = 0 THEN 5000 + doc_id ELSE 2000 + doc_id END as int) AS frameNumber,
                   cast(20000 + doc_id % 9000 as int) AS samples,
                   cast(12000 + doc_id % 7000 as int) AS lines,
                   CASE WHEN doc_id % 2 = 0 THEN 'SLANT_RANGE' ELSE 'GROUND_RANGE' END AS image_geometry,
                   round(cast(CASE WHEN doc_id % 5 = 0 THEN 25 + doc_id % 10
                                   ELSE 30 + doc_id % 10 END as double), 6) AS incidence,
                   'VH/VV' AS pols,
                   lon0 - 0.5 AS xmin, lon0 + 3.5 AS xmax,
                   lat0 AS ymin, lat0 + 1.9 AS ymax,
                   concat_ws('_',
                       rpad(CASE WHEN is_s1 THEN 'S1A' ELSE 'ASAR' END, 4, '_'),
                       rpad(CASE WHEN is_s1 THEN 'IW' ELSE env_mode END, 4, '_'),
                       CASE WHEN doc_id % 3 = 0 THEN 'A' ELSE 'D' END,
                       stamp) AS outname_base
            FROM b ORDER BY doc_id
        """,
        "xmlparse_tsx": f"""
            WITH b AS (
                SELECT doc_id,
                       cast(doc_id % 360 as double) AS l1,
                       cast(doc_id % 160 as double) - 80 AS la1,
                       {tsx_start} AS strt, {tsx_stop} AS stp,
                       CASE (doc_id % 3) WHEN 0 THEN 'SM' WHEN 1 THEN 'HS' ELSE 'SL' END AS mode,
                       CASE WHEN doc_id % 2 = 0 THEN 'TSX1' ELSE 'TDX1' END AS sens,
                       CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'D' END AS orb
                FROM documents
            ), s AS (
                SELECT *,
                       CASE WHEN l1 > 180 THEN l1 - 360 ELSE l1 END AS s1,
                       CASE WHEN l1 + 0.6 > 180 THEN l1 + 0.6 - 360 ELSE l1 + 0.6 END AS s2
                FROM b
            )
            SELECT doc_id, sens AS sensor,
                   CASE WHEN doc_id % 3 = 0 THEN 'SSC' ELSE 'MGD' END AS product,
                   orb AS orbit, 'HH/VV' AS pols,
                   cast(15000 + doc_id as int) AS orbitNumber_abs,
                   cast(doc_id % 167 + 1 as int) AS orbitNumber_rel,
                   cast(doc_id % 90 + 1 as int) AS cycleNumber,
                   cast(100000 + doc_id as int) AS frameNumber,
                   mode AS acquisition_mode, strt AS start, stp AS stop,
                   cast(0.9 as double) AS spacing_rg, cast(1.25 as double) AS spacing_az,
                   cast(10000 + doc_id % 5000 as int) AS samples,
                   cast(9000 + doc_id % 6000 as int) AS lines,
                   cast(20 + doc_id % 25 as double) AS incidence,
                   least(s1, s2) AS xmin, greatest(s1, s2) AS xmax,
                   la1 AS ymin, la1 + 0.8 AS ymax,
                   concat_ws('_', rpad(sens, 4, '_'), rpad(mode, 4, '_'), orb, strt) AS outname_base
            FROM s ORDER BY doc_id
        """,
        "xmlparse_tdm": f"""
            WITH b AS (
                SELECT doc_id,
                       cast(doc_id % 140 as double) - 70 AS lat0,
                       cast(doc_id % 320 as double) - 160 AS lon0,
                       {tdm_start} AS strt, {tdm_stop} AS stp,
                       CASE WHEN doc_id % 4 = 0 THEN 'A' ELSE 'D' END AS orb
                FROM documents
            )
            SELECT doc_id, 'TDM1' AS sensor, 'CoSSC' AS product,
                   'TSX-1' AS SAT1, 'TDX-1' AS SAT2,
                   CASE WHEN doc_id % 2 = 0 THEN 'SAT1' ELSE 'SAT2' END AS inSARmasterID,
                   CASE WHEN doc_id % 2 = 0 THEN 'TSX1' ELSE 'TDX1' END AS inSARmaster,
                   cast(700 + doc_id as int) AS acquisitionItemID,
                   cast(100.0 as double) + cast(doc_id % 50 as double) AS effectiveBaseline,
                   cast(30.0 as double) + cast(doc_id % 40 as double) AS heightOfAmbiguity,
                   CASE WHEN doc_id % 3 = 0 THEN 'BISTATIC' ELSE 'monostatic' END AS cooperativeMode,
                   doc_id % 3 = 0 AS bistatic,
                   orb AS orbit,
                   cast(20000 + doc_id as int) AS orbitNumber_abs,
                   'SM' AS acquisition_mode, strt AS start, stp AS stop,
                   cast(8000 + doc_id % 3000 as int) AS samples,
                   cast(7000 + doc_id % 4000 as int) AS lines,
                   cast(25 + doc_id % 20 as double) AS incidence,
                   lon0 AS xmin, lon0 + 1.1 AS xmax,
                   lat0 AS ymin, lat0 + 0.9 AS ymax,
                   concat_ws('_', 'TDM1', 'SM__', orb, strt) AS outname_base
            FROM b ORDER BY doc_id
        """,
        "geogrid_parse": f"""
            SELECT doc_id, e_grp[i] AS grp, e_idx[i] AS idx,
                   e_line_num AS line_num, e_num_lines AS num_lines,
                   round(e_first_time, 6) AS first_time_sec,
                   round(e_last_time, 6) AS last_time_sec,
                   e_sub_sat AS sub_sat_track, e_swath AS swath,
                   e_sample[i] AS sample_number,
                   e_slant[i] AS slant_range_time,
                   e_inc[i] AS incident_angle,
                   e_lat[i] AS latitude, e_lon[i] AS longitude
            FROM {_oracle_scan("geo_ads")},
                 unnest(generate_series(1, 22)) t(i)
            ORDER BY doc_id, grp, idx
        """,
        "txtparse_psr": """
            WITH b AS (
                SELECT doc_id,
                       cast(doc_id % 100 as double) - 50 AS la,
                       cast(doc_id % 340 as double) - 170 AS lo,
                       '201409' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') AS strt,
                       CASE WHEN doc_id % 2 = 0 THEN 'FBD' ELSE 'FBS' END AS mode,
                       CASE WHEN doc_id % 2 = 0 THEN 'A' ELSE 'D' END AS orb,
                       cast(doc_id % 20 + 1 as int) AS cyc,
                       cast(doc_id % 207 + 1 as int) AS rel
                FROM documents
            )
            SELECT doc_id, 'PSR2' AS sensor, '1.5' AS product,
                   mode AS acquisition_mode, orb AS orbit, strt AS start,
                   cast(207 * (cyc - 1) + rel as int) AS orbitNumber_abs,
                   rel AS orbitNumber_rel, cyc AS cycleNumber,
                   cast(10000 + doc_id % 5000 as int) AS samples,
                   cast(11000 + doc_id % 4000 as int) AS lines,
                   cast(30.0 as double) + cast(doc_id % 15 as double) AS incidence,
                   cast(6.25 as double) AS spacing_rg, cast(6.25 as double) AS spacing_az,
                   cast(-83.0 as double) AS k_dB, 'EORC' AS proc_facility,
                   lo - 0.7 AS xmin, lo AS xmax,
                   la - 0.8 AS ymin, la AS ymax,
                   concat_ws('_', 'PSR2', rpad(mode, 4, '_'), orb, strt) AS outname_base
            FROM b ORDER BY doc_id
        """,
    }


def _scene_oracle_sqls() -> dict[str, str]:
    """Independent SQL implementations of the scene-engine semantics
    over the parquet handoff written by the query fns (see the
    scene-query section docstring)."""
    s_scan = _oracle_scan("scenes")
    osv_scan = _oracle_scan("osv")
    sat_west = _rect_sat_pred("ring", *AOI_RECTS["west"])
    sj_parts = " UNION ALL ".join(
        f"SELECT doc_id, '{name}' AS aoi_id FROM s WHERE "
        + _rect_sat_pred("ring", *rect)
        for name, rect in AOI_RECTS.items()
    )
    return {
        "scene_select_tiles": f"""
            WITH s AS (SELECT doc_id, xmin, xmax, ymin, ymax, ring FROM {s_scan}),
            hits AS (SELECT doc_id, xmin, xmax, ymin, ymax FROM s WHERE {sat_west}),
            lattice AS (
                SELECT doc_id, la, lo FROM hits,
                  unnest(generate_series(cast(floor(ymin) as bigint), cast(floor(ymax) as bigint))) t1(la),
                  unnest(generate_series(cast(floor(xmin) as bigint), cast(floor(xmax) as bigint))) t2(lo)
            )
            SELECT {_HGT_NAME} AS tile_id, count(*) AS n_scenes
            FROM lattice GROUP BY 1
        """,
        "scene_spatial_join": f"""
            WITH s AS (SELECT doc_id, xmin, xmax, ymin, ymax, ring FROM {s_scan})
            {sj_parts}
        """,
        "scene_knn": f"""
            WITH s AS (SELECT doc_id, (xmin + xmax)/2 AS cx, (ymin + ymax)/2 AS cy FROM {s_scan}),
            home AS (SELECT doc_id, cx, cy,
                            cast(floor(cy / 1.0) as bigint) AS la,
                            cast(floor(cx / 1.0) as bigint) AS lo FROM s),
            probe AS (SELECT doc_id AS q_id, cx AS q_cx, cy AS q_cy,
                             (greatest(least(la + dy, 89), -90) + 90)*360 + (((lo + dx + 180) % 360) + 360) % 360 AS cell
                      FROM home, unnest([-1, 0, 1]) t1(dy), unnest([-1, 0, 1]) t2(dx)),
            idx AS (SELECT doc_id AS n_id, cx AS n_cx, cy AS n_cy,
                           (la + 90)*360 + (((lo + 180) % 360) + 360) % 360 AS cell FROM home),
            cand AS (SELECT DISTINCT q_id, n_id, q_cx, q_cy, n_cx, n_cy
                     FROM probe JOIN idx USING (cell) WHERE q_id <> n_id),
            d AS (SELECT q_id, n_id,
                         {_haversine_sql("q_cy", "q_cx", "n_cy", "n_cx")} AS dist
                  FROM cand)
            SELECT q_id, n_id, round(dist, 6) AS dist_km, rank FROM (
                SELECT q_id, n_id, dist,
                       row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, n_id ASC) AS rank
                FROM d
            ) WHERE rank <= 3
        """,
        "scene_osv_asof": f"""
            WITH s AS (SELECT doc_id, start, sensor FROM {s_scan}),
            o AS (SELECT sensor AS osensor, type, publish, start AS ostart, stop AS ostop, filename
                  FROM {osv_scan} WHERE type IN ('POE', 'RES')),
            cand AS (SELECT s.doc_id, o.filename AS osv_filename, o.type AS osv_type,
                            o.publish AS osv_publish
                     FROM s LEFT JOIN o
                       ON s.start >= o.ostart AND s.start <= o.ostop AND o.osensor = s.sensor)
            SELECT doc_id, osv_filename, osv_type, osv_publish FROM (
                SELECT doc_id, osv_filename, osv_type, osv_publish,
                       row_number() OVER (PARTITION BY doc_id ORDER BY
                           (osv_type IS NULL)::INT,
                           CASE WHEN osv_type = 'POE' THEN 0 ELSE 1 END,
                           osv_publish DESC, osv_filename ASC) AS rk
                FROM cand
            ) WHERE rk = 1 ORDER BY doc_id
        """,
        "scene_sessions": f"""
            WITH flagged AS (
                SELECT orbitNumber_rel, tsec,
                       coalesce((tsec - lag(tsec) OVER (PARTITION BY orbitNumber_rel ORDER BY tsec) > 3600.0)::INT, 0) AS newf
                FROM {s_scan}
            ), sess AS (
                SELECT orbitNumber_rel,
                       cast(sum(newf) OVER (PARTITION BY orbitNumber_rel ORDER BY tsec
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 as bigint) AS session_id
                FROM flagged
            )
            SELECT orbitNumber_rel, session_id, count(*) AS n
            FROM sess GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "geolocation_grid": f"""
            WITH g AS (
                SELECT doc_id, lines, samples, xmin, xmax, ymin, ymax, gi, gj
                FROM {s_scan},
                  unnest(generate_series(0, 1)) t1(gi),
                  unnest(generate_series(0, 10)) t2(gj)
            ), pts AS (
                SELECT doc_id,
                       cast(trunc((gi/1) * (lines - 1)) as int) AS line,
                       cast(trunc((gj/10) * (samples - 1)) as int) AS pixel,
                       xmin + (gj/10) * (xmax - xmin) AS lon,
                       ymax - (gi/1) * (ymax - ymin) AS lat,
                       19.0 + (gj/10) * (45.0 - 19.0) AS inc
                FROM g
            )
            SELECT doc_id, count(*) AS n_points,
                   cast(sum(line) as bigint) AS sum_line,
                   cast(sum(pixel) as bigint) AS sum_pixel,
                   min(inc) AS incidence_min, max(inc) AS incidence_max,
                   cast(sum(cast(round(lon * 1e6, 0) as bigint)) as bigint) AS sum_lon_micro,
                   cast(sum(cast(round(lat * 1e6, 0) as bigint)) as bigint) AS sum_lat_micro
            FROM pts GROUP BY doc_id ORDER BY doc_id
        """,
        "simhash_pairs": f"""
            WITH toks AS (
                -- NULL text propagates NULL in the engine (both
                -- kernels, round 4): NULL-text docs emit no pairs
                SELECT doc_id, {_TOKS} AS tk FROM documents
                WHERE text IS NOT NULL
            ), hs AS (
                SELECT doc_id, [{_md5num("t || '#0'")} FOR t IN tk] AS hs FROM toks
            ), sim AS (
                SELECT doc_id,
                       list_reduce(
                         [CASE WHEN coalesce(list_sum([CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]), 0) > 0
                               THEN (1::BIGINT << b) ELSE 0::BIGINT END
                          FOR b IN generate_series(0, 59)],
                         (a, x) -> a + x) AS sh
                FROM hs
            ), blocks AS (
                SELECT doc_id, sh, i AS blk, (sh >> (i*16)) & 65535 AS val
                FROM sim, unnest([0, 1, 2, 3]) t(i)
            ), pairs AS (
                SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.sh AS sha, r.sh AS shb
                FROM blocks l JOIN blocks r ON l.blk = r.blk AND l.val = r.val AND l.doc_id < r.doc_id
            )
            SELECT a, b, cast(bit_count(xor(sha, shb)) as int) AS hamming
            FROM pairs WHERE bit_count(xor(sha, shb)) <= 3 ORDER BY a, b
        """,
    }


def _ann_oracle_sqls() -> dict[str, str]:
    from pyrosar_spark.operators.similarity import _hyperplane

    table_parts = []
    for t in range(3):
        planes = [_hyperplane(64, b, 42 + 1000 * t) for b in range(6)]
        bexpr = _lsh_bucket_sql("embedding", planes)
        table_parts.append(
            f"SELECT i.vec_id AS item_id, q.vec_id AS q_id "
            f"FROM (SELECT vec_id, {bexpr} AS bkt FROM embeddings) i "
            f"JOIN (SELECT vec_id, {bexpr} AS bkt FROM embeddings WHERE vec_id < 3) q "
            f"ON i.bkt = q.bkt"
        )
    cand_union = " UNION ".join(table_parts)
    dup_parts = []
    for t in range(3):
        planes = [_hyperplane(64, b, 42 + 1000 * t) for b in range(6)]
        bexpr = _lsh_bucket_sql("embedding", planes)
        dup_parts.append(
            f"SELECT l.vec_id AS a, r.vec_id AS b "
            f"FROM (SELECT vec_id, embedding, {bexpr} AS bkt FROM embeddings) l "
            f"JOIN (SELECT vec_id, embedding, {bexpr} AS bkt FROM embeddings) r "
            f"ON l.bkt = r.bkt AND l.vec_id < r.vec_id"
        )
    dup_union = " UNION ".join(dup_parts)
    cos_ic = _cos_sql("e.embedding", "c.cvec")
    return {
        "embedding_dup_pairs": f"""
            WITH cand AS ({dup_union}),
            scored AS (
                SELECT c.a, c.b,
                       round({_cos_sql("ea.embedding", "eb.embedding")}, 6) AS cosine_sim
                FROM cand c
                JOIN embeddings ea ON ea.vec_id = c.a
                JOIN embeddings eb ON eb.vec_id = c.b
            )
            SELECT a, b, cosine_sim FROM scored WHERE cosine_sim >= 0.4 ORDER BY a, b
        """,
        "ann_lsh": f"""
            WITH cand AS ({cand_union}),
            scored AS (
                SELECT c.q_id, c.item_id,
                       round({_cos_sql("e.embedding", "qe.embedding")}, 6) AS cosine_sim
                FROM (SELECT DISTINCT q_id, item_id FROM cand WHERE item_id <> q_id) c
                JOIN embeddings e ON e.vec_id = c.item_id
                JOIN embeddings qe ON qe.vec_id = c.q_id
            )
            SELECT q_id, item_id, cosine_sim, rank FROM (
                SELECT q_id, item_id, cosine_sim,
                       row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, item_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "ann_ivf": f"""
            WITH cents AS (
                SELECT vec_id AS cell, embedding AS cvec FROM embeddings
                ORDER BY ('0x' || substr(md5(cast(vec_id as varchar) || '#0'), 1, 15))::BIGINT ASC,
                         vec_id ASC
                LIMIT 16
            ), assign AS (
                SELECT e.vec_id, e.embedding, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY -({cos_ic}) ASC, c.cell ASC) AS rk
                FROM embeddings e CROSS JOIN cents c
            ), it AS (
                SELECT vec_id AS item_id, embedding AS item_vec, cell FROM assign WHERE rk = 1
            ), qc AS (
                SELECT vec_id AS q_id, embedding AS q_vec, cell FROM assign
                WHERE vec_id < 3 AND rk <= 4
            ), scored AS (
                SELECT qc.q_id, it.item_id,
                       round({_cos_sql("it.item_vec", "qc.q_vec")}, 6) AS cosine_sim
                FROM it JOIN qc USING (cell) WHERE it.item_id <> qc.q_id
            )
            SELECT q_id, item_id, cosine_sim, rank FROM (
                SELECT q_id, item_id, cosine_sim,
                       row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, item_id ASC) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
    }


def _sampling_oracle_sqls(qual: str) -> dict[str, str]:
    """Round-5 corpus-sampling operators: substring-dup spans,
    quality-quantile cull, token-budget mixture sample. ``qual`` is the
    shared quality-score SQL body from :func:`oracle_sql`."""
    return {
        "dup_ngram_spans": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents
            ), g0 AS (
                SELECT doc_id, tk,
                       unnest(CASE WHEN len(tk) >= 6
                                   THEN generate_series(1, len(tk) - 5)
                                   ELSE CAST([] AS BIGINT[]) END) AS pos
                FROM t
            ), g AS (
                SELECT doc_id, pos,
                       {_md5num("array_to_string(tk[pos:pos+5], ' ') || '#0'")} AS h
                FROM g0
            ), d AS (
                SELECT h FROM g GROUP BY h HAVING count(DISTINCT doc_id) >= 2
            ), p AS (
                SELECT g.doc_id, g.pos FROM g JOIN d USING (h)
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 6
                            THEN 1 ELSE 0 END AS brk
                FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ), c AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS isl
                FROM b
            )
            SELECT doc_id,
                   cast(min(pos) as bigint) AS span_start,
                   cast(max(pos) + 5 as bigint) AS span_end,
                   cast(count(*) as bigint) AS n_grams
            FROM c GROUP BY doc_id, isl ORDER BY doc_id, span_start
        """,
        "quality_topfrac": f"""
            WITH s AS (
                SELECT doc_id, lang,
                       round(greatest(least(({qual}), 1.0), 0.0), 6) AS score
                FROM documents
            ), r AS (
                SELECT doc_id, lang, score,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY score DESC, doc_id) AS rn,
                       count(*) OVER (PARTITION BY lang) AS cnt
                FROM s
            )
            SELECT lang, cast(count(*) as bigint) AS n_kept,
                   round(sum(score), 3) AS score_sum,
                   min(score) AS score_floor,
                   cast(sum(doc_id) as bigint) AS id_sum
            FROM r WHERE rn * 100 <= cnt * 25
            GROUP BY lang ORDER BY lang
        """,
        "mix_budget_sample": f"""
            WITH b(source, budget) AS (
                VALUES ('src0', 600), ('src1', 300), ('src2', 150), ('src3', 50)
            ), t AS (
                SELECT doc_id, source,
                       cast(len(list_filter(string_split_regex(text, '\\s+'),
                                            x -> x <> '')) as bigint) AS tokens,
                       {_md5num("cast(doc_id as varchar) || '#1'")} AS h
                FROM documents
            ), j AS (
                SELECT t.doc_id, t.source, t.tokens, t.h, b.budget
                FROM t JOIN b USING (source)
            ), c AS (
                SELECT doc_id, source, tokens, budget,
                       cast(sum(tokens) OVER (
                           PARTITION BY source ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) as bigint) AS cum_tokens
                FROM j
            )
            SELECT doc_id, source, tokens, cum_tokens
            FROM c WHERE cum_tokens - tokens < budget
            ORDER BY source, cum_tokens, doc_id
        """,
        "cross_dup_pairs": f"""
            WITH ev0 AS (
                SELECT doc_id AS ref_id FROM documents
                ORDER BY {_md5num("cast(doc_id as varchar) || '#0'")}, doc_id
                LIMIT 5
            ), evtxt AS (
                SELECT e.ref_id,
                       array_to_string(
                         list_filter(string_split_regex(d.text, '\\s+'),
                                     x -> x <> '')[3:42], ' ') AS text
                FROM ev0 e JOIN documents d ON d.doc_id = e.ref_id
            ), rt AS (
                SELECT ref_id, {_TOKS} AS tk FROM evtxt
            ), rsh AS (
                SELECT ref_id, {_SHINGLES} AS sh FROM rt
            ), rhs AS (
                SELECT ref_id, sh, [{_md5num("g")} FOR g IN sh] AS hs
                FROM rsh WHERE len(sh) > 0
            ), rsig AS (
                SELECT ref_id, sh,
                       [list_min([xor(h, m) FOR h IN hs])
                        FOR m IN {_mask_sql_list(16)}] AS sig
                FROM rhs
            ), rband AS (
                SELECT ref_id, b AS band,
                       cast(sig[2*b+1] as varchar) || '_' || cast(sig[2*b+2] as varchar) AS key
                FROM rsig, unnest(generate_series(0, 7)) AS t(b)
            ), ct AS (
                SELECT doc_id, {_TOKS} AS tk FROM documents
            ), csh AS (
                SELECT doc_id, {_SHINGLES} AS sh FROM ct
            ), chs AS (
                SELECT doc_id, sh, [{_md5num("g")} FOR g IN sh] AS hs
                FROM csh WHERE len(sh) > 0
            ), csig AS (
                SELECT doc_id, sh,
                       [list_min([xor(h, m) FOR h IN hs])
                        FOR m IN {_mask_sql_list(16)}] AS sig
                FROM chs
            ), cband AS (
                SELECT doc_id, b AS band,
                       cast(sig[2*b+1] as varchar) || '_' || cast(sig[2*b+2] as varchar) AS key
                FROM csig, unnest(generate_series(0, 7)) AS t(b)
            ), pairs AS (
                SELECT DISTINCT c.doc_id, r.ref_id
                FROM cband c JOIN rband r ON c.band = r.band AND c.key = r.key
            )
            SELECT p.doc_id, p.ref_id,
                   round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
                         / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
            FROM pairs p
            JOIN csh sa ON sa.doc_id = p.doc_id
            JOIN rsh sb ON sb.ref_id = p.ref_id
            WHERE round(cast(len(list_intersect(sa.sh, sb.sh)) as double)
                        / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) >= 0.05
            ORDER BY p.doc_id, p.ref_id
        """,
        "boilerplate_strip": f"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS tk
                FROM documents
            ), c0 AS (
                SELECT doc_id, tk,
                       unnest(CASE WHEN len(tk) > 0
                              THEN generate_series(1, cast(ceil(len(tk)/4.0) AS BIGINT))
                              ELSE CAST([] AS BIGINT[]) END) AS ci
                FROM t
            ), c AS (
                SELECT doc_id, cast(ceil(len(tk)/4.0) AS BIGINT) AS n, ci,
                       array_to_string(tk[(ci-1)*4+1 : ci*4], ' ') AS chunk,
                       {_md5num("array_to_string(tk[(ci-1)*4+1 : ci*4], ' ') || '#0'")} AS h
                FROM c0
            ), boiler AS (
                SELECT h FROM c GROUP BY h HAVING count(DISTINCT doc_id) >= 2
            ), kept AS (
                SELECT * FROM c ANTI JOIN boiler USING (h)
            )
            SELECT doc_id,
                   string_agg(chunk, ' ' ORDER BY ci) AS clean_text,
                   cast(count(*) AS BIGINT) AS n_kept,
                   cast(any_value(n) - count(*) AS BIGINT) AS n_dropped
            FROM kept GROUP BY doc_id ORDER BY doc_id
        """,
        "token_commonness": """
            WITH t AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS tok
                FROM documents
            ), v AS (
                SELECT tok, count(*) AS cnt FROM t GROUP BY tok
            ), j AS (
                SELECT t.doc_id, v.cnt FROM t JOIN v USING (tok)
            )
            SELECT doc_id,
                   cast(count(*) AS BIGINT) AS n_tokens,
                   cast(sum(CASE WHEN cnt <= 3 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_rare,
                   round(sum(CASE WHEN cnt <= 3 THEN 1 ELSE 0 END)
                         / count(*), 6) AS rare_frac,
                   round(sum(cnt) / count(*), 6) AS mean_token_freq
            FROM j GROUP BY doc_id ORDER BY doc_id
        """,
        "stratified_sample": f"""
            SELECT doc_id, source, lang FROM documents
            JOIN (VALUES ('src0', 500000), ('src1', 250000),
                         ('src2', 1000000), ('src3', 125000))
                 f(source, ppm) USING (source)
            WHERE {_md5num("cast(doc_id AS VARCHAR) || '#7'")} % 1000000 < ppm
            ORDER BY doc_id
        """,
        "salted_range_join": """
            SELECT p.event_id AS p_event_id,
                   count(*) AS n_views,
                   cast(sum(CASE WHEN v.user_id = p.user_id THEN 1 ELSE 0 END)
                        AS bigint) AS n_same_user
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            JOIN (SELECT * FROM events WHERE event_type = 'view') v
              ON v.ts >= p.ts - INTERVAL 1 HOUR
             AND v.ts <= p.ts + INTERVAL 1 HOUR
            GROUP BY 1 ORDER BY 1
        """,
    }


def _odc_oracle_sqls() -> dict[str, str]:
    """Rebuild the odc_indexing_docs YAML byte-for-byte in SQL and md5
    it (the operator template itself is pinned by goldens in tests/)."""

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    start_e = (
        "'201503' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'"
        " || lpad(cast(doc_id % 24 as varchar), 2, '0')"
        " || lpad(cast(doc_id % 60 as varchar), 2, '0')"
        " || lpad(cast((doc_id*7) % 60 as varchar), 2, '0')"
    )
    stop_e = (
        "'201503' || lpad(cast(doc_id % 27 + 1 as varchar), 2, '0') || 'T'"
        " || lpad(cast((doc_id*3) % 24 as varchar), 2, '0')"
        " || lpad(cast((doc_id*5) % 60 as varchar), 2, '0')"
        " || lpad(cast((doc_id*11) % 60 as varchar), 2, '0')"
    )
    xmin = "cast((doc_id % 300) - 150 + 0.25 as decimal(10,6))"
    xmax = "cast((doc_id % 300) - 150 + 3.75 as decimal(10,6))"
    ymin = "cast((doc_id % 120) - 60 + 0.5 as decimal(10,6))"
    ymax = "cast((doc_id % 120) - 60 + 2.25 as decimal(10,6))"

    def corner(x: str, y: str) -> list[str]:
        return [lit("      x: "), x, lit("\n      y: "), y, lit("\n")]

    corners4 = (
        [lit("    ul:\n"), *corner(xmin, ymax), lit("    ur:\n"), *corner(xmax, ymax),
         lit("    ll:\n"), *corner(xmin, ymin), lit("    lr:\n"), *corner(xmax, ymin)]
    )
    parts: list[str] = [
        lit("id: "), "md5(ident)", lit("\n"),
        lit("image:\n  bands:\n    vv_gamma0:\n      path: "),
        "ident || '_VV_gamma0.tif'", lit("\n"),
        lit("platform:\n  code: SENTINEL_1A\n"),
        lit("instrument:\n  name: SAR\n"),
        lit("format:\n  name: GeoTIFF\n"),
        lit("grid_spatial:\n  projection:\n    geo_ref_points:\n"),
        *corners4,
        lit("    spatial_reference: EPSG:4326\n"),
        lit("extent:\n  coord:\n"),
        *corners4,
        lit("  from_dt: "), "strt", lit("\n"),
        lit("  to_dt: "), stop_e, lit("\n"),
        lit("product_type: gamma0\n"),
        lit("lineage:\n  source_datasets: {}\n"),
    ]
    yml = " || ".join(parts)
    return {
        "odc_emit": f"""
            WITH base AS (
                SELECT doc_id, 'S1A__IW___A_' || {start_e} AS ident, {start_e} AS strt
                FROM documents
            )
            SELECT doc_id, ident AS identifier,
                   ident || '_dcindex.yml' AS filename,
                   md5({yml}) AS yml_md5
            FROM base ORDER BY doc_id
        """,
    }


def _pixel_oracle_sqls() -> dict[str, str]:
    bn_scan = _oracle_scan("chips_bn")
    mt_scan = _oracle_scan("chips_tiles")
    deg = "(1.0/10)"
    return {
        "border_noise": f"""
            WITH c AS (SELECT media_ref, width, height, seed FROM {bn_scan}),
            px AS (
                SELECT media_ref, width, height, i, j,
                       CASE WHEN j < greatest(width//4, 1)
                            THEN (0.5 + 1.5*(((seed*65521 + i*4099 + j*7919) % 1000003)/1000003.0)) * 0.1
                            ELSE 0.5 + 1.5*(((seed*65521 + i*4099 + j*7919) % 1000003)/1000003.0) END AS d,
                       ((0.002 + (seed % 97)/97.0*0.006) + (((seed % 13) - 6)/13.0*0.0004)*i) + (((seed % 29) - 14)/29.0*0.0002)*j AS nz
                FROM c,
                  unnest(generate_series(0, height - 1)) t1(i),
                  unnest(generate_series(0, width - 1)) t2(j)
            ), m AS (
                SELECT media_ref, width, height, i, j, ((d*d - nz*1.0) < 0.5) AS masked FROM px
            ), rowstat AS (
                SELECT media_ref, width, height, i,
                       coalesce(min(CASE WHEN NOT masked THEN j END), 0) AS first_valid,
                       sum(masked::INT) AS nm
                FROM m GROUP BY 1, 2, 3, 4
            )
            SELECT media_ref, width, height,
                   cast(max(first_valid) as int) AS first_valid_col,
                   cast(sum(nm) as bigint) AS n_masked
            FROM rowstat GROUP BY 1, 2, 3 ORDER BY media_ref
        """,
        "chip_mosaic": f"""
            WITH c AS (SELECT * FROM {mt_scan}),
            pl AS (
                SELECT tile_lat, tile_lon, tile_id,
                       cast(floor(((ulx - shift) - tile_lon)/{deg} + 0.5) as bigint) AS col0,
                       cast(floor(((tile_lat + 1) - (uly + shift))/{deg} + 0.5) as bigint) AS row0,
                       greatest(cast(floor(width*xres/{deg} + 0.5) as bigint), 1) AS ncols,
                       greatest(cast(floor(height*yres/{deg} + 0.5) as bigint), 1) AS nrows
                FROM (SELECT *, CASE WHEN area_or_point = 'point' THEN {deg}/2.0 ELSE 0.0 END AS shift FROM c)
            ), cover AS (
                SELECT DISTINCT tile_lat, tile_lon, r, cc
                FROM pl, unnest(generate_series(0, 9)) t1(r), unnest(generate_series(0, 9)) t2(cc)
                WHERE r >= row0 AND r < row0 + nrows AND cc >= col0 AND cc < col0 + ncols
            )
            SELECT nc.tile_id, nc.n_chips, coalesce(cv.n_valid_px, 0) AS n_valid_px
            FROM (SELECT tile_lat, tile_lon, tile_id, count(*) AS n_chips FROM c GROUP BY 1, 2, 3) nc
            LEFT JOIN (SELECT tile_lat, tile_lon, count(*) AS n_valid_px FROM cover GROUP BY 1, 2) cv
              USING (tile_lat, tile_lon)
            ORDER BY nc.tile_id
        """,
    }
