"""Ingest: interleaved documents → scene catalog.

Reproduces the reference ingest pipeline (``identify`` →
``Archive.insert``, ``pyroSAR/drivers.py:69-186`` +
``pyroSAR/archive.py:513-599``) as columnar Spark:

 - span text parse: JVM-side (``filter``/``from_json``/``regexp``), no
   Python in the metadata path;
 - footprint geometry: convex hull + CCW ring + WKB in one Arrow UDF
   (``drivers.py:287-342`` semantics, see :mod:`pyrosar_spark.geom`);
 - duplicate routing: first registration of a ``(product,
   outname_base)`` key wins, later arrivals land in ``duplicates``
   (``archive.py:563-577``) — implemented as a window rank over a
   stable ingest sequence.

Scale notes: parsing is embarrassingly parallel (no shuffle); the
dedup window shuffles once on the composite key, which is
high-cardinality (≈ one per scene) so no skew; geometry UDF is
Arrow-batched.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from pyrosar_spark import geom
from pyrosar_spark.functions.naming import outname_base_col

POL_FLAGS = ("hh", "vv", "hv", "vh")

# `ring` is the engine-internal footprint geometry: flat
# array<double> [lon0, lat0, lon1, lat1, ...] — closed, CCW, canonical
# start vertex (min lat, then min lon). WKB/WKT are produced only at
# export/projection time; the hot path never carries binary blobs and
# (for convex footprints, i.e. essentially all of them) never leaves
# the JVM.
SCENE_COLUMNS = [
    "doc_id", "sensor", "orbit", "orbitNumber_abs", "orbitNumber_rel",
    "cycleNumber", "frameNumber", "acquisition_mode", "start", "stop",
    "product", "samples", "lines", "outname_base", "scene",
    "hh", "vv", "hv", "vh",
    "corners", "xmin", "xmax", "ymin", "ymax", "ring",
]


@F.pandas_udf(T.ArrayType(T.DoubleType()))
def ring_from_corners_udf(corners: pd.Series) -> pd.Series:
    """Convex hull of the ``corners`` struct column → canonical flat CCW
    ring (mirrors ``drivers.py:316-331``). THE geometry hot path: the
    4-corner case (every real SAR footprint) is fully vectorized numpy
    (:func:`pyrosar_spark.geom.hull_rings_batch`) — measured ~100×
    faster than expressing the same hull with Catalyst higher-order
    array functions (interpreted, allocation-heavy; round 5,
    ``BENCH/BASELINE.md``).

    :func:`docs_to_scenes` runs it on every row with
    ``with_geometry=True``; on a ``with_geometry='defer'`` catalog,
    consumers run it only on rows that survived their cheap JVM
    prefilters (bbox, dates, flags), so the Python stage sees the
    selectivity-reduced stream instead of every row. At 4→16-core
    scaling this is the difference between the Arrow workers riding
    free cores and oversubscribing them (measured round 2)."""
    coords = [
        None if c is None else [[p["lon"], p["lat"]] for p in c] for c in corners
    ]
    rings = geom.hull_rings_batch(coords)
    return pd.Series([None if r is None else list(r.reshape(-1)) for r in rings])


@F.pandas_udf(T.StringType())
def ring_to_wkt_udf(ring: pd.Series) -> pd.Series:
    return pd.Series(
        [None if r is None else geom.ring_to_wkt(geom.flat_to_ring(r)) for r in ring]
    )


@F.pandas_udf(T.BinaryType())
def ring_to_wkb_udf(ring: pd.Series) -> pd.Series:
    return pd.Series(
        [None if r is None else geom.ring_to_wkb(geom.flat_to_ring(r)) for r in ring]
    )


def span_text(spans: Column, kind: str) -> Column:
    """Text of the first span of ``kind`` (NULL if none, or if
    ``spans`` is empty or NULL): the one span lookup of every metadata
    parse (:func:`docs_to_scenes`,
    :func:`~pyrosar_spark.operators.formats.identify_spans`).

    ``try_element_at`` evaluates the interpreted filter lambda once per
    row; a ``size(metas) > 0`` guard in front of ``element_at`` would
    evaluate it twice for the same NULL-on-empty result."""
    metas = F.filter(spans, lambda s: s.kind == F.lit(kind))
    return F.try_element_at(metas, F.lit(1)).text


def footprint_bbox(coords: Column) -> dict[str, Column]:
    """``xmin``/``xmax``/``ymin``/``ymax`` (unaliased) of an
    ``array<array<double>>`` of (lon, lat) points. NULL coordinates are
    skipped, like ``least``/``greatest`` skip them."""
    lons = F.transform(coords, lambda c: F.element_at(c, 1))
    lats = F.transform(coords, lambda c: F.element_at(c, 2))
    return {
        "xmin": F.array_min(lons), "xmax": F.array_max(lons),
        "ymin": F.array_min(lats), "ymax": F.array_max(lats),
    }


def scene_fields(fields: dict[str, Column], coords: Column) -> dict[str, Column]:
    """A metadata dialect's fields (its ``scanMetadata`` dict, unaliased,
    in output order) plus the tail every dialect shares, as the
    reference's ``ID`` base class derives it (``drivers.py:247-285,
    584-608``): ``coordinates``, their bbox and ``outname_base``."""
    return {
        **fields,
        "coordinates": coords,
        **footprint_bbox(coords),
        "outname_base": outname_base_col(
            fields["sensor"], fields["acquisition_mode"], fields["orbit"],
            fields["start"],
        ),
    }


# meta-JSON field types in canonical order: the one schema of the scene_meta
# span's JSON payload
_META_FIELD_TYPES = [
    ("sensor", "string"), ("acquisition_mode", "string"), ("product", "string"),
    ("orbit", "string"), ("start", "string"), ("stop", "string"),
    ("orbitNumber_abs", "int"), ("orbitNumber_rel", "int"),
    ("cycleNumber", "int"), ("frameNumber", "int"),
    ("samples", "int"), ("lines", "int"),
    ("polarizations", "array<string>"), ("coordinates", "array<array<double>>"),
    ("projection", "string"), ("spacing", "array<double>"), ("scene", "string"),
]

# catalog column → meta-JSON fields it needs (schema pruning map; the
# Generate barrier that pins from_json to one evaluation also blocks
# Catalyst's own json-schema pruning, so the pruning is done here)
_COLUMN_FIELDS: dict[str, tuple[str, ...]] = {
    "doc_id": (),
    "sensor": ("sensor",), "orbit": ("orbit",),
    "orbitNumber_abs": ("orbitNumber_abs",), "orbitNumber_rel": ("orbitNumber_rel",),
    "cycleNumber": ("cycleNumber",), "frameNumber": ("frameNumber",),
    "acquisition_mode": ("acquisition_mode",), "start": ("start",),
    "stop": ("stop",), "product": ("product",), "samples": ("samples",),
    "lines": ("lines",), "scene": ("scene",),
    "outname_base": ("sensor", "acquisition_mode", "orbit", "start"),
    "hh": ("polarizations",), "vv": ("polarizations",),
    "hv": ("polarizations",), "vh": ("polarizations",),
    "corners": ("coordinates",), "xmin": ("coordinates",), "xmax": ("coordinates",),
    "ymin": ("coordinates",), "ymax": ("coordinates",), "ring": ("coordinates",),
}


def json_fields(m: Column) -> dict[str, Column]:
    """The JSON dialect's fields (unaliased) from the parsed
    ``scene_meta`` struct ``m``: every catalog column that is one JSON
    field as it parses, plus the shared :func:`scene_fields` tail over
    ``coordinates``. A field outside ``m``'s pruned schema fails only
    if it is selected."""
    scalars = {c: m[c] for c, f in _COLUMN_FIELDS.items() if f == (c,)}
    return scene_fields(scalars, m["coordinates"])


def docs_to_scenes(
    docs: DataFrame,
    with_geometry: bool = True,
    meta_keys: list[str] | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Parse the ``scene_meta`` span of each document into a catalog row
    with the reference ``data``-table schema (``archive.py:374-394``):
    polarization flags denormalized to 0/1 ints (``archive.py:476-477``),
    ``outname_base`` per ``drivers.py:584-608``, bbox + WKB footprint.

    Documents without a parseable scene_meta span are dropped
    (reference: ``identify_many`` drops failures, ``drivers.py:123-186``).

    ``meta_keys`` reproduces the reference's dynamic schema extension
    (``Archive.insert`` ``custom_fields``, ``archive.py:396-403`` +
    SURVEY §1.2's ``meta`` map): the listed non-core JSON attributes are
    lifted into a ``meta: map<string,string>`` column (missing keys →
    NULL values) that :func:`pyrosar_spark.operators.select.select`
    accepts as filter kwargs.

    ``with_geometry``: ``True`` computes the hull ring per row (full
    catalog build); ``False`` emits a NULL ring column (schema-stable
    placeholder); ``'defer'`` omits the ring column entirely —
    downstream operators derive it from ``corners`` AFTER their JVM
    prefilters via :func:`ring_from_corners_udf`, keeping the Python
    stage off the unfiltered row stream (the scalable flagship shape).

    ``columns`` prunes BOTH the output projection and the parse schema
    to the fields those columns need — the reader-side analog of
    parquet column pruning (Catalyst's own json pruning cannot cross
    the Generate barrier that pins the parse to one evaluation per
    row). A query that only filters dates + bbox parses 4 of the 17
    metadata fields instead of allocating all of them.

    Parse kernel: pruned ``from_json`` (round-4 A/B in ``BENCH/BASELINE.md``).
    """
    # PERFORMANCE-CRITICAL SHAPE: Catalyst's CollapseProject inlines a
    # projected expression into every downstream reference — a naive
    # select(m.sensor, m.orbit, ..., m.coordinates) re-runs from_json
    # (Jackson, allocation-heavy) ~20× per row and turns the ingest GC-
    # bound (measured). The explode(array(..)) wrappers insert Generate
    # nodes that projection collapse cannot cross, so the span filter
    # and the JSON parse each execute exactly once per row.
    if columns is None:
        want = list(SCENE_COLUMNS)
    else:
        unknown = [c for c in columns if c not in _COLUMN_FIELDS]
        if unknown:
            raise ValueError(f"unknown catalog columns: {sorted(unknown)}")
        wanted = set(columns) | {"doc_id"}
        want = [c for c in SCENE_COLUMNS if c in wanted]
    # sensor always parses: it is the validity sentinel for "document
    # has a parseable scene_meta span" (identify_many drop semantics)
    needed = {"sensor"} | {f for c in want for f in _COLUMN_FIELDS[c]}

    txt = span_text(F.col("spans"), "scene_meta")
    passthrough = ["_json_txt"] if meta_keys else []
    pre = (
        docs.select("doc_id", F.explode(F.array(txt)).alias("_meta_text"))
        .where(F.col("_meta_text").isNotNull())
        .withColumn(
            "_json_txt", F.expr("substring(_meta_text, instr(_meta_text, '|') + 1)")
        )
    )
    schema = ", ".join(f"{n} {t}" for n, t in _META_FIELD_TYPES if n in needed)
    parsed = (
        pre.select(
            "doc_id",
            *passthrough,
            F.explode(F.array(F.from_json(F.col("_json_txt"), schema))).alias("m"),
        )
        .where(F.col("m").isNotNull() & F.col("m.sensor").isNotNull())
    )
    m = F.col("m")
    exprs: dict[str, Column] = {"doc_id": F.col("doc_id"), **json_fields(m)}
    for p in POL_FLAGS:
        exprs[p] = F.array_contains(m["polarizations"], p.upper()).cast("int")
    corners = F.transform(
        m["coordinates"],
        lambda c: F.struct(
            F.element_at(c, 1).alias("lon"), F.element_at(c, 2).alias("lat")
        ),
    )
    exprs["corners"] = corners

    meta_cols = []
    if meta_keys:
        meta_cols = [
            F.map_from_arrays(
                F.array(*[F.lit(k) for k in meta_keys]),
                F.array(*[F.get_json_object("_json_txt", f"$.{k}") for k in meta_keys]),
            # the registered-key set rides on the column metadata so
            # select() can distinguish registered meta filters from
            # typo'd kwargs (P9 drop-with-log semantics, ADVICE r2)
            ).alias("meta", metadata={"meta_keys": list(meta_keys)})
        ]
    geom_cols = (
        [corners.alias("_corners")] if with_geometry is True and "ring" in want else []
    )
    out = parsed.select(
        *[exprs[c].alias(c) for c in want if c != "ring"], *meta_cols, *geom_cols
    )
    cols = [c for c in want] + (["meta"] if meta_keys else [])
    if with_geometry == "defer" or "ring" not in want:
        return out.select(*[c for c in cols if c != "ring"])
    if not with_geometry:
        return out.withColumn("ring", F.lit(None).cast("array<double>")).select(*cols)
    return out.withColumn("ring", ring_from_corners_udf(F.col("_corners"))).select(*cols)


def insert_scenes(
    new_scenes: DataFrame,
    existing: DataFrame | None = None,
    existing_duplicates: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Route scenes into (data, duplicates) — ``archive.py:563-577``.

    First registration of ``(product, outname_base)`` (by the stable
    ingest sequence ``doc_id``) goes to data; same-key, different
    ``scene`` arrivals go to duplicates; exact re-registrations (same
    PK *and* same scene path) are skipped. A scene whose basename is
    already in either table is skipped too (``filter_scenelist``,
    ``archive.py:717-745``).
    """
    key = ["product", "outname_base"]
    candidates = new_scenes
    if existing is not None:
        candidates = candidates.join(
            existing.select("scene").distinct(), on="scene", how="left_anti"
        )
    if existing_duplicates is not None:
        candidates = candidates.join(
            existing_duplicates.select("scene").distinct(), on="scene", how="left_anti"
        )
    rank_w = W.partitionBy(*key).orderBy(F.col("doc_id"))
    ranked = candidates.withColumn("_rk", F.row_number().over(rank_w))
    fresh = ranked.where(F.col("_rk") == 1).drop("_rk")
    dups_batch = ranked.where(F.col("_rk") > 1).drop("_rk")
    if existing is not None:
        reg_keys = existing.select(*key).distinct()
        promoted = fresh.join(reg_keys, on=key, how="left_anti")
        demoted = fresh.join(reg_keys, on=key, how="left_semi")
        data_out = existing.unionByName(promoted)
        dups_batch = dups_batch.unionByName(demoted)
    else:
        data_out = fresh
    dup_rows = dups_batch.select("outname_base", "scene")
    if existing_duplicates is not None:
        dup_rows = existing_duplicates.select("outname_base", "scene").unionByName(dup_rows)
    return data_out, dup_rows.distinct()


def is_registered(data: DataFrame, duplicates: DataFrame, scene: str) -> bool:
    """Membership probe (``archive.py:601-627``)."""
    base = scene.split("/")[-1]
    in_data = data.where(F.col("scene").contains(base)).limit(1).count() > 0
    if in_data:
        return True
    return duplicates.where(F.col("scene").contains(base)).limit(1).count() > 0


def filter_scenelist(data: DataFrame, duplicates: DataFrame, scenes: DataFrame) -> DataFrame:
    """Drop scenes whose ``scene`` basename is already registered in
    either table (``archive.py:717-745``) — anti-join on basename."""
    base = lambda c: F.element_at(F.split(c, "/"), -1)  # noqa: E731
    registered = (
        data.select(base(F.col("scene")).alias("_b"))
        .unionByName(duplicates.select(base(F.col("scene")).alias("_b")))
        .distinct()
    )
    return scenes.join(
        registered, base(F.col("scene")) == F.col("_b"), how="left_anti"
    )


def drop_element(
    data: DataFrame, duplicates: DataFrame, scene: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Delete a catalog row; promote its first duplicate if one exists
    (``archive.py:1202-1267``)."""
    victim = data.where(F.col("scene") == scene)
    remaining = data.where(F.col("scene") != scene)
    promo_w = W.partitionBy("outname_base").orderBy("scene")
    promo = (
        duplicates.join(victim.select("outname_base"), on="outname_base", how="left_semi")
        .withColumn("_rk", F.row_number().over(promo_w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    new_dups = duplicates.join(promo, on=["outname_base", "scene"], how="left_anti")
    return remaining, new_dups, promo


def archive_size(data: DataFrame, duplicates: DataFrame) -> tuple[int, int]:
    """(rows in data, rows in duplicates) — ``archive.py:1170-1183``."""
    return data.count(), duplicates.count()
