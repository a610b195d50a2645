"""Remaining S4 format-metadata dialects: BEAM_DIMAP, TSX, TDM and
EORC_PSR — the last of the reference's ~8 metadata dialects (VERDICT
r2 #1), funneling into the same catalog schema as the JSON / SAFE-XML /
CEOS / ESA-k=v parsers.

Reference semantics (field-for-field; see each parser's docstring):
 - BEAM_DIMAP   ``pyroSAR/drivers.py:814-942``  (``BEAM_DIMAP.scanMetadata``)
 - TSX          ``pyroSAR/drivers.py:2354-2392`` (``TSX.scanMetadata``)
 - TDM          ``pyroSAR/drivers.py:2455-2525`` (``TDM.scanMetadata``)
 - EORC_PSR     ``pyroSAR/drivers.py:1519-1586`` (``EORC_PSR.scanMetadata``)

Spark shape: each dialect's annotation text is a span payload (kinds
``scene_meta_dimap`` / ``scene_meta_tsx`` / ``scene_meta_tdm`` /
``scene_meta_psr``) parsed entirely with JVM ``regexp_extract`` /
``regexp_extract_all`` / ``split`` column expressions — namespace- and
attribute-proof patterns, no XML DOM, no Python in the path (same
design as :mod:`pyrosar_spark.operators.xmlmeta`). The one structural
difference vs the reference: where it opens sibling FILES inside a
scene archive (TSX GEOREF.xml, the TDM master/secondary component
scenes, the PSR facter_m.dat summary), the interleaved-document model
carries those payloads as additional spans of the same document, so
every lookup stays a column expression over one row.

Deliberate deviations (documented, not silent):
 - DIMAP's last-resort incidence fallback (reading the
   ``tie_point_grids/incident_angle.img`` raster with GDAL,
   ``drivers.py:911-918``) is out of scope — no raster store in the
   data model; the element-based fallbacks are implemented.
 - DIMAP polarizations are sorted (the reference's ``list(set(...))``
   has no defined order — a set-to-list roundtrip; sorting makes the
   column deterministic for oracles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.functions.naming import outname_base_col
from pyrosar_spark.functions.temporal import parse_date_col
from pyrosar_spark.operators.ingest import _META_FIELD_TYPES, footprint_bbox, span_text
from pyrosar_spark.operators.xmlmeta import xml_path_tag, xml_tag, xml_tags_all


# ---------------------------------------------------------------------------
# BEAM_DIMAP (drivers.py:814-942)
# ---------------------------------------------------------------------------

# MISSION element text -> catalog sensor id (drivers.py:836-842)
DIMAP_MISSIONS = {
    "ENVISAT": "ASAR",
    "ERS1": "ERS1",
    "ERS2": "ERS2",
    "SENTINEL-1A": "S1A",
    "SENTINEL-1B": "S1B",
    "SENTINEL-1C": "S1C",
    "SENTINEL-1D": "S1D",
}

# ASAR/ERS product level by acquisition mode (drivers.py:852-859;
# product overview table https://doi.org/10.5167/UZH-96146)
ENVISAT_PRODUCTS = {
    "APS": "SLC", "IMS": "SLC", "WSS": "SLC",
    "APP": "PRI", "IMP": "PRI",
    "APM": "MR", "IMM": "MR", "WSM": "MR",
}


def mdattr(xml: Column, name: str) -> Column:
    """Text of ``<MDATTR name="{name}" ...>`` — the DIMAP attribute
    lookup (``get_by_name``, drivers.py:819-833). The reference treats
    the ``99999`` / ``99999.0`` sentinel as missing."""
    pat = rf'<MDATTR[^>]*\sname="{name}"[^>]*>([^<]*)</MDATTR>'
    out = F.regexp_extract(xml, pat, 1)
    return F.when((out != "") & ~out.isin("99999", "99999.0"), out)


def mdattrs_by_desc(xml: Column, desc: str) -> Column:
    """All ``<MDATTR desc="{desc}">`` texts (drivers.py:868-870)."""
    pat = rf'<MDATTR[^>]*\sdesc="{desc}"[^>]*>([^<]*)</MDATTR>'
    return F.regexp_extract_all(xml, F.lit(pat), 1)


def _dimap_date(raw: Column) -> Column:
    """``22-FEB-2015 17:07:50.000000`` → catalog stamp. The DIMAP
    month is upper-case; Java's MMM parser wants title case, so the
    fixed-width month token is recased before the format cascade."""
    recased = F.concat(
        F.substring(raw, 1, 3),
        F.initcap(F.substring(raw, 4, 3)),
        F.substring(raw, 7, 64),
    )
    return parse_date_col(recased)


def _mean(arr: Column) -> Column:
    return F.aggregate(
        F.transform(arr, lambda x: x.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    ) / F.size(arr)


def parse_dimap(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """BEAM_DIMAP ``.dim`` XML → catalog columns, field-for-field with
    ``BEAM_DIMAP.scanMetadata`` (drivers.py:814-942): mission map,
    S1-vs-ENVISAT/ERS mode+product branch, PASS→orbit letter, distinct
    non-composite polarizations, spacing/looks/raster dims, ABS/REL
    orbit + cycle/frame fallback chains, SWATH, srgr_flag→geometry,
    raster start/stop recased+parsed, incidence fallback cascade, and
    the first/last×near/far corner ring in the reference's order."""
    xml = F.col(xml_col)
    mission = mdattr(xml, "MISSION")
    sensor = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in DIMAP_MISSIONS.items() for x in kv]
        ),
        mission,
    )
    is_s1 = sensor.rlike("^S1[A-Z]$")
    envisat_mode = F.substring(mdattr(xml, "PRODUCT_TYPE"), 5, 3)
    acquisition_mode = F.when(is_s1, mdattr(xml, "ACQUISITION_MODE")).otherwise(
        envisat_mode
    )
    product = F.when(is_s1, xml_tag(xml, "PRODUCT_TYPE")).otherwise(
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in ENVISAT_PRODUCTS.items() for x in kv]
            ),
            envisat_mode,
        )
    )
    orbit = F.substring(mdattr(xml, "PASS"), 1, 1)
    pols = F.array_sort(
        F.array_distinct(
            F.filter(
                mdattrs_by_desc(xml, "Polarization"),
                lambda p: (p != "") & ~p.contains("-"),
            )
        )
    )
    start = _dimap_date(xml_tag(xml, "PRODUCT_SCENE_RASTER_START_TIME"))
    stop = _dimap_date(xml_tag(xml, "PRODUCT_SCENE_RASTER_STOP_TIME"))
    # incidence cascade (drivers.py:897-918): (near+far)/2, else the
    # mean of the per-swath incidenceAngleMidSwath elements
    inc_nf = (
        mdattr(xml, "incidence_near").cast("double")
        + mdattr(xml, "incidence_far").cast("double")
    ) / 2
    inc_mid = mdattrs_by_desc(xml, "incidence_mid")
    inc_mid_named = F.regexp_extract_all(
        xml,
        F.lit(r'<MDATTR[^>]*\sname="incidenceAngleMidSwath"[^>]*>([^<]*)</MDATTR>'),
        1,
    )
    incidence = F.coalesce(
        inc_nf,
        F.when(F.size(inc_mid_named) > 0, _mean(inc_mid_named)),
        F.when(F.size(inc_mid) > 0, _mean(inc_mid)),
    )
    corner = {
        k: mdattr(xml, k).cast("double")
        for k in [
            f"{a}_{b}_{c}"
            for a in ("first", "last")
            for b in ("far", "near")
            for c in ("lat", "long")
        ]
    }
    coords = F.array(
        F.array(corner["first_near_long"], corner["first_near_lat"]),
        F.array(corner["last_near_long"], corner["last_near_lat"]),
        F.array(corner["last_far_long"], corner["last_far_lat"]),
        F.array(corner["first_far_long"], corner["first_far_lat"]),
    )
    return df.select(
        "*",
        sensor.alias("sensor"),
        acquisition_mode.alias("acquisition_mode"),
        product.alias("product"),
        orbit.alias("orbit"),
        start.alias("start"),
        stop.alias("stop"),
        mdattr(xml, "ABS_ORBIT").cast("int").alias("orbitNumber_abs"),
        mdattr(xml, "REL_ORBIT").cast("int").alias("orbitNumber_rel"),
        # fallback chains (drivers.py:879-881)
        F.coalesce(mdattr(xml, "orbit_cycle"), mdattr(xml, "CYCLE"))
        .cast("int")
        .alias("cycleNumber"),
        F.coalesce(mdattr(xml, "data_take_id"), mdattr(xml, "ABS_ORBIT"))
        .cast("int")
        .alias("frameNumber"),
        xml_tag(xml, "BAND_RASTER_WIDTH").cast("int").alias("samples"),
        xml_tag(xml, "BAND_RASTER_HEIGHT").cast("int").alias("lines"),
        xml_tag(xml, "NBANDS").cast("int").alias("bands"),
        pols.alias("polarizations"),
        F.round(mdattr(xml, "range_spacing").cast("double"), 6).alias("spacing_rg"),
        F.round(mdattr(xml, "azimuth_spacing").cast("double"), 6).alias("spacing_az"),
        mdattr(xml, "range_looks").cast("double").alias("looks_rg"),
        mdattr(xml, "azimuth_looks").cast("double").alias("looks_az"),
        mdattr(xml, "SWATH").alias("swath"),
        F.when(mdattr(xml, "srgr_flag").cast("int") == 1, "GROUND_RANGE")
        .otherwise("SLANT_RANGE")
        .alias("image_geometry"),
        incidence.alias("incidence"),
        mdattr(xml, "Processing_system_identifier").alias("IPF_version"),
        coords.alias("coordinates"),
        *[c.alias(n) for n, c in footprint_bbox(coords).items()],
        outname_base_col(sensor, acquisition_mode, orbit, start).alias(
            "outname_base"
        ),
    )


# ---------------------------------------------------------------------------
# TSX (drivers.py:2354-2392)
# ---------------------------------------------------------------------------


def _grid_coords(xml: Column, block: str) -> Column:
    """``<{block}>…<lat>…<lon>…</{block}>`` repeated elements →
    array<array<double>> of (lon, lat); longitudes > 180° shift west
    (drivers.py:2388-2390). Used for the TSX GEOREF ``gridPoint`` grid
    and the TDM ``sceneCornerCoord`` corners."""
    blocks = F.regexp_extract_all(
        xml, F.lit(rf"(?s)<{block}(?:\s[^>]*)?>(.*?)</{block}>"), 1
    )
    lat_pat = r"<lat>([^<]*)</lat>"
    lon_pat = r"<lon>([^<]*)</lon>"
    return F.transform(
        blocks,
        lambda b: F.array(
            F.when(
                F.regexp_extract(b, lon_pat, 1).cast("double") > 180.0,
                F.regexp_extract(b, lon_pat, 1).cast("double") - 360.0,
            ).otherwise(F.regexp_extract(b, lon_pat, 1).cast("double")),
            F.regexp_extract(b, lat_pat, 1).cast("double"),
        ),
    )


def _tsx_fields(xml: Column) -> dict[str, Column]:
    """The TSX.scanMetadata field expressions (drivers.py:2354-2392) —
    shared verbatim by the TDM master-scene lift (drivers.py:2505-2519).
    """
    sensor = F.regexp_replace(xml_path_tag(xml, "generalHeader", "mission"), "-", "")
    mode = xml_tag(xml, "imagingMode")
    orbit = F.substring(xml_tag(xml, "orbitDirection"), 1, 1)
    start = parse_date_col(xml_path_tag(xml, "start", "timeUTC"))
    return {
        "sensor": sensor,
        "product": xml_tag(xml, "productVariant"),
        "orbit": orbit,
        "polarizations": xml_tags_all(xml, "polLayer"),
        "orbitNumber_abs": xml_tag(xml, "absOrbit").cast("int"),
        "orbitNumber_rel": xml_tag(xml, "relOrbit").cast("int"),
        "cycleNumber": xml_tag(xml, "orbitCycle").cast("int"),
        "frameNumber": xml_tag(xml, "uniqueDataTakeID").cast("int"),
        "acquisition_mode": mode,
        "start": start,
        "stop": parse_date_col(xml_path_tag(xml, "stop", "timeUTC")),
        # reference order: (columnSpacing, rowSpacing) (drivers.py:2375-2377)
        "spacing_rg": xml_tag(xml, "columnSpacing").cast("double"),
        "spacing_az": xml_tag(xml, "rowSpacing").cast("double"),
        "samples": xml_tag(xml, "numberOfColumns").cast("int"),
        "lines": xml_tag(xml, "numberOfRows").cast("int"),
        "looks_rg": xml_tag(xml, "rangeLooks").cast("double"),
        "looks_az": xml_tag(xml, "azimuthLooks").cast("double"),
        "incidence": xml_path_tag(xml, "sceneCenterCoord", "incidenceAngle").cast(
            "double"
        ),
        "_outname": outname_base_col(sensor, mode, orbit, start),
    }


def parse_tsx(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """TSX/TanDEM-X annotation XML (+ inlined GEOREF gridPoint grid) →
    catalog columns (``TSX.scanMetadata``, drivers.py:2354-2392)."""
    xml = F.col(xml_col)
    fields = _tsx_fields(xml)
    outname = fields.pop("_outname")
    coords = _grid_coords(xml, "gridPoint")
    return df.select(
        "*",
        *[c.alias(n) for n, c in fields.items()],
        coords.alias("coordinates"),
        *[c.alias(n) for n, c in footprint_bbox(coords).items()],
        outname.alias("outname_base"),
    )


# ---------------------------------------------------------------------------
# TDM (drivers.py:2455-2525)
# ---------------------------------------------------------------------------


def parse_tdm(
    df: DataFrame, tdm_col: str = "xml", master_col: str = "master_xml"
) -> DataFrame:
    """TanDEM-X CoSSC annotation + the inSAR-master TSX annotation →
    catalog columns (``TDM.scanMetadata``, drivers.py:2455-2525).

    The reference opens the two component TSX scenes named in
    ``productComponents`` and lifts every acquisition field from the
    ``inSARmasterID`` one (drivers.py:2495-2519); here the master
    annotation is the document's ``scene_meta_tsx`` span
    (``master_col``) and the lift is the same TSX field expressions
    evaluated over it."""
    xml = F.col(tdm_col)
    master = _tsx_fields(F.col(master_col))
    master.pop("_outname")
    # the reference lifts acquisition fields but keeps the TDM mission
    # id as sensor and the CoSSC product type (drivers.py:2489-2492)
    master.pop("sensor")
    master.pop("product")
    tdm_sensor = F.regexp_replace(
        xml_path_tag(xml, "commonAcquisitionInfo", "missionID"), "-", ""
    )
    outname = outname_base_col(
        tdm_sensor, master["acquisition_mode"], master["orbit"], master["start"]
    )
    sat1 = xml_path_tag(xml, "commonAcquisitionInfo", "satelliteIDsat1")
    sat2 = xml_path_tag(xml, "commonAcquisitionInfo", "satelliteIDsat2")
    master_id = xml_tag(xml, "inSARmasterID")
    coop = xml_tag(xml, "cooperativeMode")
    coords = _grid_coords(xml, "sceneCornerCoord")
    return df.select(
        "*",
        tdm_sensor.alias("sensor"),
        xml_tag(xml, "productType").alias("product"),
        sat1.alias("SAT1"),
        sat2.alias("SAT2"),
        master_id.alias("inSARmasterID"),
        F.regexp_replace(
            F.when(master_id == "SAT1", sat1).otherwise(sat2), "-", ""
        ).alias("inSARmaster"),
        xml_tag(xml, "acquisitionItemID").cast("int").alias("acquisitionItemID"),
        xml_tag(xml, "effectiveBaseline").cast("double").alias("effectiveBaseline"),
        xml_tag(xml, "heightOfAmbiguity").cast("double").alias("heightOfAmbiguity"),
        xml_tag(xml, "distanceActivePos").cast("double").alias("distanceActivePos"),
        xml_tag(xml, "distanceTracks").cast("double").alias("distanceTracks"),
        coop.alias("cooperativeMode"),
        (F.lower(coop) == "bistatic").alias("bistatic"),
        # every acquisition field lifted from the inSAR master
        # (drivers.py:2505-2519)
        *[c.alias(n) for n, c in master.items()],
        coords.alias("coordinates"),
        *[c.alias(n) for n, c in footprint_bbox(coords).items()],
        outname.alias("outname_base"),
    )


# ---------------------------------------------------------------------------
# EORC_PSR text header (drivers.py:1519-1586)
# ---------------------------------------------------------------------------

PSR_ORBITS_PER_CYCLE = 207  # drivers.py:1568


def _line(arr: Column, idx0: int) -> Column:
    """0-based line lookup into the space-stripped header line array
    (the reference indexes ``header[i]`` after ``replace(' ', '')``,
    drivers.py:1521-1523)."""
    out = F.element_at(arr, idx0 + 1)
    return F.when(out != "", out)


def parse_psr_text(
    df: DataFrame, hdr_col: str = "hdr", facter_col: str = "facter"
) -> DataFrame:
    """ALOS-2 EORC_PSR summary text headers → catalog columns
    (``EORC_PSR.scanMetadata``, drivers.py:1519-1586): fields live at
    fixed LINE indices of the space-stripped header file, with raster
    dims + incidence coming from the ``facter_m.dat`` summary.

    Header line map (0-based, after space strip): sensor=2, product=3,
    cycle=5, date=6 (start==stop — the header carries no time of day,
    drivers.py:1543-1544), rel-orbit=7, orbit direction=9, mode=12,
    corner lat=33/35/37/39, lon=34/36/38/40, spacing=51/52, k_dB=64,
    processing facility=73. Facter map: samples=50, lines=51,
    incidence=119. ``orbitNumber_abs = 207*(cycle-1) + rel``
    (drivers.py:1566-1571; the reference's arithmetic implies the
    numeric cast of the cycle line). frameNumber is empty in the
    reference → NULL here."""
    hdr = F.split(F.regexp_replace(F.col(hdr_col), " ", ""), "\n")
    fac = F.split(F.regexp_replace(F.col(facter_col), " ", ""), "\n")
    sensor = _line(hdr, 2)
    mode = _line(hdr, 12)
    orbit = _line(hdr, 9)
    start = _line(hdr, 6)
    cycle = _line(hdr, 5).cast("int")
    rel = _line(hdr, 7).cast("int")
    lats = [_line(hdr, i).cast("double") for i in (33, 35, 37, 39)]
    lons = [_line(hdr, i).cast("double") for i in (34, 36, 38, 40)]
    coords = F.array(*[F.array(lo, la) for lo, la in zip(lons, lats)])
    return df.select(
        "*",
        sensor.alias("sensor"),
        mode.alias("acquisition_mode"),
        _line(hdr, 3).alias("product"),
        orbit.alias("orbit"),
        start.alias("start"),
        start.alias("stop"),
        (F.lit(PSR_ORBITS_PER_CYCLE) * (cycle - 1) + rel)
        .cast("int")
        .alias("orbitNumber_abs"),
        rel.alias("orbitNumber_rel"),
        cycle.alias("cycleNumber"),
        F.lit(None).cast("int").alias("frameNumber"),
        _line(fac, 50).cast("double").cast("int").alias("samples"),
        _line(fac, 51).cast("double").cast("int").alias("lines"),
        _line(fac, 119).cast("double").alias("incidence"),
        _line(hdr, 51).cast("double").alias("spacing_rg"),
        _line(hdr, 52).cast("double").alias("spacing_az"),
        _line(hdr, 64).cast("double").alias("k_dB"),
        _line(hdr, 73).alias("proc_facility"),
        coords.alias("coordinates"),
        F.least(*lons).alias("xmin"),
        F.greatest(*lons).alias("xmax"),
        F.least(*lats).alias("ymin"),
        F.greatest(*lats).alias("ymax"),
        outname_base_col(sensor, mode, orbit, start).alias("outname_base"),
    )


# ---------------------------------------------------------------------------
# multi-dialect identify funnel
# ---------------------------------------------------------------------------

# catalog columns every dialect funnels into (S1/S2 identify contract)
CORE_COLUMNS = [
    "doc_id", "sensor", "acquisition_mode", "product", "orbit", "start",
    "stop", "orbitNumber_abs", "orbitNumber_rel", "cycleNumber",
    "frameNumber", "samples", "lines", "polarizations", "coordinates",
    "xmin", "xmax", "ymin", "ymax", "outname_base",
]


_CORE_TYPES = {
    "orbitNumber_abs": "int", "orbitNumber_rel": "int", "cycleNumber": "int",
    "frameNumber": "int", "samples": "int", "lines": "int",
    "xmin": "double", "xmax": "double", "ymin": "double", "ymax": "double",
    "polarizations": "array<string>", "coordinates": "array<array<double>>",
}


def _packed(df: DataFrame, parse_fn, name: str, present: Column) -> DataFrame:
    """Run one dialect parser over its (mostly-NULL) text column and
    pack its outputs into a single nullable struct with the shared CORE
    shape — NULL unless the span is present AND the parser produced a
    sensor. The parser's raw output columns are dropped immediately, so
    successive dialects never collide on names."""
    parsed = parse_fn(df)
    new_cols = set(parsed.columns) - set(df.columns)
    fields = [
        (F.col(c) if c in new_cols else F.lit(None))
        .cast(_CORE_TYPES.get(c, "string"))
        .alias(c)
        for c in CORE_COLUMNS
        if c != "doc_id"
    ]
    struct = F.when(present & F.col("sensor").isNotNull(), F.struct(*fields))
    return parsed.select(*df.columns, struct.alias(name))


def identify_spans(docs: DataFrame) -> DataFrame:
    """``identify_many`` across every metadata dialect — SINGLE PASS
    (round 4): one projection lifts every dialect's span text out of
    the spans array, every parser runs as pure column expressions over
    its (mostly-NULL) text column in the same stage, and the
    per-dialect structs coalesce by handler priority (JSON, SAFE,
    DIMAP, TDM, TSX, PSR — a TSX span with a TDM sibling is the TDM
    master, so TDM-before-TSX priority replaces the old anti-join).
    One row per identifiable document, FIRST recognized dialect wins.
    The reference's ``identify`` tries each handler until one succeeds
    (``drivers.py:118-160``) but iterates ``list(set(subclasses))``,
    whose order is nondeterministic — this engine fixes a DETERMINISTIC
    priority (a deliberate strengthening, not exact parity; only
    multi-dialect documents, which the reference resolves arbitrarily,
    can differ). The previous 6-branch union emitted one row per
    matching dialect and scanned the input once per branch — 6× the
    I/O at 100 TB. Documents with no recognized metadata span are
    dropped. The coalesced struct is bound behind a Generate barrier
    so the whole cascade evaluates once per row."""
    from pyrosar_spark.operators.dedup import bind
    from pyrosar_spark.operators.xmlmeta import parse_safe_manifest

    kinds = {
        "t_json": "scene_meta", "t_safe": "scene_meta_xml",
        "t_dimap": "scene_meta_dimap", "t_tsx": "scene_meta_tsx",
        "t_tdm": "scene_meta_tdm", "t_psr": "scene_meta_psr",
        "t_facter": "scene_meta_psr_facter",
    }
    # every span text lifted behind one Generate barrier: each parser
    # reads its text many times, and each read would otherwise inline
    # the interpreted span filter again
    texts = F.struct(*[span_text(F.col("spans"), k).alias(a) for a, k in kinds.items()])
    cur = bind(docs, "_t", texts).select("doc_id", "_t.*")
    lift_cols = list(cur.columns)

    # JSON dialect inline (the docs_to_scenes parse pruned to the CORE
    # fields; one from_json behind a Generate barrier). Field names and
    # types come from the SAME table ingest.docs_to_scenes parses from.
    json_needed = {
        "sensor", "acquisition_mode", "product", "orbit", "start", "stop",
        "orbitNumber_abs", "orbitNumber_rel", "cycleNumber", "frameNumber",
        "samples", "lines", "polarizations", "coordinates",
    }
    schema = ", ".join(f"{n} {t}" for n, t in _META_FIELD_TYPES if n in json_needed)
    cur = bind(
        cur,
        "_mj",
        F.from_json(
            F.expr("substring(t_json, instr(t_json, '|') + 1)"), schema
        ),
    )
    m = F.col("_mj")
    json_fields = {
        **{c: m[c] for c in (
            "sensor", "acquisition_mode", "product", "orbit", "start", "stop",
            "orbitNumber_abs", "orbitNumber_rel", "cycleNumber", "frameNumber",
            "samples", "lines", "coordinates",
        )},
        # fixed-order known-pol normalization (matches the catalog's
        # denormalized flag order); a document with NO polarizations
        # field must yield [], not the NULL array_intersect propagates
        # (ADVICE r4)
        "polarizations": F.coalesce(
            F.array_intersect(
                F.array(*[F.lit(p) for p in ("HH", "VV", "HV", "VH")]),
                m["polarizations"],
            ),
            F.array().cast("array<string>"),
        ),
        **footprint_bbox(m["coordinates"]),
        "outname_base": outname_base_col(
            m["sensor"], m["acquisition_mode"], m["orbit"], m["start"]
        ),
    }
    json_struct = F.when(
        F.col("t_json").isNotNull() & m["sensor"].isNotNull(),
        F.struct(
            *[
                json_fields[c].cast(_CORE_TYPES.get(c, "string")).alias(c)
                for c in CORE_COLUMNS
                if c != "doc_id"
            ]
        ),
    )
    cur = cur.select(*lift_cols, json_struct.alias("_p_json"))

    dialects = [
        ("_p_safe", lambda d: parse_safe_manifest(d, "t_safe"), "t_safe"),
        ("_p_dimap", lambda d: parse_dimap(d, "t_dimap"), "t_dimap"),
        ("_p_tdm", lambda d: parse_tdm(d, "t_tdm", "t_tsx"), "t_tdm"),
        ("_p_tsx", lambda d: parse_tsx(d, "t_tsx"), "t_tsx"),
        ("_p_psr", lambda d: parse_psr_text(d, "t_psr", "t_facter"), "t_psr"),
    ]
    for name, fn, text in dialects:
        cur = _packed(cur, fn, name, F.col(text).isNotNull())

    out = bind(
        cur,
        "_m",
        F.coalesce(
            "_p_json", "_p_safe", "_p_dimap", "_p_tdm", "_p_tsx", "_p_psr"
        ),
    )
    return out.where(F.col("_m").isNotNull()).select("doc_id", "_m.*")
