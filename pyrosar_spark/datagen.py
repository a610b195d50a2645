"""Deterministic synthetic interleaved-document generator.

Builds the engine's primary input table per the driver ``input_hint``:
``documents(doc_id: string, spans: array<struct<kind:string, text:string,
media_ref:string, offset:int>>)``. One ``scene_meta`` span per document
carries a SAFE-style scene name plus a JSON record of the 16
standardized metadata keys (reference ``pyroSAR/config.py:20-25``) and
the footprint corner coordinates; ``text`` spans are filler; ``chip``
spans carry synthetic ``media_ref`` raster-chip keys.

Everything is derived columnarly from ``spark.range(n)`` via
``xxhash64`` — no driver-side RNG, no Python UDFs — so the same
generator runs at 10^12 rows on a cluster. Seeded and deterministic.

``orbitNumber_rel`` is drawn from a power-law-skewed distribution over
175 tracks (S1-like) to create the orbit-track hotspots that the
salted joins must handle (SURVEY §2.3 J-coverage note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_TRACKS = 175

# golden scenes lifted from the reference test suite so unit goldens
# (outname_base, WKT, tile counts) can be asserted exactly
# (reference tests/test_drivers.py:20-57, FIXTURES.md §2)
GOLDEN_SCENES = [
    {
        "doc_id": "golden_s1",
        "sensor": "S1A",
        "acquisition_mode": "IW",
        "product": "GRD",
        "orbit": "A",
        "start": "20150222T170750",
        "stop": "20150222T170815",
        "orbitNumber_abs": 4739,
        "orbitNumber_rel": 117,
        "cycleNumber": 43,
        "frameNumber": 159,
        "samples": 25368,
        "lines": 16685,
        "polarizations": ["VV", "VH"],
        "coordinates": [
            [12.0268, 50.688881],
            [11.653832, 52.183979],
            [8.017178, 51.788181],
            [8.505644, 50.295261],
        ],
        "scene": "S1A_IW_GRDH_1SDV_20150222T170750_20150222T170815_004739_005DB3_1234.zip",
    },
    {
        "doc_id": "golden_psr2",
        "sensor": "PSR2",
        "acquisition_mode": "FBD",
        "product": "1.5",
        "orbit": "A",
        "start": "20140909T043342",
        "stop": "20140909T043352",
        "orbitNumber_abs": 1783,
        "orbitNumber_rel": 111,
        "cycleNumber": 17,
        "frameNumber": 3050,
        "samples": 12870,
        "lines": 13160,
        "polarizations": ["HH", "HV"],
        "coordinates": [
            [-62.1629744, -10.6783401],
            [-62.9005207, -10.8278276],
            [-62.1629744, -11.2738201],
            [-62.6585706, -11.4233051],
        ],
        "scene": "0000022708_001001_ALOS2014410970-140909.zip",
    },
]

META_KEYS = (
    "sensor acquisition_mode product orbit start stop orbitNumber_abs "
    "orbitNumber_rel cycleNumber frameNumber samples lines"
).split()

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

DOC_SCHEMA = f"doc_id string, spans {SPAN_SCHEMA}"


def _u(seed: int, tag: str) -> F.Column:
    """Deterministic uniform [0,1) derived from the row id."""
    h = F.xxhash64(F.col("id"), F.lit(seed), F.lit(tag))
    return (F.pmod(h, F.lit(1_000_000_007)).cast("double")) / 1_000_000_007.0


def _pick(u: F.Column, options: list[str]) -> F.Column:
    n = len(options)
    idx = F.floor(u * n).cast("int")
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, idx + 1)


def generate_documents(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    include_golden: bool = True,
    n_partitions: int | None = None,
    text_source: DataFrame | None = None,
) -> DataFrame:
    """Interleaved-documents table, deterministic in (n_docs, seed).

    ``text_source`` (optional): a DataFrame with columns ``(id, text)``
    to use as the document base and the filler-text span instead of the
    synthetic one — used to lift a plain text corpus (e.g. the driver's
    ``documents.parquet``) into the interleaved-span shape.
    """
    if text_source is not None:
        base = text_source
    else:
        base = spark.range(n_docs, numPartitions=n_partitions)

    u_track = _u(seed, "track")
    track = (F.floor(F.pow(u_track, 3.0) * N_TRACKS) + 1).cast("int")
    cycle = (F.floor(_u(seed, "cycle") * 60) + 1).cast("int")
    orbit_abs = (track + cycle * N_TRACKS).cast("int")
    frame = (F.floor(_u(seed, "frame") * 1800) + 1).cast("int")

    sensor = _pick(_u(seed, "sensor"), ["S1A", "S1A", "S1A", "S1B", "S1B", "PSR2"])
    mode = F.when(sensor == "PSR2", _pick(_u(seed, "mode"), ["FBD", "FBS"])).otherwise(
        _pick(_u(seed, "mode"), ["IW", "IW", "IW", "EW"])
    )
    product = F.when(sensor == "PSR2", F.lit("1.5")).otherwise(
        _pick(_u(seed, "prod"), ["GRD", "GRD", "SLC"])
    )
    orbit = _pick(_u(seed, "orbit"), ["A", "D"])
    pols = _pick(_u(seed, "pols"), ["VV/VH", "VV/VH", "HH/HV", "VV", "HH"])
    polarizations = F.split(pols, "/")

    # acquisition time: 2015 epoch + uniform offset within one year,
    # quantized to 5-minute slots so time-gap grouping has real sessions
    t0 = F.to_timestamp(F.lit("2015-01-01 00:00:00"))
    offs = F.floor(_u(seed, "time") * 365 * 86400 / 25).cast("long") * 25
    start_ts = F.timestamp_seconds(F.unix_timestamp(t0) + offs)
    stop_ts = F.timestamp_seconds(F.unix_timestamp(t0) + offs + 25)
    start = F.date_format(start_ts, "yyyyMMdd'T'HHmmss")
    stop = F.date_format(stop_ts, "yyyyMMdd'T'HHmmss")

    # footprint: center clustered by track (hotspot geometry mirrors the
    # hotspot key), sheared S1-like quad ~ 3.5° x 1.9°
    lon0 = (track.cast("double") / N_TRACKS) * 340.0 - 170.0 + _u(seed, "lonj") * 8.0
    lat0 = _u(seed, "lat") * 100.0 - 52.0
    r6 = lambda c: F.round(c, 6)  # noqa: E731
    coords = F.array(
        F.array(r6(lon0 + 3.5), r6(lat0 + 0.39)),
        F.array(r6(lon0 + 3.1), r6(lat0 + 1.89)),
        F.array(r6(lon0), r6(lat0 + 1.49)),
        F.array(r6(lon0 + 0.49), r6(lat0)),
    )

    scene_name = F.concat(
        sensor, F.lit("_"), mode, F.lit("_"), product,
        F.when(product == "GRD", "H").otherwise("_"),
        F.lit("_1SDV_"), start, F.lit("_"), stop, F.lit("_"),
        F.lpad(orbit_abs.cast("string"), 6, "0"), F.lit("_"),
        F.upper(F.hex(F.pmod(F.xxhash64(F.col("id"), F.lit("dt")), F.lit(16777215)))),
        F.lit(".zip"),
    )

    meta_json = F.to_json(
        F.struct(
            sensor.alias("sensor"),
            mode.alias("acquisition_mode"),
            product.alias("product"),
            orbit.alias("orbit"),
            start.alias("start"),
            stop.alias("stop"),
            orbit_abs.alias("orbitNumber_abs"),
            track.alias("orbitNumber_rel"),
            cycle.alias("cycleNumber"),
            frame.alias("frameNumber"),
            (F.floor(_u(seed, "samples") * 20000) + 10000).cast("int").alias("samples"),
            (F.floor(_u(seed, "lines") * 12000) + 8000).cast("int").alias("lines"),
            polarizations.alias("polarizations"),
            coords.alias("coordinates"),
            F.lit("+proj=longlat +datum=WGS84 +no_defs").alias("projection"),
            F.array(F.lit(10.0), F.lit(10.0)).alias("spacing"),
            scene_name.alias("scene"),
        )
    )

    doc_id = F.format_string("doc_%012d", F.col("id"))
    n_chips = (F.pmod(F.xxhash64(F.col("id"), F.lit("nchips")), F.lit(3)) + 1).cast("int")
    if text_source is not None:
        filler = F.col("text")
    else:
        filler = F.concat(
            F.lit("acquisition report "), scene_name, F.lit(" track="), track.cast("string")
        )
    span_meta = F.struct(
        F.lit("scene_meta").alias("kind"),
        F.concat(scene_name, F.lit("|"), meta_json).alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    span_text = F.struct(
        F.lit("text").alias("kind"),
        filler.alias("text"),
        F.lit("").alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    chip_spans = F.transform(
        F.sequence(F.lit(0), n_chips - 1),
        lambda i: F.struct(
            F.lit("chip").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("chip://"), doc_id, F.lit("/"), i.cast("string")).alias(
                "media_ref"
            ),
            (i + F.lit(2)).cast("int").alias("offset"),
        ),
    )
    spans = F.concat(F.array(span_meta, span_text), chip_spans)

    docs = base.select(doc_id.alias("doc_id"), spans.alias("spans"))

    if include_golden:
        docs = docs.unionByName(golden_documents(spark))
    return docs


def docs_from_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift the driver's plain ``documents.parquet`` corpus into the
    interleaved-span input shape: one scene_meta span (synthesized
    deterministically from the doc id), the corpus text as the text
    span, plus chip spans."""
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("id"), "text"
    )
    return generate_documents(
        spark, -1, seed=42, include_golden=False, text_source=corpus
    )


def golden_documents(spark: SparkSession) -> DataFrame:
    """The two golden scenes as literal documents (FIXTURES.md §2)."""
    import json

    rows = []
    for g in GOLDEN_SCENES:
        meta = {k: g[k] for k in META_KEYS}
        meta["polarizations"] = g["polarizations"]
        meta["coordinates"] = g["coordinates"]
        meta["projection"] = "+proj=longlat +datum=WGS84 +no_defs"
        meta["spacing"] = [10.0, 10.0]
        meta["scene"] = g["scene"]
        text = g["scene"] + "|" + json.dumps(meta)
        spans = [
            ("scene_meta", text, "", 0),
            ("text", "golden filler " + g["doc_id"], "", 1),
            ("chip", "", f"chip://{g['doc_id']}/0", 2),
        ]
        rows.append((g["doc_id"], spans))
    return spark.createDataFrame(rows, DOC_SCHEMA)


def generate_geo_ads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic ESA GEOLOCATION GRID ADS binary records, one per
    corpus document — packed big-endian per the reference layout
    (``drivers.py:1700-1760``; lengths ``[12,1,4,4,4,220,22,12,220,3,
    19]``) — alongside the EXPECTED decoded values as plain columns.
    The engine query parses only the ``rec`` bytes; the oracle reads
    the expected columns from the same handoff, so the fixed-offset
    big-endian unpack is verified against independently-stored values.

    Every numeric is chosen float32-exact (quarters / power-of-two
    fractions), so the f32→f64 round-trip is bitwise reproducible.
    Deterministic in doc_id — no RNG.
    """
    import struct

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")

    out_schema = (
        "doc_id bigint, rec binary, e_first_time double, e_last_time double, "
        "e_line_num int, e_num_lines int, e_sub_sat double, e_swath string, "
        "e_grp array<string>, e_idx array<int>, e_sample array<bigint>, "
        "e_slant array<double>, e_inc array<double>, "
        "e_lat array<double>, e_lon array<double>"
    )

    def build(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                days = 5000 + did % 1000
                sec = did % 86400
                micro = (did * 7) % 1000000
                line_num = (did % 4) * 1000 + 1
                num_lines = 1000
                sub_sat = float(did % 360) + 0.25
                swath = f"IS{did % 7 + 1}"
                lat0 = (did % 120 - 60) * 1_000_000
                lon0 = (did % 300 - 150) * 1_000_000
                grp_a, idx_a, sample_a = [], [], []
                slant_a, inc_a, lat_a, lon_a = [], [], [], []
                blocks = {}
                for gi, grp in enumerate(("first", "last")):
                    samples = [j * 2000 for j in range(11)]
                    slants = [(5 + j + gi) / 1024.0 for j in range(11)]
                    incs = [19.0 + j * 0.25 + (did % 16) * 0.0625 + gi * 0.5
                            for j in range(11)]
                    lats = [lat0 + j * 1000 - gi * 15000 for j in range(11)]
                    lons = [lon0 + j * 2000 + gi * 3000 for j in range(11)]
                    blocks[grp] = struct.pack(
                        ">" + "L" * 11, *samples
                    ) + struct.pack(
                        ">" + "f" * 11, *slants
                    ) + struct.pack(
                        ">" + "f" * 11, *incs
                    ) + struct.pack(
                        ">" + "l" * 11, *lats
                    ) + struct.pack(">" + "l" * 11, *lons)
                    for j in range(11):
                        grp_a.append(grp)
                        idx_a.append(j)
                        sample_a.append(samples[j])
                        # float32 round-trip exactly as the parser sees it
                        slant_a.append(
                            float(struct.unpack(">f", struct.pack(">f", slants[j]))[0])
                        )
                        inc_a.append(
                            float(struct.unpack(">f", struct.pack(">f", incs[j]))[0])
                        )
                        lat_a.append(lats[j] / 1e6)
                        lon_a.append(lons[j] / 1e6)
                rec = (
                    struct.pack(">lLL", days, sec, micro)
                    + b"\x01"
                    + struct.pack(">LLf", line_num, num_lines, sub_sat)
                    + blocks["first"]
                    + b" " * 22
                    + struct.pack(">lLL", days, sec + 90, micro)
                    + blocks["last"]
                    + swath.encode("ascii")
                    + b" " * 19
                )
                t0 = days * 86400.0 + sec + micro / 1e6
                t1 = days * 86400.0 + (sec + 90) + micro / 1e6
                rows.append(
                    (did, rec, t0, t1, line_num, num_lines, sub_sat, swath,
                     grp_a, idx_a, sample_a, slant_a, inc_a, lat_a, lon_a)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "rec", "e_first_time", "e_last_time",
                    "e_line_num", "e_num_lines", "e_sub_sat", "e_swath",
                    "e_grp", "e_idx", "e_sample", "e_slant", "e_inc",
                    "e_lat", "e_lon",
                ],
            )

    return docs.mapInPandas(build, out_schema)


def generate_osv(spark: SparkSession, n_files: int = 2000, seed: int = 42) -> DataFrame:
    """Synthetic orbit-file interval table (FIXTURES.md §5).

    POE files: one per day per sensor, validity [d-1 02:00, d+1 22:00]
    (reference POE files span ~2 days around the acquisition date;
    ``S1/auxil.py:124-129`` parses start/stop/publish from the name).
    RES files: 6-hourly, ~3h span, published quickly.
    """
    base = spark.range(n_files)
    sensor = _pick(_u(seed, "osv_sensor"), ["S1A", "S1B"])
    typ = _pick(_u(seed, "osv_type"), ["POE", "RES", "RES"])
    day = F.floor(_u(seed, "osv_day") * 365).cast("long")
    t0 = F.unix_timestamp(F.to_timestamp(F.lit("2015-01-01 00:00:00")))
    fmt = "yyyyMMdd'T'HHmmss"
    start_s = F.when(typ == "POE", t0 + day * 86400 - 79200).otherwise(
        t0 + day * 86400 + F.floor(_u(seed, "osv_h") * 4).cast("long") * 21600
    )
    stop_s = F.when(typ == "POE", start_s + 2 * 86400 - 1).otherwise(start_s + 10800)
    pub_s = F.when(typ == "POE", stop_s + 14 * 86400).otherwise(stop_s + 10800)
    start = F.date_format(F.timestamp_seconds(start_s), fmt)
    stop = F.date_format(F.timestamp_seconds(stop_s), fmt)
    publish = F.date_format(F.timestamp_seconds(pub_s), fmt)
    fname = F.concat(
        sensor,
        F.when(typ == "POE", "_OPER_AUX_POEORB_OPOD_").otherwise("_OPER_AUX_RESORB_OPOD_"),
        publish, F.lit("_V"), start, F.lit("_"), stop, F.lit(".EOF"),
    )
    return base.select(
        sensor.alias("sensor"),
        typ.alias("type"),
        publish.alias("publish"),
        start.alias("start"),
        stop.alias("stop"),
        fname.alias("filename"),
    ).distinct()


def generate_incidence_rasters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic ENVI tie-point rasters (``tie_point_grids/
    incident_angle.img`` + ``.hdr``) for the documents whose DIMAP
    metadata carries no incidence at all (``doc_id % 7 == 0`` in the
    ``dimap_incidence`` query) — alongside the EXPECTED pixel values as
    a plain double array, the same engine-vs-oracle split as
    :func:`generate_geo_ads`: the engine decodes only (hdr, payload);
    the oracle aggregates ``e_px``.

    The grid rotates through ENVI data types f4/i2/f8/u2, both byte
    orders, and a 16-byte junk header offset on every third raster.
    Pixel values are dyadic (quarters / small ints), so float32 round-
    trips and any-order summation are bitwise exact; every 11th pixel
    (phase 3) is zeroed to exercise the reference's non-zero mask
    (``drivers.py:916``)."""
    import numpy as np
    import pandas as pd

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id")
        .filter(F.col("doc_id") % 7 == 0)
    )
    out_schema = "doc_id bigint, hdr string, payload binary, e_px array<double>"

    def build(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                samples = 4 + did % 5
                lines = 8
                code = (4, 2, 5, 12)[(did // 7) % 4]
                big = did % 2 == 1
                offset = 16 if did % 3 == 0 else 0
                n = samples * lines
                raw = (did * 31 + np.arange(n) * 7) % 241
                if code in (4, 5):
                    vals = raw / 4.0
                else:
                    vals = raw.astype(np.int64)
                vals = np.where(np.arange(n) % 11 == 3, 0, vals)
                np_dt = {4: "f4", 2: "i2", 5: "f8", 12: "u2"}[code]
                arr = vals.astype((">" if big else "<") + np_dt)
                payload = (b"\xab" * offset) + arr.tobytes()
                hdr = (
                    "ENVI\n"
                    f"samples = {samples}\n"
                    f"lines = {lines}\n"
                    "bands = 1\n"
                    f"header offset = {offset}\n"
                    f"data type = {code}\n"
                    "interleave = bsq\n"
                    f"byte order = {1 if big else 0}\n"
                )
                rows.append((did, hdr, payload, [float(v) for v in vals]))
            yield pd.DataFrame(rows, columns=["doc_id", "hdr", "payload", "e_px"])

    return docs.mapInPandas(build, out_schema)
