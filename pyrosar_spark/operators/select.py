"""``Archive.select`` — the reference's query surface as a DataFrame
plan builder (``pyroSAR/archive.py:902-1113``).

Semantic parity points (SURVEY §2.2):
 - P1/P2 scalar equality and IN-lists; values compared after string
   cast like the reference's ``k='{v}'`` textual SQL;
 - P3 ``scene LIKE '%basename%'``;
 - P4/P5 ``date_strict`` toggles fully-inside vs overlap range on the
   lexicographic ``YYYYmmddTHHMMSS`` strings;
 - P6 malformed min/max dates are *ignored with a warning*, not errors;
 - P7 polarization flags ``{pol}=1`` with unknown pols silently dropped;
 - P9 kwargs not matching a column are logged and dropped;
 - P10 projection incl. virtual columns mindate/maxdate/geometry_wkt/
   geometry_wkb; invalid names raise ValueError;
 - P11 ``processdir`` anti-filter as an anti-join (never per-row I/O).

Every non-spatial predicate is a plain Catalyst filter → pushed into
the parquet/Iceberg scan. The spatial predicate (P8/J1) is a
bbox-prefilter (JVM) + exact polygon test, also JVM: for a convex AOI
the compiled separating-axis test of :func:`spatial.sat_refine`, for
any other AOI :func:`spatial.rings_intersect_jvm`, the refine of the
many-AOI :func:`spatial.spatial_join`.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark import geom
from pyrosar_spark.operators.ingest import ring_to_wkb_udf, ring_to_wkt_udf

log = logging.getLogger(__name__)

VIRTUAL_RETURNS = {"mindate": "start", "maxdate": "stop"}
GEOM_RETURNS = ("geometry_wkt", "geometry_wkb")
_STAMP_RE = re.compile("[0-9]{8}T[0-9]{6}")


def select(
    scenes: DataFrame,
    sensor=None,
    product=None,
    acquisition_mode=None,
    mindate: str | None = None,
    maxdate: str | None = None,
    aoi_wkt: str | None = None,
    date_strict: bool = True,
    polarizations: list[str] | None = None,
    processed_names: DataFrame | None = None,
    return_value=None,
    **kwargs,
) -> DataFrame:
    """Build the reference's conjunctive SELECT as a DataFrame.

    ``processed_names`` is a one-column DataFrame (``filename``) standing
    in for the reference's ``processdir`` directory listing; rows whose
    ``outname_base`` is contained in any filename are anti-filtered
    (``archive.py:1092-1095``).

    The AOI's shape picks the exact-intersects kernel after the bbox
    prefilter; both are JVM column expressions, with no Python workers
    (an ArrowEvalPython stage demands ~2× the parallelism level in
    cores, the worst in-box scaling term measured: BENCH/BASELINE.md
    round 5). A CONVEX AOI takes the separating-axis test over the raw
    corner points, so not even the hull runs; a concave or degenerate
    AOI takes :func:`spatial.rings_intersect_jvm` over the footprint
    ring.
    """
    valid_cols = set(scenes.columns)
    df = scenes

    # P10 projection validation happens before any filtering (reference
    # raises before executing: archive.py:986-995)
    if return_value is None:
        return_values = ["scene"]
    elif isinstance(return_value, str):
        return_values = [return_value]
    else:
        return_values = list(return_value)
    invalid = [
        v
        for v in return_values
        if v not in valid_cols and v not in VIRTUAL_RETURNS and v not in GEOM_RETURNS
    ]
    if invalid:
        raise ValueError(
            "The following options are not supported as return values: "
            + ", ".join(invalid)
        )

    # P9: unknown kwargs dropped with a log line (archive.py:997-1001);
    # kwargs matching a REGISTERED `meta` map key (custom_fields,
    # archive.py:396-403) filter on the map value instead. Only keys the
    # catalog actually registered count — an unregistered/typo'd key
    # must fall through to the drop-with-log path, not silently match
    # NULL and empty the result (ADVICE r2). The registered set rides on
    # the meta column's schema metadata (attached by docs_to_scenes).
    # A meta column WITHOUT that metadata (a catalog written before key
    # registration existed, or a transformation that rebuilt the
    # column) falls back to the old filter-on-map-value behavior with a
    # loud warning instead of silently no-op'ing the filter (ADVICE r3).
    registered: set[str] = set()
    meta_untracked = False
    if "meta" in valid_cols:
        try:
            registered = set(scenes.schema["meta"].metadata.get("meta_keys", []))
        except (KeyError, TypeError):
            registered = set()
        meta_untracked = not registered
    meta_kwargs = {}
    for key in list(kwargs):
        if key not in valid_cols:
            if key in registered:
                meta_kwargs[key] = kwargs.pop(key)
            elif meta_untracked:
                log.warning(
                    "meta column carries no registered-key metadata (catalog "
                    "written before key registration?) — filtering kwarg %r on "
                    "the map value; regenerate the catalog with "
                    "docs_to_scenes(meta_keys=...) to get typo detection",
                    key,
                )
                meta_kwargs[key] = kwargs.pop(key)
            else:
                log.info("ignoring argument not registered in the catalog: %s", key)
                kwargs.pop(key)

    def eq_or_in(col: Column, v) -> Column:
        if isinstance(v, (tuple, list)):
            return col.cast("string").isin([str(x) for x in v])
        return col.cast("string") == str(v)

    for key, v in kwargs.items():
        if key == "scene":  # P3: LIKE '%basename%'
            df = df.where(F.col("scene").contains(str(v).split("/")[-1]))
        else:
            df = df.where(eq_or_in(F.col(key), v))

    for key, v in meta_kwargs.items():
        df = df.where(eq_or_in(F.col("meta").getItem(key), v))

    for col, v in (("sensor", sensor), ("product", product), ("acquisition_mode", acquisition_mode)):
        if v:
            df = df.where(eq_or_in(F.col(col), v))

    # P4/P5/P6 date range on lexicographic stamps
    if mindate:
        if _STAMP_RE.search(str(mindate)):
            df = df.where(
                (F.col("start") >= mindate) if date_strict else (F.col("stop") >= mindate)
            )
        else:
            log.info("WARNING: argument mindate is ignored, must be YYYYmmddTHHMMSS")
    if maxdate:
        if _STAMP_RE.search(str(maxdate)):
            df = df.where(
                (F.col("stop") <= maxdate) if date_strict else (F.col("start") <= maxdate)
            )
        else:
            log.info("WARNING: argument maxdate is ignored, must be YYYYmmddTHHMMSS")

    # P7 polarization flags; unknown strings silently ignored
    for pol in polarizations or []:
        if pol in ("HH", "VV", "HV", "VH"):
            df = df.where(F.col(pol.lower()) == 1)

    # P8/J1 spatial: bbox prefilter (JVM, prunable) + exact refine
    # (JVM SAT for a convex AOI, the JVM ring test otherwise). On a
    # deferred-geometry catalog (no ring column) the ring is the hull of
    # the corners, bound HERE — after every JVM filter, so the one
    # Python stage only sees their survivors — as one column that the
    # refine and the geometry projections share. A plain Project, which
    # Catalyst may inline into each use: behind a Generate barrier the
    # hull ran once, but the extra Arrow stage made a deferred convex
    # select with WKT/WKB slower (20k docs, 4 cores: 1.9 s vs 1.3 s).
    def with_ring(df: DataFrame) -> DataFrame:
        if "ring" in df.columns:
            return df
        from pyrosar_spark.operators.ingest import ring_from_corners_udf

        return df.withColumn("ring", ring_from_corners_udf(F.col("corners")))

    if aoi_wkt:
        # one feature, no interior ring (geom.wkt_to_ring raises)
        ring = geom.wkt_to_ring(aoi_wkt)
        axmin, aymin = ring.min(axis=0)
        axmax, aymax = ring.max(axis=0)
        df = df.where(
            (F.col("xmin") <= float(axmax))
            & (F.col("xmax") >= float(axmin))
            & (F.col("ymin") <= float(aymax))
            & (F.col("ymax") >= float(aymin))
        )
        from pyrosar_spark.operators.spatial import (
            aoi_ring_is_convex,
            corner_points,
            ring_points,
            rings_intersect_jvm,
            sat_refine,
        )

        if aoi_ring_is_convex(ring):
            # JVM SAT path over the RAW geometry column — corners when
            # available (skips the hull entirely), else the ring
            # vertices (hull points; same hull, same answer).
            # The SAT's points and orientation terms are bound once per
            # row behind inline(array(...)) Generate barriers
            # (spatial.sat_refine): a Project would be inlined into
            # every reference (CollapseProject, filter pushdown). That
            # costs seconds of Catalyst analysis when the geometry is
            # the deferred from_json parse, and a generated method too
            # big for Janino, which runs the stage interpreted.
            cols = df.columns
            geo = "corners" if "corners" in cols else "ring"
            points = corner_points(geo) if geo == "corners" else ring_points(geo)
            binds, conds = sat_refine(points, ring)
            for bind in binds:
                df = df.selectExpr("*", f"inline({bind})")
            for cond in conds:
                df = df.where(cond)
            df = df.select(*cols)
        else:
            # the AOI ring as one literal array column, bound once
            aoi = F.lit([float(v) for v in ring.reshape(-1)])
            df = (
                with_ring(df)
                .withColumn("_aoi_ring", aoi)
                .where(rings_intersect_jvm("ring", "_aoi_ring"))
                .drop("_aoi_ring")
            )

    # P11 processdir anti-filter (``archive.py:1092-1095``): the
    # reference tests ``outname_base in filename`` per file. A contains
    # predicate is a broadcast nested-loop (O(scenes × files) — fatal at
    # a 10^8-file manifest), but outname_base has a fixed shape
    # (padded sensor _ padded mode _ orbit _ stamp), so extract every
    # well-formed base from each processed filename and anti EQUI-join —
    # shuffle-partitionable, AQE-broadcastable.
    if processed_names is not None:
        base_re = "[A-Z0-9][A-Z0-9_]{3}_[A-Z0-9][A-Z0-9_]{3}_[AD]_[0-9]{8}T[0-9]{6}"
        done = (
            processed_names.select(
                F.explode(
                    F.regexp_extract_all("filename", F.lit(base_re), 0)
                ).alias("outname_base")
            )
            .distinct()
        )
        df = df.join(done, on="outname_base", how="left_anti")

    # P10 projection
    if any(v in GEOM_RETURNS for v in return_values):
        df = with_ring(df)
    proj = []
    for v in return_values:
        if v in VIRTUAL_RETURNS:
            proj.append(F.col(VIRTUAL_RETURNS[v]).alias(v))
        elif v == "geometry_wkt":
            proj.append(ring_to_wkt_udf(F.col("ring")).alias("geometry_wkt"))
        elif v == "geometry_wkb":
            proj.append(ring_to_wkb_udf(F.col("ring")).alias("geometry_wkb"))
        else:
            proj.append(F.col(v))
    return df.select(*proj)
