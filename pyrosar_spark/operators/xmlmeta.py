"""SAFE-manifest XML metadata extraction (S4 XML variant).

Reference semantics (``pyroSAR/drivers.py:2205-2294``, SAFE.scanMetadata):
the Sentinel-1 ``manifest.safe`` XML yields acquisition_mode, orbit
(``ASCENDING``/``DESCENDING`` → ``A``/``D``), absolute + relative orbit
numbers, product type, sensor (missionId), start/stop timestamps and
the footprint from ``<gml:coordinates>`` (which SAFE stores as
``lat,lon`` pairs — the reference swaps to ``(lon, lat)``,
``drivers.py:2271-2276``). Polarisations come from repeated
``<transmitterReceiverPolarisation>`` elements.

Spark shape: the manifest text is a span payload (kind
``scene_meta_xml``), parsed entirely with JVM ``regexp_extract`` /
``regexp_extract_all`` column expressions — namespace-proof (the
pattern matches the local tag name with any ``ns:`` prefix), no XML
DOM, no Python in the path. This is the XML-text-span analog of the
JSON-span parse in :mod:`pyrosar_spark.operators.ingest`; both funnel
into the same catalog schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.functions.temporal import parse_date_col
from pyrosar_spark.operators.ingest import scene_fields


def _tag_pat(name: str, attr_pred: str = "") -> str:
    """Regex for ``<[ns:]name ...attrs...>text</[ns:]name>``. Real
    manifests carry attributes on exactly the tags the reference reads
    with attribute predicates (``drivers.py:2232-2240``), so the open
    tag tolerates an attribute tail; ``attr_pred`` narrows to a
    required ``key="value"`` attribute when given."""
    open_tag = rf"<(?:[A-Za-z0-9_]+:)?{name}(?:\s[^>]*{attr_pred}[^>]*)?>"
    if attr_pred:
        open_tag = rf"<(?:[A-Za-z0-9_]+:)?{name}\s[^>]*{attr_pred}[^>]*>"
    return open_tag + rf"([^<]*)</(?:[A-Za-z0-9_]+:)?{name}>"


def xml_tag(xml: Column, name: str) -> Column:
    """Text of the first ``<[ns:]name>...</[ns:]name>`` element (NULL
    when absent) — local-name match, namespace prefixes ignored,
    attribute-tolerant."""
    out = F.regexp_extract(xml, _tag_pat(name), 1)
    return F.when(out != "", out)


def xml_tag_attr(xml: Column, name: str, attr: str, value: str) -> Column:
    """Text of the first ``<[ns:]name ... attr="value" ...>`` element —
    the reference's attribute predicates, e.g.
    ``orbitNumber[@type="start"]`` (``drivers.py:2232-2234``)."""
    out = F.regexp_extract(xml, _tag_pat(name, rf'{attr}="{value}"'), 1)
    return F.when(out != "", out)


def xml_tags_all(xml: Column, name: str) -> Column:
    """Array of every ``<[ns:]name>`` element text (repeated elements,
    e.g. the SAFE polarisation list); attribute-tolerant."""
    return F.regexp_extract_all(xml, F.lit(_tag_pat(name)), 1)


def xml_path_tag(xml: Column, outer: str, inner: str) -> Column:
    """Text of the first ``<inner>`` inside the first ``<outer>`` — the
    two-level path disambiguation the reference needs for e.g. TSX
    ``sceneInfo/start/timeUTC`` vs ``stop/timeUTC``
    (``drivers.py:2372-2373``).

    Two-step extraction (ADVICE r3): the outer element BODY is captured
    first (bounded by its own close tag), then the inner tag is looked
    up within that body only — a single non-greedy crossing pattern
    would silently escape an ``<outer>`` that lacks ``<inner>`` and
    return a later element's text (e.g. a ``<start>`` block missing
    ``timeUTC`` reporting the stop time as start)."""
    body = F.regexp_extract(
        xml,
        rf"(?s)<(?:[A-Za-z0-9_]+:)?{outer}(?:\s[^>]*)?>(.*?)"
        rf"</(?:[A-Za-z0-9_]+:)?{outer}>",
        1,
    )
    out = F.regexp_extract(body, rf"(?s){_tag_pat(inner)}", 1)
    return F.when(out != "", out)


def gml_coordinates(xml: Column) -> Column:
    """``<gml:coordinates>lat,lon lat,lon ...</gml:coordinates>`` →
    ``array<array<double>>`` of (lon, lat) — the reference's swap at
    ``drivers.py:2271-2276``."""
    raw = xml_tag(xml, "coordinates")
    pairs = F.split(F.trim(raw), r"\s+")
    return F.transform(
        pairs,
        lambda p: F.array(
            F.element_at(F.split(p, ","), 2).cast("double"),
            F.element_at(F.split(p, ","), 1).cast("double"),
        ),
    )


def safe_fields(xml: Column) -> dict[str, Column]:
    """SAFE manifest text → the reference SAFE metadata fields
    (``drivers.py:2205-2294`` field-for-field; timestamps normalized to
    the catalog's ``YYYYmmddTHHMMSS`` stamps, orbit letter derived from
    the pass direction, bbox from the swapped footprint)."""
    # SM scenes report the concrete swath (S1..S6) as the acquisition
    # mode (drivers.py:2221-2223); real manifests attribute the orbit
    # numbers with type="start"/"stop" — prefer the start-typed form,
    # fall back to an attribute-free tag (drivers.py:2232-2234)
    raw_mode = xml_tag(xml, "mode")
    orbit_abs = F.coalesce(
        xml_tag_attr(xml, "orbitNumber", "type", "start"),
        xml_tag(xml, "orbitNumber"),
    )
    orbit_rel = F.coalesce(
        xml_tag_attr(xml, "relativeOrbitNumber", "type", "start"),
        xml_tag(xml, "relativeOrbitNumber"),
    )
    fields = {
        "sensor": xml_tag(xml, "missionId"),
        "acquisition_mode": F.when(
            raw_mode == "SM", F.coalesce(xml_tag(xml, "swath"), raw_mode)
        ).otherwise(raw_mode),
        "product": xml_tag(xml, "productType"),
        "orbit": F.when(xml_tag(xml, "pass") == "ASCENDING", "A").otherwise("D"),
        "start": parse_date_col(xml_tag(xml, "startTime")),
        "stop": parse_date_col(xml_tag(xml, "stopTime")),
        "orbitNumber_abs": orbit_abs.cast("int"),
        "orbitNumber_rel": orbit_rel.cast("int"),
        "cycleNumber": xml_tag(xml, "cycleNumber").cast("int"),
        "polarizations": F.array_sort(
            xml_tags_all(xml, "transmitterReceiverPolarisation")
        ),
    }
    return scene_fields(fields, gml_coordinates(xml))


def parse_safe_manifest(df: DataFrame, xml_col: str = "xml") -> DataFrame:
    """``df`` plus the :func:`safe_fields` of its manifest.safe text."""
    fields = safe_fields(F.col(xml_col))
    return df.select("*", *[c.alias(n) for n, c in fields.items()])
