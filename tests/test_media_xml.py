"""Media codec boundary (real BMP decoder injection) + SAFE manifest
XML parse parity (reference drivers.py:2205-2294)."""

import struct

from pyspark.sql import functions as F

from pyrosar_spark.operators.formats import identify_spans
from pyrosar_spark.operators.media import decode_metadata
from tests.testlib import bmp_decoder


def _bmp_bytes(width: int, height: int, bpp: int = 24) -> bytes:
    """Minimal valid BMP: 14-byte file header + 40-byte BITMAPINFOHEADER
    + a token pixel payload."""
    row = (width * (bpp // 8) + 3) & ~3
    size = 54 + row * abs(height)
    file_header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, row * abs(height), 2835, 2835, 0, 0
    )
    return file_header + info_header + b"\x00" * 8


def test_bmp_decoder_end_to_end(spark):
    """Inject a real byte-parsing decoder through the Arrow boundary —
    the same mapInPandas plumbing the fake decoder uses."""
    rows = [
        ("d0", "ref://0", bytearray(_bmp_bytes(640, 480))),
        ("d1", "ref://1", bytearray(_bmp_bytes(32, -64, bpp=8))),  # top-down BMP
    ]
    df = spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")
    got = {r.doc_id: r for r in decode_metadata(df, decoder=bmp_decoder).collect()}
    assert (got["d0"].width, got["d0"].height, got["d0"].channels) == (640, 480, 3)
    assert (got["d1"].width, got["d1"].height, got["d1"].channels) == (32, 64, 1)
    assert got["d0"].n_bytes == len(_bmp_bytes(640, 480))


def test_bmp_decoder_rejects_non_bmp():
    import pytest

    with pytest.raises(ValueError):
        bmp_decoder(b"PNG\x00not-a-bmp-header-at-all-padding")


GOLDEN_MANIFEST = """<?xml version="1.0" encoding="UTF-8"?>
<xfdu:XFDU xmlns:xfdu="urn:ccsds:schema:xfdu:1">
 <metadataSection>
  <s1sarl1:mode>IW</s1sarl1:mode>
  <s1sarl1:productType>GRD</s1sarl1:productType>
  <s1sarl1:missionId>S1A</s1sarl1:missionId>
  <safe:startTime>2015-02-22T17:07:50.123456</safe:startTime>
  <safe:stopTime>2015-02-22T17:08:15.123456</safe:stopTime>
  <safe:orbitNumber>4739</safe:orbitNumber>
  <safe:relativeOrbitNumber>117</safe:relativeOrbitNumber>
  <safe:cycleNumber>43</safe:cycleNumber>
  <s1:pass>ASCENDING</s1:pass>
  <s1sarl1:transmitterReceiverPolarisation>VV</s1sarl1:transmitterReceiverPolarisation>
  <s1sarl1:transmitterReceiverPolarisation>VH</s1sarl1:transmitterReceiverPolarisation>
  <gml:coordinates>50.688881,12.0268 52.183979,11.653832 51.788181,8.017178 50.295261,8.505644</gml:coordinates>
 </metadataSection>
</xfdu:XFDU>"""


def test_safe_manifest_parse_golden(spark):
    """Field-for-field parity with the reference SAFE scan on the
    golden_s1 scene (FIXTURES.md §2) through the identify funnel: lat,lon
    swap, pass → orbit letter, stamp normalization, outname_base."""
    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )
    docs = spark.createDataFrame(
        [("golden_s1", [("scene_meta_xml", GOLDEN_MANIFEST, "", 0)])], schema
    )
    row = identify_spans(docs).first()
    assert row.sensor == "S1A"
    assert row.acquisition_mode == "IW"
    assert row.product == "GRD"
    assert row.orbit == "A"
    assert row.start == "20150222T170750"
    assert row.stop == "20150222T170815"
    assert row.orbitNumber_abs == 4739
    assert row.orbitNumber_rel == 117
    assert row.cycleNumber == 43
    assert row.polarizations == ["VH", "VV"]
    # reference swaps gml lat,lon to (lon, lat) — drivers.py:2271-2276
    assert row.coordinates[0] == [12.0268, 50.688881]
    assert abs(row.xmin - 8.017178) < 1e-12
    assert abs(row.ymax - 52.183979) < 1e-12
    assert row.outname_base == "S1A__IW___A_20150222T170750"
    # a document with no metadata span is dropped, like identify_many
    # failures
    no_xml = spark.createDataFrame([("d2", [("text", "filler", "", 0)])], schema)
    assert identify_spans(no_xml).count() == 0
    # the first span of the kind wins; a document with no spans at all
    # is dropped
    second = GOLDEN_MANIFEST.replace("S1A", "S1B")
    edge = spark.createDataFrame(
        [
            ("two", [("scene_meta_xml", GOLDEN_MANIFEST, "", 0),
                     ("scene_meta_xml", second, "", 1)]),
            ("empty", []),
        ],
        schema,
    )
    assert [(r.doc_id, r.sensor) for r in identify_spans(edge).collect()] == [
        ("two", "S1A")
    ]


def test_fetch_payloads_from_store(spark, tmp_path):
    """S3 closure: media_refs resolved against a mounted store root and
    read executor-side; missing refs -> NULL payload (or error mode)."""
    from pyrosar_spark.operators.media import decode_metadata, fetch_payloads

    store = tmp_path / "store" / "chips"
    store.mkdir(parents=True)
    (store / "c0.bmp").write_bytes(_bmp_bytes(16, 8))
    (store / "c1.bmp").write_bytes(_bmp_bytes(64, 32))
    refs = spark.createDataFrame(
        [
            ("d0", "chip://chips/c0.bmp"),
            ("d1", "chip://chips/c1.bmp"),
            ("d2", "chip://chips/absent.bmp"),
        ],
        "doc_id string, media_ref string",
    )
    fetched = fetch_payloads(refs, str(tmp_path / "store"))
    rows = {r.doc_id: r.payload for r in fetched.collect()}
    assert bytes(rows["d0"])[:2] == b"BM" and rows["d2"] is None
    # fetched bytes flow straight into the decode stage
    meta = {
        r.doc_id: r
        for r in decode_metadata(
            fetched.where("payload is not null"), decoder=bmp_decoder
        ).collect()
    }
    assert (meta["d0"].width, meta["d0"].height) == (16, 8)
    assert (meta["d1"].width, meta["d1"].height) == (64, 32)
    import pytest as _pytest
    with _pytest.raises(Exception, match="absent|FileNotFound|PYTHON"):
        fetch_payloads(refs, str(tmp_path / "store"), on_missing="error").collect()
