"""Golden tests for the round-3 S4 format dialects (BEAM_DIMAP, TSX,
TDM, EORC_PSR) — field values pinned against the reference parser
semantics (drivers.py:814-942, 2354-2392, 2455-2525, 1519-1586)."""

import pytest
from pyspark.sql import functions as F


DIMAP_S1 = (
    '<Dimap_Document><MDElem name="Abstracted_Metadata">'
    '<MDATTR name="MISSION" type="ascii">SENTINEL-1A</MDATTR>'
    '<MDATTR name="ACQUISITION_MODE">IW</MDATTR>'
    '<MDATTR name="PASS">ASCENDING</MDATTR>'
    '<MDATTR name="Processing_system_identifier">ESA Sentinel-1 IPF 002.84</MDATTR>'
    '<MDATTR name="mds1_tx_rx_polar" desc="Polarization">VV</MDATTR>'
    '<MDATTR name="mds2_tx_rx_polar" desc="Polarization">VH</MDATTR>'
    '<MDATTR name="mds3_tx_rx_polar" desc="Polarization">VV-VH</MDATTR>'
    '<MDATTR name="range_spacing">10.00000049</MDATTR>'
    '<MDATTR name="azimuth_spacing">9.99864673</MDATTR>'
    '<MDATTR name="range_looks">1.0</MDATTR>'
    '<MDATTR name="azimuth_looks">1.0</MDATTR>'
    '<MDATTR name="ABS_ORBIT">4739</MDATTR>'
    '<MDATTR name="REL_ORBIT">117</MDATTR>'
    '<MDATTR name="orbit_cycle">43</MDATTR>'
    '<MDATTR name="data_take_id">24003</MDATTR>'
    '<MDATTR name="SWATH">IW</MDATTR>'
    '<MDATTR name="srgr_flag">1</MDATTR>'
    '<MDATTR name="incidence_near">30.18</MDATTR>'
    '<MDATTR name="incidence_far">45.94</MDATTR>'
    '<MDATTR name="first_near_lat">50.295261</MDATTR>'
    '<MDATTR name="first_near_long">8.505644</MDATTR>'
    '<MDATTR name="first_far_lat">50.688881</MDATTR>'
    '<MDATTR name="first_far_long">12.0268</MDATTR>'
    '<MDATTR name="last_near_lat">51.788181</MDATTR>'
    '<MDATTR name="last_near_long">8.017178</MDATTR>'
    '<MDATTR name="last_far_lat">52.183979</MDATTR>'
    '<MDATTR name="last_far_long">11.653832</MDATTR>'
    '</MDElem><PRODUCT_TYPE>GRD</PRODUCT_TYPE>'
    '<BAND_RASTER_WIDTH>25368</BAND_RASTER_WIDTH>'
    '<BAND_RASTER_HEIGHT>16685</BAND_RASTER_HEIGHT><NBANDS>2</NBANDS>'
    '<PRODUCT_SCENE_RASTER_START_TIME>22-FEB-2015 17:07:50.000000'
    '</PRODUCT_SCENE_RASTER_START_TIME>'
    '<PRODUCT_SCENE_RASTER_STOP_TIME>22-FEB-2015 17:08:15.000000'
    '</PRODUCT_SCENE_RASTER_STOP_TIME></Dimap_Document>'
)

DIMAP_ENVISAT = (
    '<Dimap_Document><MDElem name="Abstracted_Metadata">'
    '<MDATTR name="MISSION">ENVISAT</MDATTR>'
    '<MDATTR name="PRODUCT_TYPE">ASA_IMS_1P</MDATTR>'
    '<MDATTR name="PASS">DESCENDING</MDATTR>'
    '<MDATTR name="Processing_system_identifier">PGS</MDATTR>'
    '<MDATTR name="p1" desc="Polarization">VV</MDATTR>'
    '<MDATTR name="range_spacing">7.8039</MDATTR>'
    '<MDATTR name="azimuth_spacing">4.0485</MDATTR>'
    '<MDATTR name="range_looks">1.0</MDATTR>'
    '<MDATTR name="azimuth_looks">1.0</MDATTR>'
    '<MDATTR name="ABS_ORBIT">40001</MDATTR>'
    '<MDATTR name="REL_ORBIT">222</MDATTR>'
    '<MDATTR name="CYCLE">80</MDATTR>'
    '<MDATTR name="SWATH">IS2</MDATTR>'
    '<MDATTR name="srgr_flag">0</MDATTR>'
    '<MDATTR name="incidence_near">99999.0</MDATTR>'
    '<MDATTR name="incidence_far">99999.0</MDATTR>'
    '<MDATTR name="incidenceAngleMidSwath">19.2</MDATTR>'
    '<MDATTR name="incidenceAngleMidSwath">26.8</MDATTR>'
    '<MDATTR name="first_near_lat">-10.0</MDATTR>'
    '<MDATTR name="first_near_long">20.0</MDATTR>'
    '<MDATTR name="first_far_lat">-10.2</MDATTR>'
    '<MDATTR name="first_far_long">21.0</MDATTR>'
    '<MDATTR name="last_near_lat">-11.0</MDATTR>'
    '<MDATTR name="last_near_long">19.8</MDATTR>'
    '<MDATTR name="last_far_lat">-11.2</MDATTR>'
    '<MDATTR name="last_far_long">20.8</MDATTR>'
    '</MDElem>'
    '<BAND_RASTER_WIDTH>5167</BAND_RASTER_WIDTH>'
    '<BAND_RASTER_HEIGHT>28653</BAND_RASTER_HEIGHT><NBANDS>1</NBANDS>'
    '<PRODUCT_SCENE_RASTER_START_TIME>09-JAN-2009 09:30:11.500000'
    '</PRODUCT_SCENE_RASTER_START_TIME>'
    '<PRODUCT_SCENE_RASTER_STOP_TIME>09-JAN-2009 09:31:05.500000'
    '</PRODUCT_SCENE_RASTER_STOP_TIME></Dimap_Document>'
)

TSX_XML = (
    '<level1Product><generalHeader><mission>TSX-1</mission></generalHeader>'
    '<orderInfo><productVariant>SSC</productVariant></orderInfo>'
    '<missionInfo><orbitDirection>ASCENDING</orbitDirection>'
    '<absOrbit>15420</absOrbit><relOrbit>71</relOrbit>'
    '<orbitCycle>91</orbitCycle></missionInfo>'
    '<inputData><uniqueDataTakeID>123456</uniqueDataTakeID></inputData>'
    '<acquisitionInfo><imagingMode>SM</imagingMode><polarisationList>'
    '<polLayer>HH</polLayer><polLayer>VV</polLayer></polarisationList>'
    '</acquisitionInfo>'
    '<sceneInfo><start><timeUTC>2014-09-09T04:33:42.000000Z</timeUTC></start>'
    '<stop><timeUTC>2014-09-09T04:33:52.000000Z</timeUTC></stop>'
    '<sceneCenterCoord><incidenceAngle>33.12</incidenceAngle>'
    '</sceneCenterCoord></sceneInfo>'
    '<imageDataInfo><imageRaster><rowSpacing>1.25</rowSpacing>'
    '<columnSpacing>0.9</columnSpacing>'
    '<numberOfColumns>12870</numberOfColumns>'
    '<numberOfRows>13160</numberOfRows><rangeLooks>1.0</rangeLooks>'
    '<azimuthLooks>1.0</azimuthLooks></imageRaster></imageDataInfo>'
    '<gridPoint><lat>-10.6</lat><lon>250.0</lon></gridPoint>'
    '<gridPoint><lat>-11.4</lat><lon>297.25</lon></gridPoint>'
    '</level1Product>'
)

TDM_XML = (
    '<TDM><productInfo><productType>CoSSC</productType></productInfo>'
    '<commonAcquisitionInfo><missionID>TDM-1</missionID>'
    '<satelliteIDsat1>TSX-1</satelliteIDsat1>'
    '<satelliteIDsat2>TDX-1</satelliteIDsat2>'
    '<inSARmasterID>SAT2</inSARmasterID>'
    '<cooperativeMode>BISTATIC</cooperativeMode>'
    '<operationsInfo><acquisitionItemID>987</acquisitionItemID>'
    '</operationsInfo></commonAcquisitionInfo>'
    '<acquisitionGeometry><effectiveBaseline>120.5</effectiveBaseline>'
    '<heightOfAmbiguity>45.2</heightOfAmbiguity>'
    '<distanceActivePos>1.5</distanceActivePos>'
    '<distanceTracks>0.8</distanceTracks>'
    '<orbitDirection>DESCENDING</orbitDirection></acquisitionGeometry>'
    '<sceneCornerCoord><lat>47.1</lat><lon>11.2</lon></sceneCornerCoord>'
    '<sceneCornerCoord><lat>47.9</lat><lon>12.4</lon></sceneCornerCoord>'
    '</TDM>'
)


def _psr_lines(n, overrides):
    lines = [f"filler {i}" for i in range(n)]
    for i, v in overrides.items():
        lines[i] = v
    return "\n".join(lines)


PSR_HDR = _psr_lines(80, {
    2: "PSR2", 3: "1.5", 5: "17", 6: "20140909", 7: "111", 9: "A",
    12: "FBD",
    33: "-10.6783401", 34: "-62.1629744",
    35: "-10.8278276", 36: "-62.9005207",
    37: "-11.2738201", 38: "-62.1629744",
    39: "-11.4233051", 40: "-62.6585706",
    51: "6.25", 52: "6.25", 64: "-83.0", 73: "EORC",
})

PSR_FACTER = _psr_lines(175, {50: "12870.0", 51: "13160.0", 119: "32.1"})


def test_parse_dimap_s1(spark):
    from pyrosar_spark.operators.formats import parse_dimap

    df = spark.createDataFrame([("d", DIMAP_S1)], "doc_id string, xml string")
    r = parse_dimap(df, "xml").collect()[0]
    assert r["sensor"] == "S1A"
    assert r["acquisition_mode"] == "IW"
    assert r["product"] == "GRD"
    assert r["orbit"] == "A"
    assert r["start"] == "20150222T170750"
    assert r["stop"] == "20150222T170815"
    assert r["orbitNumber_abs"] == 4739 and r["orbitNumber_rel"] == 117
    assert r["cycleNumber"] == 43 and r["frameNumber"] == 24003
    assert r["samples"] == 25368 and r["lines"] == 16685 and r["bands"] == 2
    # composite 'VV-VH' excluded (drivers.py:869-870), sorted distinct
    assert r["polarizations"] == ["VH", "VV"]
    assert r["spacing_rg"] == 10.0 and r["spacing_az"] == 9.998647
    assert r["swath"] == "IW"
    assert r["image_geometry"] == "GROUND_RANGE"
    assert abs(r["incidence"] - (30.18 + 45.94) / 2) < 1e-9
    assert r["IPF_version"] == "ESA Sentinel-1 IPF 002.84"
    # reference corner order: first_near, last_near, last_far, first_far
    assert r["coordinates"][0] == [8.505644, 50.295261]
    assert r["coordinates"][1] == [8.017178, 51.788181]
    assert r["coordinates"][2] == [11.653832, 52.183979]
    assert r["coordinates"][3] == [12.0268, 50.688881]
    assert r["xmin"] == 8.017178 and r["xmax"] == 12.0268
    assert r["ymin"] == 50.295261 and r["ymax"] == 52.183979
    assert r["outname_base"] == "S1A__IW___A_20150222T170750"


def test_parse_dimap_envisat(spark):
    from pyrosar_spark.operators.formats import parse_dimap

    df = spark.createDataFrame([("d", DIMAP_ENVISAT)], "doc_id string, xml string")
    r = parse_dimap(df, "xml").collect()[0]
    assert r["sensor"] == "ASAR"
    assert r["acquisition_mode"] == "IMS"   # PRODUCT_TYPE[4:7]
    assert r["product"] == "SLC"            # IMS -> SLC
    assert r["orbit"] == "D"
    assert r["cycleNumber"] == 80           # CYCLE fallback (no orbit_cycle)
    assert r["frameNumber"] == 40001        # ABS_ORBIT fallback (no data_take_id)
    assert r["image_geometry"] == "SLANT_RANGE"
    # 99999.0 sentinel -> midSwath mean fallback (drivers.py:897-910)
    assert abs(r["incidence"] - (19.2 + 26.8) / 2) < 1e-9
    assert r["start"] == "20090109T093011"
    assert r["polarizations"] == ["VV"]


def test_parse_tsx(spark):
    from pyrosar_spark.operators.formats import parse_tsx

    df = spark.createDataFrame([("d", TSX_XML)], "doc_id string, xml string")
    r = parse_tsx(df, "xml").collect()[0]
    assert r["sensor"] == "TSX1"
    assert r["product"] == "SSC"
    assert r["orbit"] == "A"
    assert r["polarizations"] == ["HH", "VV"]
    assert r["orbitNumber_abs"] == 15420 and r["orbitNumber_rel"] == 71
    assert r["cycleNumber"] == 91 and r["frameNumber"] == 123456
    assert r["acquisition_mode"] == "SM"
    assert r["start"] == "20140909T043342" and r["stop"] == "20140909T043352"
    assert r["spacing_rg"] == 0.9 and r["spacing_az"] == 1.25
    assert r["samples"] == 12870 and r["lines"] == 13160
    assert r["incidence"] == 33.12
    # west-shift: lon > 180 -> lon - 360 (drivers.py:2388-2390)
    assert r["coordinates"][0] == [-110.0, -10.6]
    assert r["coordinates"][1] == [297.25 - 360.0, -11.4]
    assert r["outname_base"] == "TSX1_SM___A_20140909T043342"


def test_parse_tdm(spark):
    from pyrosar_spark.operators.formats import parse_tdm

    df = spark.createDataFrame(
        [("d", TDM_XML, TSX_XML)], "doc_id string, xml string, master_xml string"
    )
    r = parse_tdm(df, "xml", "master_xml").collect()[0]
    assert r["sensor"] == "TDM1"
    assert r["product"] == "CoSSC"
    assert r["SAT1"] == "TSX-1" and r["SAT2"] == "TDX-1"
    assert r["inSARmasterID"] == "SAT2" and r["inSARmaster"] == "TDX1"
    assert r["acquisitionItemID"] == 987
    assert r["effectiveBaseline"] == 120.5
    assert r["heightOfAmbiguity"] == 45.2
    assert r["bistatic"] is True
    # acquisition fields lifted from the inSAR master (drivers.py:2505-2519)
    assert r["orbit"] == "A"            # master's, not the TDM DESCENDING
    assert r["polarizations"] == ["HH", "VV"]
    assert r["orbitNumber_abs"] == 15420
    assert r["acquisition_mode"] == "SM"
    assert r["start"] == "20140909T043342"
    assert r["samples"] == 12870 and r["lines"] == 13160
    assert r["incidence"] == 33.12
    # corners from the TDM annotation itself
    assert r["coordinates"] == [[11.2, 47.1], [12.4, 47.9]]
    assert r["outname_base"] == "TDM1_SM___A_20140909T043342"


def test_parse_psr_text(spark):
    from pyrosar_spark.operators.formats import parse_psr_text

    df = spark.createDataFrame(
        [("d", PSR_HDR, PSR_FACTER)], "doc_id string, hdr string, facter string"
    )
    r = parse_psr_text(df, "hdr", "facter").collect()[0]
    assert r["sensor"] == "PSR2"
    assert r["product"] == "1.5"
    assert r["acquisition_mode"] == "FBD"
    assert r["orbit"] == "A"
    assert r["start"] == "20140909" and r["stop"] == "20140909"
    assert r["orbitNumber_rel"] == 111 and r["cycleNumber"] == 17
    assert r["orbitNumber_abs"] == 207 * 16 + 111  # drivers.py:1566-1571
    assert r["frameNumber"] is None
    assert r["samples"] == 12870 and r["lines"] == 13160
    assert r["incidence"] == 32.1
    assert r["spacing_rg"] == 6.25 and r["spacing_az"] == 6.25
    assert r["k_dB"] == -83.0 and r["proc_facility"] == "EORC"
    # psr2 reference corner golden (tests/test_drivers.py:43)
    assert r["xmin"] == -62.9005207 and r["xmax"] == -62.1629744
    assert r["ymin"] == -11.4233051 and r["ymax"] == -10.6783401
    # a blank corner line: the bbox skips that coordinate, as the
    # least/greatest over the three remaining corners did
    blank = spark.createDataFrame(
        [("d", PSR_HDR.replace("-11.4233051", ""), PSR_FACTER)],
        "doc_id string, hdr string, facter string",
    )
    b = parse_psr_text(blank, "hdr", "facter").collect()[0]
    assert b["coordinates"][3] == [-62.6585706, None]
    lats = [-10.6783401, -10.8278276, -11.2738201]
    assert (b["ymin"], b["ymax"]) == (min(lats), max(lats))
    assert (b["xmin"], b["xmax"]) == (-62.9005207, -62.1629744)


def test_identify_spans_mixed_corpus(spark):
    from pyrosar_spark.datagen import golden_documents
    from pyrosar_spark.operators.formats import identify_spans

    def doc(doc_id, spans):
        return (doc_id, [(k, t, "", i) for i, (k, t) in enumerate(spans)])

    rows = [
        doc("dimap_doc", [("scene_meta_dimap", DIMAP_S1)]),
        doc("tsx_doc", [("scene_meta_tsx", TSX_XML)]),
        doc("tdm_doc", [("scene_meta_tdm", TDM_XML), ("scene_meta_tsx", TSX_XML)]),
        doc("psr_doc", [("scene_meta_psr", PSR_HDR),
                        ("scene_meta_psr_facter", PSR_FACTER)]),
        doc("noise_doc", [("text", "no metadata here")]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    docs = spark.createDataFrame(rows, schema).unionByName(
        golden_documents(spark)
    )
    out = {r["doc_id"]: r for r in identify_spans(docs).collect()}
    # every dialect identified; the metadata-free document dropped
    assert "noise_doc" not in out
    assert out["dimap_doc"]["sensor"] == "S1A"
    assert out["tsx_doc"]["sensor"] == "TSX1"
    assert out["tdm_doc"]["sensor"] == "TDM1"
    assert out["tdm_doc"]["orbitNumber_abs"] == 15420  # master lift
    assert out["psr_doc"]["sensor"] == "PSR2"
    assert out["golden_s1"]["sensor"] == "S1A"          # JSON dialect
    assert out["golden_s1"]["outname_base"] == "S1A__IW___A_20150222T170750"
    # shared schema: every row carries the same core columns
    for r in out.values():
        assert r["outname_base"] is not None


GOLDEN_S1_ROW = (
    "golden_s1", "S1A", "IW", "GRD", "A", "20150222T170750",
    "20150222T170815", 4739, 117, 43, 159, 25368, 16685, ["VV", "VH"],
    [[12.0268, 50.688881], [11.653832, 52.183979], [8.017178, 51.788181],
     [8.505644, 50.295261]],
    8.017178, 12.0268, 50.295261, 52.183979, "S1A__IW___A_20150222T170750",
)

PSR_COORDS = [[-62.1629744, -10.6783401], [-62.9005207, -10.8278276],
              [-62.1629744, -11.2738201], [-62.6585706, -11.4233051]]

# one row per document with a recognized dialect, in CORE_COLUMNS order
IDENTIFY_ROWS = sorted([
    ("safe_doc", "S1A", "IW", "GRD", "A", "20150222T170750",
     "20150222T170815", 4739, 117, 43, None, None, None, ["VH", "VV"],
     [[12.0268, 50.688881], [11.653832, 52.183979], [8.017178, 51.788181],
      [8.505644, 50.295261]],
     8.017178, 12.0268, 50.295261, 52.183979, "S1A__IW___A_20150222T170750"),
    ("dimap_doc", "S1A", "IW", "GRD", "A", "20150222T170750",
     "20150222T170815", 4739, 117, 43, 24003, 25368, 16685, ["VH", "VV"],
     [[8.505644, 50.295261], [8.017178, 51.788181], [11.653832, 52.183979],
      [12.0268, 50.688881]],
     8.017178, 12.0268, 50.295261, 52.183979, "S1A__IW___A_20150222T170750"),
    ("golden_psr2", "PSR2", "FBD", "1.5", "A", "20140909T043342",
     "20140909T043352", 1783, 111, 17, 3050, 12870, 13160, ["HH", "HV"],
     PSR_COORDS, -62.9005207, -62.1629744, -11.4233051, -10.6783401,
     "PSR2_FBD__A_20140909T043342"),
    GOLDEN_S1_ROW,
    ("psr_doc", "PSR2", "FBD", "1.5", "A", "20140909", "20140909", 3423, 111,
     17, None, 12870, 13160, None, PSR_COORDS, -62.9005207, -62.1629744,
     -11.4233051, -10.6783401, "PSR2_FBD__A_20140909"),
    ("tdm_doc", "TDM1", "SM", "CoSSC", "A", "20140909T043342",
     "20140909T043352", 15420, 71, 91, 123456, 12870, 13160, ["HH", "VV"],
     [[11.2, 47.1], [12.4, 47.9]], 11.2, 12.4, 47.1, 47.9,
     "TDM1_SM___A_20140909T043342"),
    ("tsx_doc", "TSX1", "SM", "SSC", "A", "20140909T043342",
     "20140909T043352", 15420, 71, 91, 123456, 12870, 13160, ["HH", "VV"],
     [[-110.0, -10.6], [-62.75, -11.4]], -110.0, -62.75, -11.4, -10.6,
     "TSX1_SM___A_20140909T043342"),
])


def test_identify_spans_expected_rows(spark):
    """The single-pass coalesce funnel emits exactly one row per
    document with a recognized dialect (pinned field by field), and
    implements the reference cascade's FIRST-match-wins on a
    multi-dialect document."""
    from pyrosar_spark.datagen import golden_documents
    from test_media_xml import GOLDEN_MANIFEST

    from pyrosar_spark.operators.formats import CORE_COLUMNS, identify_spans

    def doc(doc_id, spans):
        return (doc_id, [(k, t, "", i) for i, (k, t) in enumerate(spans)])

    rows = [
        doc("safe_doc", [("scene_meta_xml", GOLDEN_MANIFEST)]),
        doc("dimap_doc", [("scene_meta_dimap", DIMAP_S1)]),
        doc("tsx_doc", [("scene_meta_tsx", TSX_XML)]),
        doc("tdm_doc", [("scene_meta_tdm", TDM_XML), ("scene_meta_tsx", TSX_XML)]),
        doc("psr_doc", [("scene_meta_psr", PSR_HDR),
                        ("scene_meta_psr_facter", PSR_FACTER)]),
        doc("noise_doc", [("text", "no metadata here")]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    docs = spark.createDataFrame(rows, schema).unionByName(
        golden_documents(spark)
    )
    out = identify_spans(docs)
    assert out.columns == CORE_COLUMNS
    assert sorted(map(tuple, out.collect())) == IDENTIFY_ROWS

    # a document carrying TWO recognized dialects: the cascade emits the
    # higher-priority JSON parse, once
    json_span = (
        golden_documents(spark)
        .where(F.col("doc_id") == "golden_s1")
        .select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "scene_meta")
        .collect()[0]["s"]
    )
    multi = spark.createDataFrame(
        [("multi_doc",
          [("scene_meta", json_span.text, "", 0),
           ("scene_meta_dimap", DIMAP_S1, "", 1)])], schema
    )
    got = [tuple(r) for r in identify_spans(multi).collect()]
    assert got == [("multi_doc",) + GOLDEN_S1_ROW[1:]]  # JSON won

    # ADVICE r4 regression: a JSON doc MISSING the polarizations field
    # must yield [] (array_intersect would propagate NULL)
    nopol = spark.createDataFrame(
        [("nopol_doc",
          [("scene_meta",
            'SC|{"sensor":"S1A","acquisition_mode":"IW","orbit":"A",'
            '"start":"20200101T000000"}', "", 0)])], schema
    )
    got = [tuple(r) for r in identify_spans(nopol).collect()]
    assert got == [
        ("nopol_doc", "S1A", "IW", None, "A", "20200101T000000", None, None,
         None, None, None, None, None, [], None, None, None, None, None,
         "S1A__IW___A_20200101T000000"),
    ]
