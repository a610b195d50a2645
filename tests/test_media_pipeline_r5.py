"""Round-5 multimodal pipeline stages: feature-extract (real), frame
sampling (stubbed probe, real row-explosion plumbing), resize (real BMP
nearest-neighbor kernel + deterministic fake for the SQL-oracle path).
Reference role: the chip/raster handling around pyroSAR/drivers.py:429-477
— the reference shells out to GDAL for raster work; here the pipeline
stages are Arrow-batched mapInPandas with injectable codecs."""

import struct

import numpy as np
import pytest

from pyrosar_spark.operators.media import (
    extract_features,
    fake_probe,
    fake_resizer,
    resize_media,
    sample_frames,
)
from tests.testlib import bmp_decoder, bmp_resizer


def _media_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, media_ref string, payload binary")


# --------------------------------------------------------------------------
# extract_features — the REAL stage (no codec involved)
# --------------------------------------------------------------------------

def test_features_golden_and_nulls(spark):
    df = _media_df(
        spark,
        [
            ("d0", "r0", bytearray(b"\x00\x00\xff\xff")),  # buckets 0 and 15
            ("d1", "r1", bytearray(b"\x10" * 8)),  # 0x10 -> bucket 1
            ("d2", "r2", bytearray(b"")),  # empty: no mass
            ("d3", "r3", None),  # NULL propagates
        ],
    )
    got = {r.doc_id: r for r in extract_features(df, n_buckets=16).collect()}
    f0 = got["d0"].features
    assert f0[0] == 0.5 and f0[15] == 0.5 and sum(f0) == 1.0
    assert got["d1"].features[1] == 1.0 and got["d1"].n_bytes == 8
    assert got["d2"].n_bytes == 0 and got["d2"].features is None
    assert got["d3"].n_bytes is None and got["d3"].features is None


def test_features_bucket_formula_matches_numpy(spark):
    rng = np.random.RandomState(7)
    payload = bytes(rng.randint(0, 256, size=999, dtype=np.uint8))
    for n_buckets in (3, 16, 256):
        row = (
            extract_features(
                _media_df(spark, [("d", "r", bytearray(payload))]), n_buckets
            )
            .collect()[0]
        )
        arr = np.frombuffer(payload, np.uint8).astype(np.int64)
        exp = np.bincount(arr * n_buckets // 256, minlength=n_buckets) / len(arr)
        assert row.features == pytest.approx(exp.tolist(), abs=0)


def test_features_rejects_bad_buckets(spark):
    df = _media_df(spark, [("d", "r", bytearray(b"x"))])
    with pytest.raises(ValueError):
        extract_features(df, n_buckets=0)
    with pytest.raises(ValueError):
        extract_features(df, n_buckets=257)


# --------------------------------------------------------------------------
# sample_frames — row explosion inside mapInPandas
# --------------------------------------------------------------------------

def test_sample_frames_golden(spark):
    df = _media_df(spark, [("d0", "r0", bytearray(b"video-bytes"))])
    rows = (
        sample_frames(df, stride=3, probe=lambda p: (7, 24))
        .orderBy("frame_idx")
        .collect()
    )
    assert [(r.frame_idx, r.ts_ms) for r in rows] == [(0, 0), (3, 125), (6, 250)]
    assert all(r.n_frames == 7 and r.fps == 24 for r in rows)


def test_sample_frames_stride_past_end_and_nulls(spark):
    df = _media_df(
        spark,
        [("d0", "r0", bytearray(b"a")), ("d1", "r1", None)],
    )
    rows = sample_frames(df, stride=1000, probe=lambda p: (5, 30)).collect()
    # one surviving doc, single frame 0; NULL payload dropped entirely
    assert [(r.doc_id, r.frame_idx) for r in rows] == [("d0", 0)]
    with pytest.raises(ValueError):
        sample_frames(df, stride=0)


def test_sample_frames_fake_probe_matches_spec():
    # pinned to the md5 convention shared with the SQL oracle
    n_frames, fps = fake_probe(b"payload")
    h = int(__import__("hashlib").md5(b"payload").hexdigest()[:15], 16)
    assert (n_frames, fps) == (1 + h % 240, 12 + 6 * (h % 4))
    assert fps in (12, 18, 24, 30)


# --------------------------------------------------------------------------
# resize_media — fake (oracle) and real BMP kernels
# --------------------------------------------------------------------------

def test_fake_resizer_math():
    payload = b"some-image-payload"
    w, h, ow, oh, token = fake_resizer(payload, 100)
    side = max(w, h)
    if side <= 100:
        assert (ow, oh) == (w, h)
    else:
        assert ow == max(1, w * 100 // side) and oh == max(1, h * 100 // side)
    assert token.decode().startswith(f"resized:{ow}x{oh}:")
    # no-op when already small enough
    assert fake_resizer(payload, 10**6)[2:4] == (w, h)


def _bmp(width, height, pattern, top_down=False):
    """Full-pixel 24-bpp BMP; pattern(y, x) -> (b, g, r) in storage order."""
    h = abs(height)
    row = (width * 3 + 3) & ~3
    body = np.zeros((h, row), dtype=np.uint8)
    for y in range(h):
        for x in range(width):
            body[y, 3 * x : 3 * x + 3] = pattern(y, x)
    size = 54 + row * h
    hdr = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII",
        40, width, -h if top_down else h, 1, 24, 0, row * h, 2835, 2835, 0, 0,
    )
    return hdr + body.tobytes()


def test_bmp_resizer_nearest_neighbor_exact():
    # storage-order gradient: pixel (y, x) = (y, x, y+x)
    payload = _bmp(8, 4, lambda y, x: (y, x, y + x))
    w, h, ow, oh, out = bmp_resizer(payload, 4)
    assert (w, h, ow, oh) == (8, 4, 4, 2)
    # decode the output with the independent decoder, then check pixels
    assert bmp_decoder(out) == (4, 2, 3)
    orow = (4 * 3 + 3) & ~3
    px = np.frombuffer(out, np.uint8, count=orow * 2, offset=54).reshape(2, orow)
    yi = np.arange(2) * 4 // 2
    xi = np.arange(4) * 8 // 4
    for j, y in enumerate(yi):
        for i, x in enumerate(xi):
            assert tuple(px[j, 3 * i : 3 * i + 3]) == (y, x, y + x)


def test_bmp_resizer_top_down_and_rejects():
    payload = _bmp(6, 3, lambda y, x: (1, 2, 3), top_down=True)
    _, _, ow, oh, out = bmp_resizer(payload, 3)
    assert (ow, oh) == (3, 1)
    # height sign preserved
    (h_signed,) = struct.unpack_from("<i", out, 22)
    assert h_signed == -1
    with pytest.raises(ValueError):
        bmp_resizer(b"PNG not a bmp padding padding padding padding padding", 4)
    bad_bpp = bytearray(_bmp(4, 4, lambda y, x: (0, 0, 0)))
    struct.pack_into("<H", bad_bpp, 28, 8)
    with pytest.raises(ValueError):
        bmp_resizer(bytes(bad_bpp), 2)


def test_resize_media_dataframe_real_kernel_roundtrip(spark):
    df = _media_df(
        spark,
        [
            ("d0", "r0", bytearray(_bmp(8, 4, lambda y, x: (y, x, 0)))),
            ("d1", "r1", None),
        ],
    )
    rows = {r.doc_id: r for r in resize_media(df, 4, resizer=bmp_resizer).collect()}
    r0 = rows["d0"]
    assert (r0.width, r0.height, r0.out_width, r0.out_height) == (8, 4, 4, 2)
    assert bmp_decoder(bytes(r0.out_payload)) == (4, 2, 3)
    r1 = rows["d1"]
    assert r1.width is None and r1.out_payload is None  # NULL propagates, row kept
    with pytest.raises(ValueError):
        resize_media(df, 0)


def test_features_feed_similarity(spark):
    """Synergy: byte-histogram features are a valid embedding column for
    the similarity operators (cosine top-k over array<double>)."""
    from pyrosar_spark.operators.similarity import cosine_topk

    items = extract_features(
        _media_df(
            spark,
            [
                ("a", "ra", bytearray(b"\x00" * 16)),
                ("b", "rb", bytearray(b"\x00" * 12 + b"\xff" * 4)),
                ("c", "rc", bytearray(b"\xff" * 16)),
            ],
        )
    ).select("doc_id", "features")
    emb = items.withColumnRenamed("features", "embedding")
    out = cosine_topk(
        emb, emb.filter("doc_id = 'a'"), k=2, id_col="doc_id", q_id_col="doc_id"
    )
    got = [(r["item_id"], r["cosine_sim"]) for r in out.collect()]
    # nearest to all-zero-bytes a is b (shared bucket-0 mass), then
    # orthogonal c at 0.0 (self excluded)
    assert got[0][0] == "b" and got[0][1] > 0.9
    assert got[1] == ("c", 0.0)


def test_features_chunked_equals_unchunked(spark):
    """The bounded-memory chunk loop (review fix) is a pure refactor:
    a pathologically tiny chunk that splits every payload mid-byte-run
    yields the same histograms as one-shot processing."""
    rng = np.random.RandomState(11)
    rows = [
        (str(i), f"r{i}", bytearray(rng.randint(0, 256, size=n, dtype=np.uint8).tobytes()))
        for i, n in enumerate([0, 1, 7, 64, 257])
    ]
    df = _media_df(spark, rows)
    tiny = {r.doc_id: r.features for r in extract_features(df, chunk_bytes=3).collect()}
    big = {r.doc_id: r.features for r in extract_features(df).collect()}
    assert tiny == big
    with pytest.raises(ValueError):
        extract_features(df, chunk_bytes=0)


def test_sample_frames_corrupt_container_skipped(spark):
    """A probe reporting n_frames <= 0 (ffprobe's corrupt-container
    sentinel) drops the doc instead of crashing the partition."""
    df = _media_df(
        spark,
        [("bad", "rb", bytearray(b"corrupt")), ("ok", "ro", bytearray(b"fine"))],
    )
    probe = lambda p: (-1, 30) if bytes(p) == b"corrupt" else (2, 30)  # noqa: E731
    rows = sample_frames(df, stride=1, probe=probe).collect()
    assert sorted((r.doc_id, r.frame_idx) for r in rows) == [("ok", 0), ("ok", 1)]


def test_bmp_resizer_rejects_invalid_dims():
    zero_w = bytearray(_bmp(4, 4, lambda y, x: (0, 0, 0)))
    struct.pack_into("<i", zero_w, 18, 0)
    with pytest.raises(ValueError, match="dimensions"):
        bmp_resizer(bytes(zero_w), 2)
    zero_h = bytearray(_bmp(4, 4, lambda y, x: (0, 0, 0)))
    struct.pack_into("<i", zero_h, 22, 0)
    with pytest.raises(ValueError, match="dimensions"):
        bmp_resizer(bytes(zero_h), 2)
