"""Test-only references and fixtures shared by several test modules.

None of these is an engine operator: each builds test input, decodes
engine output, or is an independent reference an operator is compared
against.

 - :func:`bbox_ring` builds axis-aligned test rings;
 - :func:`wkb_to_ring` decodes the engine's WKB footprints;
 - :func:`simhash64` is the higher-order-function SimHash that
   ``dedup.simhash64_udf`` is compared against;
 - :func:`bmp_decoder` and :func:`bmp_resizer` are real 24-bpp BMP
   codecs that tests plug into ``media.decode_metadata(decoder=)`` and
   ``media.resize_media(resizer=)``;
 - :func:`count_jobs` counts the Spark jobs an action runs.

Spark ships the codecs to its Python workers, which cannot import this
module, so it registers itself to be pickled by value.
"""

from __future__ import annotations

import struct
import sys
import uuid

import numpy as np
from pyspark import cloudpickle
from pyspark.sql import Column
from pyspark.sql import functions as F

from pyrosar_spark.geom import _WKB_POLYGON
from pyrosar_spark.operators.dedup import _norm_tokens, portable_hash64
from pyrosar_spark.operators.media import _fit

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def bbox_ring(xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
    """Axis-aligned box as a closed CCW ring starting at (xmin, ymin)."""
    return np.array(
        [[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax], [xmin, ymin]],
        dtype=np.float64,
    )


def wkb_to_ring(buf: bytes) -> np.ndarray:
    """The ring of a little-endian one-ring WKB polygon
    (``geom.ring_to_wkb``'s inverse)."""
    if buf[0] != 1:
        raise ValueError("only little-endian WKB supported")
    gtype, nrings = struct.unpack_from("<II", buf, 1)
    if gtype != _WKB_POLYGON or nrings < 1:
        raise ValueError(f"not a polygon WKB (type={gtype})")
    (npts,) = struct.unpack_from("<I", buf, 9)
    arr = np.frombuffer(buf, dtype="<f8", count=npts * 2, offset=13)
    return arr.reshape(-1, 2).copy()


def simhash64(text: Column) -> Column:
    """64-bit SimHash of the token multiset as JVM higher-order
    functions: per bit b, the sign of Σ_tokens (bit_b(md5-60(token))
    ? +1 : -1), accumulated with ``aggregate``. NULL text → NULL."""
    toks = _norm_tokens(text)
    hashes = F.transform(toks, lambda t: portable_hash64(t, 0))
    zero = F.array_repeat(F.lit(0).cast("long"), 64)
    # bit positions are Python ints (shiftright needs a literal count)
    counters = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1)
                    .otherwise(-1)
                    .cast("long")
                    for b in range(64)
                ]
            ),
            lambda a, x: a + x,
        ),
    )
    bits = F.array(
        *[
            F.when(
                F.element_at(counters, b + 1) > 0,
                F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for b in range(64)
        ]
    )
    agg = F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x))
    return F.when(text.isNotNull(), agg)


def bmp_decoder(payload: bytes) -> tuple[int, int, int]:
    """(width, height, channels) of a Windows BMP payload: validates the
    ``BM`` magic and reads the BITMAPINFOHEADER (a negative height is a
    top-down BMP)."""
    if payload[:2] != b"BM" or len(payload) < 30:
        raise ValueError("not a BMP payload")
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    return int(width), abs(int(height)), max(bpp // 8, 1)


def bmp_resizer(payload: bytes, max_side: int) -> tuple[int, int, int, int, bytes]:
    """Nearest-neighbor resize of an uncompressed 24-bpp BMP payload to
    ``media._fit``'s size: resamples rows and columns in storage order
    (bottom-up and top-down alike; the height sign is kept) and
    re-emits a valid BMP with 4-byte-aligned rows."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", payload, 10)
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    if bpp != 24:
        raise ValueError(f"bmp_resizer supports 24-bpp only, got {bpp}")
    if w <= 0 or h_signed == 0:
        raise ValueError(f"invalid BMP dimensions {w}x{h_signed}")
    h = abs(h_signed)
    row = (w * 3 + 3) & ~3
    px = (
        np.frombuffer(payload, dtype=np.uint8, count=row * h, offset=data_off)
        .reshape(h, row)[:, : w * 3]
        .reshape(h, w, 3)
    )
    ow, oh = _fit(w, h, max_side)
    yi = np.arange(oh, dtype=np.int64) * h // oh
    xi = np.arange(ow, dtype=np.int64) * w // ow
    out = px[yi][:, xi]
    orow = (ow * 3 + 3) & ~3
    body = np.zeros((oh, orow), dtype=np.uint8)
    body[:, : ow * 3] = out.reshape(oh, ow * 3)
    size = 54 + orow * oh
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII",
        40, ow, oh if h_signed > 0 else -oh, 1, 24, 0, orow * oh, 2835, 2835, 0, 0,
    )
    return w, h, ow, oh, header + body.tobytes()


def count_jobs(spark, action, parquet: bool = True) -> int:
    """The number of Spark jobs ``action()`` runs, read from the
    ``statusTracker`` under a job group of its own. With
    ``parquet=False``, jobs whose every stage is a ``parquet at ...``
    stage are left out: Spark's schema inference for each
    ``spark.read.parquet``, and parquet staging writes."""
    sc = spark.sparkContext
    group = f"count_jobs_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job ids reach the tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()

    def parquet_only(job_id):
        info = tracker.getJobInfo(job_id)
        stages = [tracker.getStageInfo(s) for s in info.stageIds] if info else []
        return bool(stages) and all(
            s is not None and s.name.startswith("parquet at ") for s in stages
        )

    return sum(parquet or not parquet_only(j) for j in tracker.getJobIdsForGroup(group))
