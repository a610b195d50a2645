"""Test-only references and fixtures shared by several test modules.

None of these is an engine operator: each builds test input, decodes
engine output, or is an independent reference an operator is compared
against.

 - :func:`bbox_ring` builds axis-aligned test rings;
 - :func:`oracle_intersects` is the scalar polygon-intersects reference
   every exact spatial refine (``spatial.sat_refine``,
   ``spatial.rings_intersect_jvm``) is compared against;
 - :func:`wkb_to_ring` decodes the engine's WKB footprints;
 - :func:`simhash64` is the higher-order-function SimHash that
   ``dedup.simhash64_udf`` is compared against;
 - :func:`bmp_decoder` and :func:`bmp_resizer` are real 24-bpp BMP
   codecs that tests plug into ``media.decode_metadata(decoder=)`` and
   ``media.resize_media(resizer=)``;
 - :func:`count_jobs` counts the Spark jobs an action runs;
 - :func:`plan_text` prints an executed plan with no field list cut.

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


def _orient(a, b, c):
    return (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])


def _on_seg(a, b, p):
    return (
        min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
        and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
    )


def _segments_intersect(p1, p2, q1, q2):
    d1 = _orient(q1, q2, p1)
    d2 = _orient(q1, q2, p2)
    d3 = _orient(p1, p2, q1)
    d4 = _orient(p1, p2, q2)
    if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
        (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
    ):
        return True
    if d1 == 0 and _on_seg(q1, q2, p1):
        return True
    if d2 == 0 and _on_seg(q1, q2, p2):
        return True
    if d3 == 0 and _on_seg(p1, p2, q1):
        return True
    if d4 == 0 and _on_seg(p1, p2, q2):
        return True
    return False


def _point_in_ring(p, ring):
    inside = False
    for i in range(len(ring) - 1):
        (vx, vy), (wx, wy) = ring[i], ring[i + 1]
        if (vy > p[1]) != (wy > p[1]):
            xint = vx + (p[1] - vy) / (wy - vy) * (wx - vx)
            if p[0] < xint:
                inside = not inside
    return inside


def oracle_intersects(ra, rb) -> bool:
    """Do two closed rings (flat or (k, 2)) intersect? Touching counts;
    either fully inside the other counts. A one-vertex ring is a point.

    Scalar per pair, with orientation/segment tests and ray-casting
    containment of its own: it shares no code with the engine's
    kernels, so a disagreement is a kernel bug, not a shared one."""
    ra = [tuple(p) for p in np.asarray(ra, dtype=np.float64).reshape(-1, 2)]
    rb = [tuple(p) for p in np.asarray(rb, dtype=np.float64).reshape(-1, 2)]
    for i in range(len(ra) - 1):
        for j in range(len(rb) - 1):
            if _segments_intersect(ra[i], ra[i + 1], rb[j], rb[j + 1]):
                return True
    # no edge crossings → strictly inside or strictly outside; test
    # EVERY vertex (stronger than the engine's first-vertex shortcut)
    if any(_point_in_ring(p, rb) for p in ra):
        return True
    if any(_point_in_ring(p, ra) for p in rb):
        return True
    return False


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


def plan_text(df) -> str:
    """The executed plan of ``df`` with no field list truncated:
    ``toString()`` cuts each list at ``spark.sql.debug.maxToStringFields``
    (``... N more fields``), so a count over it can miss expressions."""
    return df._jdf.queryExecution().executedPlan().treeString(
        False, False, 1 << 20, False, False
    )
