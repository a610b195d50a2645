"""ENVI flat-binary raster reading — the DIMAP incidence last-resort.

Reference: ``pyroSAR/drivers.py:911-918`` — when a BEAM-DIMAP product
carries neither ``incidence_near``/``incidence_far`` nor any
``incidenceAngleMidSwath`` element, the reference opens
``<scene>.data/tie_point_grids/incident_angle.img`` with GDAL and takes
``np.mean(arr[arr != 0])``.  This was the one documented deviation left
in COVERAGE.md ("no raster store in the data model").  GDAL is not
needed: ENVI's format is a flat binary array described by a tiny
plain-text ``.hdr`` sidecar (public spec: ``samples``, ``lines``,
``bands``, ``header offset``, ``data type`` code, ``byte order``), so
the read is ``np.frombuffer`` with the right dtype — done here as an
Arrow-batched kernel over (hdr, payload) columns.

Scale shape: the raster decode runs ONLY on the documents whose
metadata cascade came up empty (``fill_incidence_from_rasters`` filters
first, joins second, decodes third), mirroring the deferred-hull
pattern — at 100 TB the fallback population is a sliver of the catalog
and the payload bytes of every other document are never even read
(column pruning keeps them out of the scan).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ENVI "data type" codes (public format spec). 6/9 (complex) and the
# >64-bit types are not meaningful for an incidence grid.
ENVI_DTYPES = {
    1: "u1",
    2: "i2",
    3: "i4",
    4: "f4",
    5: "f8",
    12: "u2",
    13: "u4",
    14: "i8",
    15: "u8",
}


def parse_envi_hdr(text: str) -> dict:
    """Parse the ``key = value`` lines of an ENVI .hdr. Only the keys
    the flat-read needs; unknown keys ignored; BSQ/BIL/BIP interleave
    is irrelevant for a whole-array mean."""
    fields = {}
    for line in text.splitlines():
        if "=" not in line:
            continue
        k, _, v = line.partition("=")
        fields[k.strip().lower()] = v.strip()
    out = {
        "samples": int(fields["samples"]),
        "lines": int(fields["lines"]),
        "bands": int(fields.get("bands", "1")),
        "offset": int(fields.get("header offset", "0")),
        "dtype_code": int(fields["data type"]),
        "big_endian": fields.get("byte order", "0").strip() == "1",
    }
    if out["dtype_code"] not in ENVI_DTYPES:
        raise ValueError(f"unsupported ENVI data type {out['dtype_code']}")
    return out


def decode_envi(hdr_text: str, payload: bytes) -> np.ndarray:
    """payload bytes → float64 ndarray (bands*lines*samples,)."""
    h = parse_envi_hdr(hdr_text)
    dt = np.dtype(("" if h["dtype_code"] == 1 else (">" if h["big_endian"] else "<")) + ENVI_DTYPES[h["dtype_code"]])
    n = h["samples"] * h["lines"] * h["bands"]
    need = h["offset"] + n * dt.itemsize
    if len(payload) < need:
        raise ValueError(f"short ENVI payload: {len(payload)} bytes of {need}")
    arr = np.frombuffer(payload, dtype=dt, count=n, offset=h["offset"])
    return arr.astype(np.float64)


def raster_mean_nonzero(rasters: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, r_mean) from ``hdr``/``payload`` ENVI rasters: mean of
    the non-zero pixels, exactly the
    reference's ``np.mean(arr[arr != 0])`` (drivers.py:916) — NULL
    when every pixel is zero (the reference would warn-and-NaN;
    NULL is the relational spelling)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            means = []
            for hdr, payload in zip(pdf["hdr"], pdf["payload"]):
                arr = decode_envi(str(hdr), bytes(payload))
                nz = arr[arr != 0]
                means.append(float(nz.mean()) if nz.size else None)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "r_mean": pd.array(means, dtype="float64")}
            )

    return rasters.select(id_col, "hdr", "payload").mapInPandas(
        run, f"{id_col} {dict(rasters.dtypes)[id_col]}, r_mean double"
    )


def fill_incidence_from_rasters(
    parsed: DataFrame,
    rasters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Complete the DIMAP incidence cascade (drivers.py:897-918): rows
    whose metadata stages produced NULL get the mean-of-nonzero of
    their tie-point raster; everything else passes through untouched.

    Only the NULL rows join the raster table and only their payloads
    are decoded — filter → join → Arrow kernel → union, so the decode
    cost scales with the fallback population, not the catalog."""
    need = parsed.filter(F.col("incidence").isNull())
    have = parsed.filter(F.col("incidence").isNotNull())
    means = raster_mean_nonzero(
        rasters.join(need.select(id_col), on=id_col, how="leftsemi"),
        id_col=id_col,
    )
    filled = (
        need.drop("incidence")
        .join(means, on=id_col, how="left")
        .withColumnRenamed("r_mean", "incidence")
    )
    return have.unionByName(filled)
