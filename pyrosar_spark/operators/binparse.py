"""Fixed-offset binary record parsing (CEOS-style metadata scans).

Reference: the CEOS drivers slice fixed byte ranges out of leader-file
records — e.g. the ERS dataset summary record start time at
``dss[1814:1838]`` (``pyroSAR/drivers.py:1000-1046``) and the PSR
records (``drivers.py:1195-1435``); ESA scenes mix key=value headers
with packed binary geolocation grids (``drivers.py:1622-1804``).

Spark shape: every fixed-offset field is a pure JVM expression.
ASCII-encoded fields (the dominant CEOS case — numbers are space-padded
text) are ``substring(binary)`` + decode + try_cast; packed big-endian
integers are ``substring`` + ``hex`` + ``conv`` base 16 → 10. The ESA
geolocation grid records, whose fields are packed floats and nested
tie-point blocks, go through one Arrow UDF (:func:`geo_ads_udf`).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class FieldSpec:
    """One fixed-offset field: ``offset`` is 0-based byte position."""

    name: str
    offset: int
    length: int
    kind: str  # 'str' | 'int' | 'float' | 'be_int'


def _ascii_slice(col: Column, offset: int, length: int) -> Column:
    # substring is 1-based; works directly on BinaryType
    return F.trim(F.decode(F.substring(col, offset + 1, length), "UTF-8"))


def extract_fields(df: DataFrame, bin_col: str, specs: list[FieldSpec]) -> DataFrame:
    """Project fixed-offset fields out of a binary record column."""
    cols = []
    for s in specs:
        if s.kind == "str":
            cols.append(_ascii_slice(F.col(bin_col), s.offset, s.length).alias(s.name))
        elif s.kind == "int":
            cols.append(
                _ascii_slice(F.col(bin_col), s.offset, s.length)
                .try_cast("bigint")
                .alias(s.name)
            )
        elif s.kind == "float":
            cols.append(
                _ascii_slice(F.col(bin_col), s.offset, s.length)
                .try_cast("double")
                .alias(s.name)
            )
        elif s.kind == "be_int":
            # unsigned big-endian word; NULL for a NULL record or one
            # shorter than offset + length
            word = F.conv(F.hex(F.substring(F.col(bin_col), s.offset + 1, s.length)), 16, 10)
            cols.append(
                F.when(F.length(bin_col) >= s.offset + s.length, word.try_cast("bigint"))
                .alias(s.name)
            )
        else:
            raise ValueError(f"unknown kind {s.kind!r} for field {s.name}")
    return df.select("*", *cols)


# the ERS/ASAR dataset-summary fields exercised by the reference's
# CEOS_ERS.scanMetadata (drivers.py:1000-1046): ASCII text at fixed
# offsets inside the DSS record
ERS_DSS_FIELDS = [
    FieldSpec("start_time", 1814, 24, "str"),
    FieldSpec("stop_time", 1838, 24, "str"),
    FieldSpec("orbit_number", 444, 8, "int"),
    FieldSpec("incidence_center", 484, 8, "float"),
]


# ---------------------------------------------------------------------------
# ESA GEOLOCATION GRID ADS records (drivers.py:1700-1760)
# ---------------------------------------------------------------------------

# field lengths of one DSR (drivers.py:1712-1714): first_zero_doppler
# MJD2000 time (12 = >l days, >L seconds, >L microseconds), attach_flag
# (1), line_num (4 >L), num_lines (4 >L), sub_sat_track (4 >f),
# first_line_tie_points (220), spare (22), last_zero_doppler_time (12),
# last_line_tie_points (220), swath_number (3 ascii), spare (19)
GEO_ADS_LENGTHS = [12, 1, 4, 4, 4, 220, 22, 12, 220, 3, 19]
GEO_ADS_DSR_SIZE = sum(GEO_ADS_LENGTHS)  # 521
_O_FIRST_TIME = 0
_O_LINE_NUM = 13
_O_NUM_LINES = 17
_O_SUB_SAT = 21
_O_FIRST_PTS = 25
_O_LAST_TIME = 267
_O_LAST_PTS = 279
_O_SWATH = 499
# inside a 220-byte tie-point block (drivers.py:1733-1747): 11×>L
# sample numbers, 11×>f slant-range times, 11×>f incident angles,
# 11×>l latitudes ×1e-6, 11×>l longitudes ×1e-6
_B_SAMPLES, _B_SLANT, _B_INC, _B_LAT, _B_LON = 0, 44, 88, 132, 176

GEO_ADS_SCHEMA = T.StructType(
    [
        T.StructField("first_time_sec", T.DoubleType()),
        T.StructField("last_time_sec", T.DoubleType()),
        T.StructField("line_num", T.IntegerType()),
        T.StructField("num_lines", T.IntegerType()),
        T.StructField("sub_sat_track", T.DoubleType()),
        T.StructField("swath", T.StringType()),
        T.StructField(
            "points",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("grp", T.StringType()),
                        T.StructField("idx", T.IntegerType()),
                        T.StructField("sample_number", T.LongType()),
                        T.StructField("slant_range_time", T.DoubleType()),
                        T.StructField("incident_angle", T.DoubleType()),
                        T.StructField("latitude", T.DoubleType()),
                        T.StructField("longitude", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)


def geo_ads_udf():
    """Arrow batch parser for ESA GEOLOCATION GRID ADS records: the
    whole batch is stacked into one (n, 521) byte matrix and every
    packed field decoded with vectorized numpy big-endian views — the
    reference's per-granule ``struct.unpack`` loop
    (``drivers.py:1719-1751``) as one kernel, never per-row Python.
    MJD2000 times are flattened to seconds since 2000-01-01
    (``days*86400 + seconds + microseconds/1e6``); tie-point lat/lon
    carry the reference's ×1e-6 integer scaling (F9)."""

    def _block(mat: np.ndarray, base: int):
        def ints(off: int, dt: str) -> np.ndarray:
            # per-row contiguous slice -> big-endian view
            return np.ascontiguousarray(mat[:, base + off : base + off + 44]).view(dt)

        return {
            "sample_number": ints(_B_SAMPLES, ">u4").astype(np.int64),
            "slant_range_time": ints(_B_SLANT, ">f4").astype(np.float64),
            "incident_angle": ints(_B_INC, ">f4").astype(np.float64),
            "latitude": ints(_B_LAT, ">i4").astype(np.float64) / 1e6,
            "longitude": ints(_B_LON, ">i4").astype(np.float64) / 1e6,
        }

    def _time(mat: np.ndarray, base: int) -> np.ndarray:
        days = np.ascontiguousarray(mat[:, base : base + 4]).view(">i4").astype(np.float64)
        sec = np.ascontiguousarray(mat[:, base + 4 : base + 8]).view(">u4").astype(np.float64)
        micro = np.ascontiguousarray(mat[:, base + 8 : base + 12]).view(">u4").astype(np.float64)
        return days[:, 0] * 86400.0 + sec[:, 0] + micro[:, 0] / 1e6

    @F.pandas_udf(GEO_ADS_SCHEMA)
    def run(recs: pd.Series) -> pd.DataFrame:
        n = len(recs)
        mat = np.zeros((n, GEO_ADS_DSR_SIZE), dtype=np.uint8)
        ok = np.zeros(n, dtype=bool)
        for i, b in enumerate(recs):
            if b is not None and len(b) >= GEO_ADS_DSR_SIZE:
                mat[i] = np.frombuffer(bytes(b[:GEO_ADS_DSR_SIZE]), dtype=np.uint8)
                ok[i] = True
        first_t = _time(mat, _O_FIRST_TIME)
        last_t = _time(mat, _O_LAST_TIME)
        line_num = np.ascontiguousarray(mat[:, _O_LINE_NUM : _O_LINE_NUM + 4]).view(">u4")[:, 0]
        num_lines = np.ascontiguousarray(mat[:, _O_NUM_LINES : _O_NUM_LINES + 4]).view(">u4")[:, 0]
        sub_sat = np.ascontiguousarray(mat[:, _O_SUB_SAT : _O_SUB_SAT + 4]).view(">f4")[:, 0]
        first = _block(mat, _O_FIRST_PTS)
        last = _block(mat, _O_LAST_PTS)
        out_points: list[list[dict] | None] = []
        for i in range(n):
            if not ok[i]:
                out_points.append(None)
                continue
            pts = []
            for grp, blk in (("first", first), ("last", last)):
                for j in range(11):
                    pts.append(
                        {
                            "grp": grp,
                            "idx": j,
                            "sample_number": int(blk["sample_number"][i, j]),
                            "slant_range_time": float(blk["slant_range_time"][i, j]),
                            "incident_angle": float(blk["incident_angle"][i, j]),
                            "latitude": float(blk["latitude"][i, j]),
                            "longitude": float(blk["longitude"][i, j]),
                        }
                    )
            pts.sort(key=lambda p: (p["grp"], p["idx"]))
            out_points.append(pts)
        swath = [
            bytes(mat[i, _O_SWATH : _O_SWATH + 3]).decode("ascii").strip()
            if ok[i]
            else None
            for i in range(n)
        ]
        return pd.DataFrame(
            {
                "first_time_sec": np.where(ok, first_t, np.nan),
                "last_time_sec": np.where(ok, last_t, np.nan),
                "line_num": pd.array(
                    np.where(ok, line_num, 0).astype(np.int32), dtype="Int32"
                ),
                "num_lines": pd.array(
                    np.where(ok, num_lines, 0).astype(np.int32), dtype="Int32"
                ),
                "sub_sat_track": np.where(ok, sub_sat.astype(np.float64), np.nan),
                "swath": swath,
                "points": out_points,
            }
        )

    return run
