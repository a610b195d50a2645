"""Lat/lon tile-grid assignment — the reference's DEM-tile logic as
native Spark (no UDFs: ``sequence`` + ``explode`` + ``format_string``).

Reference semantics:
 - ``intrange`` (``pyroSAR/auxdata.py:667-691``): per axis,
   ``range(floor(min/step)*step, ceil(max/step)*step, step)``.
 - ``getHGT`` (``pyroSAR/drivers.py:535-558``): 1° lattice over the
   footprint bbox → ``N51E011.hgt`` names. NOTE the lat/lon sequence is
   ``range(floor(min), floor(max)+1)`` — i.e. inclusive of the tile
   containing the max corner.
 - ``remote_ids`` (``pyroSAR/auxdata.py:1360-1484``): per-DEM naming
   (SRTM 1Sec HGT, SRTM 3Sec srtm_XX_YY indices, AW3D30 5°-block
   nesting, GETASSE30 reversed ids, TDX90m paths).

Scale notes: the lattice explode multiplies each row by its tile count
(typically ≤ 20) — map-side only, no shuffle. Joining tile ids to a
global tile table is an equi-join against a ≤64800-row (1° grid)
dimension → always broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.functions.naming import hemi_id

EXT_GLOBAL = {"xmin": -180, "xmax": 180, "ymin": -90, "ymax": 90}


# -- intrange ---------------------------------------------------------------


def intrange_bounds(vmin: Column, vmax: Column, step: int) -> tuple[Column, Column]:
    """(first, last) tile origin for ``intrange`` semantics:
    ``range(floor(min/step)*step, ceil(max/step)*step, step)`` — the
    last generated value is ``ceil(max/step)*step - step``."""
    first = (F.floor(vmin / step) * step).cast("int")
    last = (F.ceil(vmax / step) * step - step).cast("int")
    return first, last


def intrange_seq(vmin: Column, vmax: Column, step: int) -> Column:
    first, last = intrange_bounds(vmin, vmax, step)
    # empty when max <= floor(min/step)*step (degenerate); sequence needs
    # first <= last, guard with when
    return F.when(last >= first, F.sequence(first, last, F.lit(step))).otherwise(
        F.array().cast("array<int>")
    )


def hgt_seq(vmin: Column, vmax: Column) -> Column:
    """``getHGT`` lattice: ``range(floor(min), floor(max)+1)`` — differs
    from intrange by including the tile containing the max corner even
    when max is an exact integer (``drivers.py:546-548`` uses ``//1``
    and ``+1``)."""
    return F.sequence(F.floor(vmin).cast("int"), F.floor(vmax).cast("int"), F.lit(1))


def explode_lattice(df: DataFrame, step: int = 1, mode: str = "intrange") -> DataFrame:
    """Explode each row into the tile origins (``tile_lat``,
    ``tile_lon``) its ``xmin``/``xmax``/``ymin``/``ymax`` bbox overlaps.
    ``mode='hgt'`` uses getHGT bounds."""
    seq = hgt_seq if mode == "hgt" else lambda a, b: intrange_seq(a, b, step)
    return (
        df.withColumn("tile_lat", F.explode(seq(F.col("ymin"), F.col("ymax"))))
        .withColumn("tile_lon", F.explode(seq(F.col("xmin"), F.col("xmax"))))
    )


# -- per-DEM tile naming ----------------------------------------------------

DEM_STEPS = {
    "SRTM 1Sec HGT": 1,
    "Copernicus 30m Global DEM": 1,
    "Copernicus 90m Global DEM": 1,
    "AW3D30": 1,
    "TDX90m": 1,
    "GETASSE30": 15,
    "SRTM 3Sec": 5,
}


def dem_tile_name(dem_type: str, lat: Column, lon: Column) -> Column:
    """Tile/remote-file name for one lattice cell, per
    ``auxdata.py:1396-1484``. ``lat``/``lon`` are the cell's integer
    origin (for SRTM 3Sec: the 1-based grid indices, see
    :func:`srtm3_index_seqs`)."""
    if dem_type in ("SRTM 1Sec HGT",):
        return F.concat(
            hemi_id(lat, "N", "S", 2), hemi_id(lon, "E", "W", 3), F.lit(".SRTMGL1.hgt.zip")
        )
    if dem_type in ("Copernicus 30m Global DEM", "Copernicus 90m Global DEM"):
        res = "10" if "30m" in dem_type else "30"
        return F.concat(
            F.lit(f"Copernicus_DSM_COG_{res}_"),
            hemi_id(lat, "N", "S", 2),
            F.lit("_00_"),
            hemi_id(lon, "E", "W", 3),
            F.lit("_00_DEM"),
        )
    if dem_type == "GETASSE30":
        return F.concat(
            hemi_id(lat, "N", "S", 2, reverse=True),
            hemi_id(lon, "E", "W", 3, reverse=True),
            F.lit(".GETASSE30"),
        )
    if dem_type == "AW3D30":
        block_lat = (F.floor(lat / 5) * 5).cast("int")
        block_lon = (F.floor(lon / 5) * 5).cast("int")
        return F.concat(
            hemi_id(block_lat, "N", "S", 3),
            hemi_id(block_lon, "E", "W", 3),
            F.lit("/"),
            hemi_id(lat, "N", "S", 3),
            hemi_id(lon, "E", "W", 3),
            F.lit(".tar.gz"),
        )
    if dem_type == "TDX90m":
        xr = (F.floor(F.abs(lon) / 10) * 10).cast("int")
        xf = hemi_id(lon, "E", "W", 3)
        yf = hemi_id(lat, "N", "S", 2)
        return F.concat(
            F.lit("DEM/"), yf, F.lit("/"),
            F.substring(xf, 1, 1), F.lpad(xr.cast("string"), 3, "0"),
            F.lit("/TDM1_DEM__30_"), yf, xf, F.lit(".zip"),
        )
    if dem_type == "SRTM 3Sec":
        return F.format_string("srtm_%02d_%02d.zip", lon, lat)
    raise ValueError(f"unsupported dem_type: {dem_type}")


def srtm3_index_seqs(
    xmin: Column, xmax: Column, ymin: Column, ymax: Column
) -> tuple[Column, Column]:
    """SRTM 3Sec 5°-grid 1-based indices (``auxdata.py:1466-1476``):
    lat ``range(floor((60-ymax)/5)+1, ceil((60-ymin)/5)+1)``,
    lon ``range(floor((xmin+180)/5)+1, ceil((xmax+180)/5)+1)``."""
    lat = F.sequence(
        (F.floor((F.lit(60) - ymax) / 5) + 1).cast("int"),
        (F.ceil((F.lit(60) - ymin) / 5)).cast("int"),
    )
    lon = F.sequence(
        (F.floor((xmin + 180) / 5) + 1).cast("int"),
        (F.ceil((xmax + 180) / 5)).cast("int"),
    )
    return lat, lon


def assign_tiles(df: DataFrame, dem_type: str = "SRTM 1Sec HGT") -> DataFrame:
    """Per-row tile assignment: explode the ``xmin``/``xmax``/``ymin``/
    ``ymax`` bbox lattice for the given grid and add the formatted tile
    name as ``tile_id``. Pure built-in ops."""
    x0, x1, y0, y1 = (F.col(c) for c in ("xmin", "xmax", "ymin", "ymax"))
    if dem_type == "SRTM 3Sec":
        lat_seq, lon_seq = srtm3_index_seqs(x0, x1, y0, y1)
        out = df.withColumn("tile_lat", F.explode(lat_seq)).withColumn(
            "tile_lon", F.explode(lon_seq)
        )
    else:
        step = DEM_STEPS[dem_type]
        out = explode_lattice(df, step=step)
    return out.withColumn("tile_id", dem_tile_name(dem_type, F.col("tile_lat"), F.col("tile_lon")))


def assign_hgt(df: DataFrame) -> DataFrame:
    """``getHGT`` semantics (``drivers.py:535-558``): floor-inclusive
    lattice of the ``xmin``/``xmax``/``ymin``/``ymax`` bbox,
    ``N51E011.hgt`` names."""
    from pyrosar_spark.functions.naming import hgt_tile_name

    out = explode_lattice(df, mode="hgt")
    return out.withColumn("tile_id", hgt_tile_name(F.col("tile_lat"), F.col("tile_lon")))


# -- driver-side convenience (tests / parity with reference API) ------------


def remote_ids(spark, extent: dict | None, dem_type: str) -> list[str]:
    """Sorted remote tile names for an extent — mirrors
    ``DEMHandler.remote_ids`` (``auxdata.py:1360-1484``) through the same
    Spark expressions used at scale."""
    ext = dict(EXT_GLOBAL if extent is None else extent)
    df = spark.createDataFrame(
        [(float(ext["xmin"]), float(ext["xmax"]), float(ext["ymin"]), float(ext["ymax"]))],
        "xmin double, xmax double, ymin double, ymax double",
    )
    out = assign_tiles(df, dem_type)
    return sorted(r.tile_id for r in out.select("tile_id").distinct().collect())
