"""Raster↔vector chip-to-tile alignment (SURVEY J11 / R1-R4).

Reference semantics (``pyroSAR/auxdata.py:531-604`` VRT mosaic +
``1304-1319`` extent/half-pixel handling):

 - chips (small rasters keyed by ``media_ref``) are mosaicked into
   fixed 1°×1° tile canvases, source pixel grid preserved;
 - 'point' rasters are shifted by half a pixel relative to 'area'
   (``auxdata.py:1312-1319``);
 - extent expansion to tile multiples (``auxdata.py:1304-1310``, R3)
   is not a mosaic step: it is the floor/ceil of
   ``tiles.intrange_bounds``, and the mosaic always writes the full
   1°×1° tile canvas;
 - zero chips over a tile → a dummy 1-value canvas (ocean case,
   ``auxdata.py:634-661, 1321-1336``).

Spark shape: tile assignment is the same lattice explode as scene→tile
(no UDF); the mosaic itself is one ``applyInPandas`` per tile group —
each group holds only that tile's chips, so memory is bounded by the
tile canvas + its chips regardless of total dataset size, and tiles
parallelize perfectly across executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrosar_spark.functions.naming import hgt_tile_name
from pyrosar_spark.operators.tiles import explode_lattice

MOSAIC_SCHEMA = (
    "tile_lat int, tile_lon int, tile_id string, n_chips int, "
    "n_valid_px long, data binary"
)


def synthetic_chips(docs: DataFrame) -> DataFrame:
    """Deterministic chip table derived from chip spans: each media_ref
    gets a 32x32 grid at 0.05° placed by its hash and an int16 payload
    ``f(seed, media_ref)`` (FIXTURES.md §8)."""
    chips = docs.select(
        "doc_id",
        F.explode(F.filter(F.col("spans"), lambda s: s.kind == F.lit("chip"))).alias("s"),
    ).select("doc_id", F.col("s.media_ref").alias("media_ref"))
    h = F.xxhash64("media_ref")
    lon = (F.pmod(h, F.lit(360000)).cast("double") / 1000.0) - 180.0
    lat = (F.pmod(F.xxhash64("media_ref", F.lit(1)), F.lit(160000)).cast("double") / 1000.0) - 80.0
    return chips.withColumns(
        {
            "ulx": F.round(lon, 3),
            "uly": F.round(lat, 3),
            "xres": F.lit(0.05),
            "yres": F.lit(0.05),
            "width": F.lit(32),
            "height": F.lit(32),
            "nodata": F.lit(-32768.0),
            "area_or_point": F.when(F.pmod(h, F.lit(5)) == 0, "point").otherwise("area"),
            "seed": F.pmod(h, F.lit(32767)).cast("int"),
        }
    )


def assign_chip_tiles(chips: DataFrame) -> DataFrame:
    """Explode each chip into the 1° tiles its extent overlaps."""
    c = chips.withColumns(
        {
            "xmin": F.col("ulx"),
            "xmax": F.col("ulx") + F.col("width") * F.col("xres"),
            "ymin": F.col("uly") - F.col("height") * F.col("yres"),
            "ymax": F.col("uly"),
        }
    )
    out = explode_lattice(c, mode="hgt")
    return out.withColumn("tile_id", hgt_tile_name(F.col("tile_lat"), F.col("tile_lon")))


def mosaic_tiles(
    chips_with_tiles: DataFrame,
    px_per_degree: int = 20,
) -> DataFrame:
    """Per-tile mosaic: paste every overlapping chip into the tile
    canvas (numpy, one applyInPandas group per tile).

    Chip payloads are deterministic ``seed``-derived int16 ramps (the
    decode step for real rasters is stubbed — no GDAL here; the
    grouping/alignment arithmetic is the real, tested part).
    """
    n_px = px_per_degree

    def build_tile(tile_lat: int, tile_lon: int, pdf: pd.DataFrame) -> dict:
        canvas = np.full((n_px, n_px), -32768, dtype=np.int16)
        deg_per_px = 1.0 / n_px
        for row in pdf.itertuples():
            shift = deg_per_px / 2.0 if row.area_or_point == "point" else 0.0
            ulx, uly = row.ulx - shift, row.uly + shift
            # chip payload: deterministic ramp from the seed
            chip = (
                (np.arange(row.height * row.width, dtype=np.int32) + int(row.seed))
                % 30000
            ).astype(np.int16).reshape(row.height, row.width)
            # resample chip into tile pixel grid (nearest; chips are
            # synthetic so exactness is in the offsets, not the codec).
            # round-half-UP via floor(x+0.5): engine-portable (Python's
            # round() is banker's, SQL engines round half away from
            # zero — floor(x+0.5) is identical everywhere)
            rhu = lambda x: int(np.floor(x + 0.5))  # noqa: E731
            col0 = rhu((ulx - tile_lon) / deg_per_px)
            row0 = rhu((tile_lat + 1 - uly) / deg_per_px)
            n_cols = max(rhu(row.width * row.xres / deg_per_px), 1)
            n_rows = max(rhu(row.height * row.yres / deg_per_px), 1)
            src = chip[
                np.minimum(
                    (np.arange(n_rows) * (row.height / n_rows)).astype(int), row.height - 1
                )[:, None],
                np.minimum(
                    (np.arange(n_cols) * (row.width / n_cols)).astype(int), row.width - 1
                )[None, :],
            ]
            r0, c0 = max(row0, 0), max(col0, 0)
            r1, c1 = min(row0 + n_rows, n_px), min(col0 + n_cols, n_px)
            if r1 <= r0 or c1 <= c0:
                continue
            canvas[r0:r1, c0:c1] = src[r0 - row0 : r1 - row0, c0 - col0 : c1 - col0]
        return {
            "tile_lat": tile_lat,
            "tile_lon": tile_lon,
            "tile_id": pdf["tile_id"].iloc[0],
            "n_chips": len(pdf),
            "n_valid_px": int((canvas != -32768).sum()),
            "data": canvas.tobytes(),
        }

    # r6 (guide §4): groupBy().applyInPandas paid one Arrow batch + one
    # pandas frame per TILE — at a 1° lattice that is tens of thousands
    # of near-empty groups, and the per-group machinery (~ms each)
    # dwarfed the canvas work (measured 68 s at sf0.1, ~25k groups).
    # Same computation, new transport: hash-repartition by tile key,
    # sort within partitions so each tile's chips are contiguous, and
    # mapInPandas over BIG batches with a cheap pandas groupby inside —
    # a tile whose rows straddle an Arrow batch boundary is held back
    # and prepended to the next batch, so every tile is still built
    # exactly once from all of its chips.
    def build_many(batches):
        def emit(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = [
                build_tile(int(k[0]), int(k[1]), g)
                for k, g in pdf.groupby(["tile_lat", "tile_lon"], sort=False)
            ]
            return pd.DataFrame(rows)

        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None:
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            last_lat = pdf["tile_lat"].iloc[-1]
            last_lon = pdf["tile_lon"].iloc[-1]
            is_last = (pdf["tile_lat"] == last_lat) & (pdf["tile_lon"] == last_lon)
            pending = pdf[is_last]
            rest = pdf[~is_last]
            if len(rest):
                yield emit(rest)
        if pending is not None and len(pending):
            yield emit(pending)

    sc = chips_with_tiles.sparkSession.sparkContext
    return (
        chips_with_tiles.repartition(sc.defaultParallelism, "tile_lat", "tile_lon")
        .sortWithinPartitions("tile_lat", "tile_lon")
        .mapInPandas(build_many, MOSAIC_SCHEMA)
    )


def dummy_tile(spark, extent: dict) -> DataFrame:
    """Ocean fallback (``auxdata.py:1321-1336``): a single sentinel
    canvas spanning the extent when no tiles matched."""
    arr = np.zeros((1, 1), dtype=np.int16)
    return spark.createDataFrame(
        [
            (
                int(np.floor(extent["ymin"])),
                int(np.floor(extent["xmin"])),
                "DUMMY",
                0,
                0,
                bytearray(arr.tobytes()),
            )
        ],
        MOSAIC_SCHEMA,
    )
