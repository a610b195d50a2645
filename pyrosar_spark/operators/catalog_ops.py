"""Catalog lifecycle odds and ends (SURVEY §2 S8-S13, P12-P13, A5, A10,
F12, F14, F15).

Small operators that complete the reference's ``Archive`` API surface:

 - ``select_duplicates`` (``pyroSAR/archive.py:1115-1168``)
 - ``find_datasets`` metadata filtering (``pyroSAR/ancillary.py:282-329``)
 - ``move`` path update (``archive.py:839-900``)
 - ``cleanup`` vanished-file removal (``archive.py:652-659, 490-511``)
 - ``export_laundered`` column-rename projection (``archive.py:668-715``,
   launder map at ``694-699``)
 - ``median over sub-swath annotation arrays`` (``drivers.py:2272-2292``)
 - ``multilook factor search`` (``ancillary.py:111-214``)
 - ``val_convert`` try-cast chain (``drivers.py:1646-1658``) and
   key=value record decode (``drivers.py:1660-1676``)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrosar_spark.functions.naming import parse_datasetname_cols

# shapefile column launder map (archive.py:694-699)
LAUNDER_MAP = {
    "acquisition_mode": "acq_mode",
    "orbitNumber_abs": "orbNum_abs",
    "orbitNumber_rel": "orbNum_rel",
    "cycleNumber": "cycleNum",
    "frameNumber": "frameNum",
    "outname_base": "outname",
}


def select_duplicates(
    duplicates: DataFrame, outname_base: str | None = None, scene: str | None = None
) -> DataFrame:
    """Equality filters on the duplicates table (``archive.py:1115-1168``)."""
    df = duplicates
    if outname_base:
        df = df.where(F.col("outname_base") == outname_base)
    if scene:
        df = df.where(F.col("scene") == scene)
    return df.select("outname_base", "scene")


def find_datasets(names: DataFrame, **kwargs) -> DataFrame:
    """Filter pyroSAR product names (the ``filename`` column) by parsed
    metadata (``ancillary.py:282-329``): tuple → membership; ``start``/``stop``
    → range on the start stamp; list equality for ``proc_steps``;
    exact match otherwise."""
    df = names.withColumn("_m", parse_datasetname_cols(F.col("filename"))).where(
        F.col("_m").isNotNull()
    )
    for key, val in kwargs.items():
        if key == "start":
            df = df.where(F.col("_m.start") >= val)
        elif key == "stop":
            df = df.where(F.col("_m.start") <= val)
        elif isinstance(val, tuple):
            df = df.where(F.col(f"_m.{key}").isin(list(val)))
        elif isinstance(val, list):
            df = df.where(
                F.to_json(F.col(f"_m.{key}")) == F.to_json(F.lit(val))
            )
        else:
            df = df.where(F.col(f"_m.{key}") == val)
    return df.select("filename")


def move_scenes(data: DataFrame, mapping: DataFrame) -> DataFrame:
    """UPDATE scene paths after a file move (``archive.py:839-900``):
    ``mapping(old_scene, new_scene)`` joined and coalesced — the
    Iceberg form is a MERGE on the same predicate."""
    out = data.join(
        F.broadcast(mapping), data.scene == mapping.old_scene, how="left"
    )
    return out.withColumn("scene", F.coalesce(F.col("new_scene"), F.col("scene"))).drop(
        "old_scene", "new_scene"
    )


def cleanup_missing(data: DataFrame, live_refs: DataFrame) -> DataFrame:
    """Remove rows whose backing file vanished (``archive.py:652-659``):
    semi-join on ``scene`` against the live manifest instead of per-row
    stat calls."""
    return data.join(
        live_refs.select(F.col("scene").alias("_live")).distinct(),
        data["scene"] == F.col("_live"),
        how="left_semi",
    )


def export_laundered(data: DataFrame) -> DataFrame:
    """Projection with shapefile-safe laundered names
    (``archive.py:668-715``)."""
    return data.select(*[F.col(c).alias(LAUNDER_MAP.get(c, c)) for c in data.columns])


def median_of_array(col: Column) -> Column:
    """Exact median of a numeric array column (sub-swath annotation
    medians, ``drivers.py:2272-2292``): mean of the middle elements of
    the sorted array — matches numpy/statistics.median."""
    s = F.array_sort(col)
    n = F.size(s)
    mid = (n / 2).cast("int")
    odd = F.element_at(s, mid + 1).cast("double")
    even = (
        F.element_at(s, mid).cast("double") + F.element_at(s, mid + 1).cast("double")
    ) / 2.0
    # empty arrays → NULL (element_at(s, 0) would raise at runtime)
    return F.when(n % 2 == 1, odd).when(n > 0, even)


@F.pandas_udf(T.StructType([
    T.StructField("rglks", T.IntegerType()),
    T.StructField("azlks", T.IntegerType()),
]))
def multilook_factors(
    sp_rg: pd.Series, sp_az: pd.Series, tr_rg: pd.Series, tr_az: pd.Series
) -> pd.DataFrame:
    """Per-scene multilook factor search (``ancillary.py:111-214``):
    brute-force cost minimization over an (rglks, azlks) grid —
    minimize |rglks*sp_rg - azlks*sp_az| + |target - looks*spacing|,
    tie-break on the smaller factor sum. Vectorized numpy grid per
    Arrow batch."""
    grid = np.arange(1, 31)
    rg_g, az_g = np.meshgrid(grid, grid, indexing="ij")  # (30,30)
    out_rg, out_az = [], []
    for srg, saz, trg, taz in zip(sp_rg, sp_az, tr_rg, tr_az):
        ratio_cost = np.abs(rg_g * srg - az_g * saz)
        target_cost = np.abs(trg - rg_g * srg) + np.abs(taz - az_g * saz)
        cost = ratio_cost + target_cost
        tie = (rg_g + az_g) * 1e-9
        idx = np.unravel_index(np.argmin(cost + tie), cost.shape)
        out_rg.append(int(grid[idx[0]]))
        out_az.append(int(grid[idx[1]]))
    return pd.DataFrame({"rglks": out_rg, "azlks": out_az})


def val_convert(col: Column) -> Column:
    """str → int → float → date → str fallback (``drivers.py:1646-1658``)
    as a try_cast chain, returning a struct with the typed value and
    the winning type tag."""
    as_int = col.try_cast("bigint")
    as_double = col.try_cast("double")
    as_ts = F.try_to_timestamp(col)
    return F.struct(
        F.when(as_int.isNotNull(), F.lit("int"))
        .when(as_double.isNotNull(), F.lit("float"))
        .when(as_ts.isNotNull(), F.lit("date"))
        .otherwise(F.lit("str"))
        .alias("type"),
        as_int.alias("int_val"),
        as_double.alias("float_val"),
        as_ts.alias("ts_val"),
        col.alias("str_val"),
    )


def parse_kv_records(col: Column) -> Column:
    """ESA MPH/SPH-style ``KEY=value`` record decode
    (``drivers.py:1660-1676``) into a map column; coordinate keys are
    scaled ×1e-6 downstream (F9 semantics) by the caller."""
    cleaned = F.regexp_replace(col, r'"', "")
    return F.str_to_map(cleaned, F.lit("\n"), F.lit("="))
