"""SAR annotation physics + TDM scene pairing (SURVEY F11, J9, R6).

 - :func:`s1_resolution` — the S1 mid-swath resolution formula
   (``pyroSAR/drivers.py:2134-2203``): Hamming-window coefficient →
   IRW broadening-factor lookup, ``0.886·c/(2·B_rg)·k·L`` slant-range
   and ``0.886·v_sat/B_az·k·L`` azimuth resolution, medians over
   sub-swaths, ground-range division by ``sin(incidence)``. All column
   expressions (lookup via paired literal arrays).
 - :func:`tdm_pairing` — a TDM scene embeds two TSX scenes; orbit /
   polarization / timing attributes are copied from the inSAR master
   (``drivers.py:2485-2516``): a self-join of the catalog on the
   master id.
 - :func:`erode_chip_masks` — data-boundary edge erosion
   (``pyroSAR/snap/auxil.py:1457-1589`` uses scipy binary_erosion);
   :func:`binary_erode` re-implements it as pure-numpy shift-AND (no
   scipy here), chip-level in ``mapInPandas``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

C_LIGHT = 299792458.0
# Sentinel-1 product definition: Hamming window coefficients and the
# corresponding Impulse Response Width broadening factors
HAMMING_COEFFICIENTS = [0.52, 0.6, 0.61, 0.62, 0.63, 0.65, 0.70, 0.72, 0.73, 0.75]
B_FACTORS = [1.54, 1.32, 1.3, 1.28, 1.27, 1.24, 1.18, 1.16, 1.15, 1.13]


def broadening_factor(window_coefficient: Column) -> Column:
    """IRW broadening factor for a Hamming window coefficient
    (``coefficients.index(w)`` lookup as a when-chain)."""
    expr = F.lit(None).cast("double")
    for coeff, k in zip(HAMMING_COEFFICIENTS, B_FACTORS):
        expr = F.when(F.round(window_coefficient, 6) == coeff, F.lit(k)).otherwise(expr)
    return expr


def s1_resolution(df: DataFrame) -> DataFrame:
    """Per-scene (range, azimuth) resolution from sub-swath annotation
    rows keyed by ``doc_id`` (columns ``w_rg``/``b_rg``/``lb_rg``,
    ``w_az``/``b_az``/``lb_az``, ``sp_az``/``ti_az``, ``image_geometry``,
    ``incidence``); exact medians across sub-swaths
    (``drivers.py:2196-2197``), ground-range correction when
    ``image_geometry == 'GROUND_RANGE'``.
    """
    from pyrosar_spark.operators.catalog_ops import median_of_array

    l_rg = F.col("b_rg") / F.col("lb_rg")
    k_rg = broadening_factor(F.col("w_rg"))
    res_rg = 0.886 * C_LIGHT / (2 * F.col("b_rg")) * k_rg * l_rg
    l_az = F.col("b_az") / F.col("lb_az")
    k_az = broadening_factor(F.col("w_az"))
    v_sat = F.col("sp_az") / F.col("ti_az")
    res_az = 0.886 * v_sat / F.col("b_az") * k_az * l_az
    per_swath = df.select(
        "doc_id", "image_geometry", "incidence",
        res_rg.alias("_res_rg"), res_az.alias("_res_az"),
    )
    agg = per_swath.groupBy("doc_id", "image_geometry", "incidence").agg(
        median_of_array(F.collect_list("_res_rg")).alias("_med_rg"),
        median_of_array(F.collect_list("_res_az")).alias("resolution_az"),
    )
    grd = F.when(
        F.col("image_geometry") == "GROUND_RANGE",
        F.col("_med_rg") / F.sin(F.radians(F.col("incidence"))),
    ).otherwise(F.col("_med_rg"))
    return agg.select("doc_id", grd.alias("resolution_rg"), "resolution_az")


# attributes copied from the inSAR master onto the TDM pair
# (drivers.py:2504-2516)
TDM_MASTER_ATTRS = [
    "orbit", "hh", "vv", "hv", "vh", "orbitNumber_abs", "orbitNumber_rel",
    "cycleNumber", "frameNumber", "acquisition_mode", "start", "stop",
    "samples", "lines",
]


def tdm_pairing(tdm: DataFrame, catalog: DataFrame) -> DataFrame:
    """Copy the inSAR master's attributes onto each TDM pair row.

    ``tdm`` rows reference their master scene's ``doc_id`` in
    ``master_id``; the catalog self-join replaces the listed attributes
    with the master's values, as ``TDM.scanMetadata`` copies
    ``meta[inSARmasterID]`` fields.
    """
    master = catalog.select(
        F.col("doc_id").alias("_mid"),
        *[F.col(a).alias(f"_m_{a}") for a in TDM_MASTER_ATTRS],
    )
    joined = tdm.join(
        F.broadcast(master), tdm["master_id"] == master["_mid"], how="left"
    )
    out = joined
    for a in TDM_MASTER_ATTRS:
        out = out.withColumn(a, F.coalesce(F.col(f"_m_{a}"), F.col(a)))
    return out.drop("_mid", *[f"_m_{a}" for a in TDM_MASTER_ATTRS])


def binary_erode(mask: np.ndarray, iterations: int = 1) -> np.ndarray:
    """4-connected binary erosion, pure numpy (scipy-free): a pixel
    survives only if it and its 4 neighbors are all set; borders erode."""
    out = mask.astype(bool)
    for _ in range(iterations):
        padded = np.pad(out, 1, mode="constant", constant_values=False)
        out = (
            padded[1:-1, 1:-1]
            & padded[:-2, 1:-1]
            & padded[2:, 1:-1]
            & padded[1:-1, :-2]
            & padded[1:-1, 2:]
        )
    return out


ERODE_SCHEMA = "media_ref string, n_valid_before long, n_valid_after long"


def erode_chip_masks(chips: DataFrame, iterations: int = 3) -> DataFrame:
    """Edge erosion of each chip's data mask (R6): derive the valid-data
    mask from the deterministic payload, erode, report counts."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, before, after = [], [], []
            for row in pdf.itertuples():
                h, w = int(row.height), int(row.width)
                rng = np.random.default_rng(int(row.seed))
                data = rng.uniform(0, 1, size=(h, w))
                mask = data > 0.05
                eroded = binary_erode(mask, iterations)
                refs.append(row.media_ref)
                before.append(int(mask.sum()))
                after.append(int(eroded.sum()))
            yield pd.DataFrame(
                {"media_ref": refs, "n_valid_before": before, "n_valid_after": after}
            )

    # r6: same narrow-row spread to cores as remove_border_noise: the
    # payload is seed-derived inside the kernel, so ~30 B/row input
    # bytes do not measure the erosion work, and a single-file chip
    # table would otherwise pin it on one task.
    from pyrosar_spark.operators.dedup import _spread

    return _spread(
        chips.select("media_ref", "width", "height", "seed"),
        chips.sparkSession.sparkContext.defaultParallelism,
    ).mapInPandas(run, ERODE_SCHEMA)
