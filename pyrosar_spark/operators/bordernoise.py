"""S1 GRD border-noise removal over chips (SURVEY R5).

Reference semantics (``pyroSAR/S1/auxil.py:695-855``):
 - per block of image rows: bilinear interpolation of the annotated
   noise LUT to pixel resolution (``np.interp`` along rows then
   columns, ``S1/auxil.py:782-800``);
 - denoise: ``dn² − noise·scale``, clip at 0 (scale 1 here);
 - threshold mask of the low-power border region;
 - the jagged mask border is simplified with the Visvalingam-Whyatt
   algorithm (``S1/polysimplify.py:40-464``, wrapped by
   ``S1/linesimplify.py:28-227``) and shifted inward before cropping.

Spark shape: chips are independent → ``mapInPandas`` over
(chip id, dn payload, LUT) batches, pure numpy per chip. Block size in
the reference is 2000 rows (``S1/auxil.py:734``); synthetic chips fit
one block. The VW simplification here is a fresh numpy implementation
of the published algorithm (effective area = triangle area of each
interior vertex; repeatedly drop the global minimum), not a port.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# remove_border_noise's fixed settings
LUT_POINTS = 6
POWER_THRESHOLD = 0.5
BORDER_POINTS = 8

OUT_SCHEMA = (
    "media_ref string, width int, height int, first_valid_col int, "
    "n_masked long, border_points int, border_cols binary"
)


def vw_simplify(points: np.ndarray, n_keep: int) -> np.ndarray:
    """Visvalingam-Whyatt polyline simplification to ``n_keep`` points.

    Iteratively removes the interior vertex with the smallest effective
    (triangle) area. O(n²) worst case — borders are short (≤ image
    height), and the kernel runs per chip inside an Arrow batch.
    """
    pts = np.asarray(points, dtype=np.float64)
    if len(pts) <= max(n_keep, 2):
        return pts
    alive = np.ones(len(pts), dtype=bool)

    # r6: the per-iteration area scan is one vectorized triple-slice
    # instead of a Python list comprehension of scalar-numpy triangle
    # areas (was ~700 interpreter round-trips per 32-row chip, the
    # operator's hot spot). Same areas in the same order — np.argmin's
    # first-minimum tie rule, and therefore the kept point set, are
    # unchanged (pinned by the goldens in tests/test_bordernoise.py).
    idx = np.arange(len(pts))
    while alive.sum() > n_keep:
        live = idx[alive]
        if len(live) <= 2:
            break
        a, b, c = pts[live[:-2]], pts[live[1:-1]], pts[live[2:]]
        areas = np.abs(
            (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
            - (b[:, 1] - a[:, 1]) * (c[:, 0] - a[:, 0])
        ) / 2.0
        alive[live[1 + int(np.argmin(areas))]] = False
    return pts[alive]


def _interp_lut(lut: np.ndarray, height: int, width: int) -> np.ndarray:
    """Bilinear LUT upsampling: ``np.interp`` rows then columns —
    the reference's two-pass scheme (``S1/auxil.py:782-800``)."""
    lr, lc = lut.shape
    row_pos = np.linspace(0, height - 1, lr)
    col_pos = np.linspace(0, width - 1, lc)
    rows_full = np.empty((height, lc))
    for j in range(lc):
        rows_full[:, j] = np.interp(np.arange(height), row_pos, lut[:, j])
    out = np.empty((height, width))
    for i in range(height):
        out[i] = np.interp(np.arange(width), col_pos, rows_full[i])
    return out


def denoise_chip(
    dn: np.ndarray, lut: np.ndarray, threshold: float = 0.5
) -> tuple[np.ndarray, np.ndarray]:
    """``dn² − noise`` (clipped at 0) + border mask below the power
    threshold."""
    noise = _interp_lut(lut, *dn.shape)
    power = np.clip(dn.astype(np.float64) ** 2 - noise, 0.0, None)
    mask = power < threshold
    return power, mask


def border_from_mask(mask: np.ndarray) -> np.ndarray:
    """(row, first-valid-col) polyline of the left border region."""
    first_valid = (~mask).argmax(axis=1)
    rows = np.arange(mask.shape[0])
    return np.stack([rows, first_valid], axis=1).astype(np.float64)


def portable_payload(
    seed: int, h: int, w: int
) -> tuple[np.ndarray, np.ndarray]:
    """(dn, noise) derived from integer arithmetic reproducible in any
    SQL engine (used by the DuckDB correctness oracle):

    - ``dn[i,j] = 0.5 + 1.5 * (((seed*65521 + i*4099 + j*7919) %
      1000003) / 1000003.0)``, border band ``j < w//4`` scaled ×0.1;
    - noise is a plane ``base + ai*i + aj*j`` in the rng LUT's
      magnitude range (the bilinear-LUT path stays covered by the
      ``payload='rng'`` goldens in tests/).

    Every op is an exact-rounded IEEE double op evaluated in the same
    order as the SQL mirror, so the threshold mask is bit-identical.
    """
    jj, ii = np.meshgrid(np.arange(w, dtype=np.int64), np.arange(h, dtype=np.int64))
    u = ((seed * 65521 + ii * 4099 + jj * 7919) % 1000003) / 1000003.0
    dn = 0.5 + 1.5 * u
    border_w = max(w // 4, 1)
    dn[:, :border_w] = dn[:, :border_w] * 0.1
    base = 0.002 + (seed % 97) / 97.0 * 0.006
    ai = ((seed % 13) - 6) / 13.0 * 0.0004
    aj = ((seed % 29) - 14) / 29.0 * 0.0002
    noise = (base + ai * ii) + aj * jj
    return dn, noise


def remove_border_noise(chips: DataFrame, payload: str = "rng") -> DataFrame:
    """Arrow-batched border-noise removal over synthetic chips.

    Chips carry (media_ref, width, height, seed); the dn payload and
    the noise LUT are derived deterministically from the seed (no
    raster codecs in this environment) — the numpy pipeline
    (LUT interp → denoise → mask → VW border) is the real, tested
    part, exactly as the reference runs it per block.

    ``payload='portable'`` swaps the numpy-rng payload for the
    SQL-reproducible :func:`portable_payload` (same downstream mask /
    border / VW pipeline) so the contract query has an independent
    DuckDB oracle; ``'rng'`` keeps the bilinear-LUT interpolation path.
    """
    if payload not in ("rng", "portable"):
        raise ValueError(f"unknown payload mode: {payload}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "media_ref", "width", "height", "first_valid_col",
                "n_masked", "border_points", "border_cols",
            )}
            for row in pdf.itertuples():
                h, w = int(row.height), int(row.width)
                if payload == "portable":
                    dn, noise = portable_payload(int(row.seed), h, w)
                    power = dn * dn - noise
                    mask = power < POWER_THRESHOLD
                else:
                    rng = np.random.default_rng(int(row.seed))
                    dn = rng.uniform(0.5, 2.0, size=(h, w))
                    border_w = max(w // 4, 1)
                    dn[:, :border_w] *= 0.1  # low-power border band
                    lut = rng.uniform(0.001, 0.01, size=(LUT_POINTS, LUT_POINTS))
                    _, mask = denoise_chip(dn, lut, POWER_THRESHOLD)
                border = border_from_mask(mask)
                simplified = vw_simplify(border, BORDER_POINTS)
                out["media_ref"].append(row.media_ref)
                out["width"].append(w)
                out["height"].append(h)
                out["first_valid_col"].append(int(border[:, 1].max()))
                out["n_masked"].append(int(mask.sum()))
                out["border_points"].append(len(simplified))
                out["border_cols"].append(
                    simplified[:, 1].astype("<f8").tobytes()
                )
            yield pd.DataFrame(out)

    # r6: spread the NARROW (ref, w, h, seed) rows to session
    # parallelism before the Arrow stage, or a single-file chip table
    # pins the whole numpy pipeline on one task. The payload is
    # generated per pixel from the seed inside the kernel, so ~30 B/row
    # shuffles and input bytes do not measure the work: the target is
    # cores, not _spread's default of one partition per MiB.
    from pyrosar_spark.operators.dedup import _spread

    return _spread(
        chips.select("media_ref", "width", "height", "seed"),
        chips.sparkSession.sparkContext.defaultParallelism,
    ).mapInPandas(run, OUT_SCHEMA)
