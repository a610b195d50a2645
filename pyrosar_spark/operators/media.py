"""Multimodal (image/audio/video) column plumbing.

Media arrive as opaque ``binary`` payloads referenced by ``media_ref``
span entries (the role the ``scene`` path plays in the reference —
rasters are never held in the catalog, ``pyroSAR/drivers.py:429-477``).
The Spark-side plumbing — schema, Arrow batching, partitioning — is
real and tested; the codecs are injected through ``decoder=`` and
``resizer=`` (the tests plug in real 24-bpp BMP codecs), and the
defaults are deterministic stubs because no image/audio libraries ship
in this environment:

 - :func:`decode_metadata` — ``mapInPandas`` over (id, payload)
   batches returning typed metadata (width/height/n_bytes). The
   default ``fake_decoder`` derives dimensions deterministically from
   the payload hash (so tests and SQL oracles can verify the exact
   pipeline), a real deployment passes e.g. a PIL/libvips decoder.
 - :func:`fetch_payloads` — executor-side reads of each ``media_ref``
   against a mounted store root.
 - :func:`extract_features` — REAL (not stubbed) content features: an
   L1-normalized byte histogram folded to ``n_buckets``, one
   vectorized ``np.bincount`` per Arrow batch. The output
   ``array<double>`` plugs directly into the similarity operators
   (cosine top-k / LSH / IVF ANN).
 - :func:`sample_frames` — video frame sampling: probe each payload
   for (n_frames, fps), emit one row per ``stride``-th frame with its
   exact integer timestamp. Row EXPLOSION inside ``mapInPandas`` (a
   batch of k payloads yields >>k rows) — the codec probe is stubbed
   (:func:`fake_probe`), the batch-shape plumbing is real.
 - :func:`resize_media` — aspect-preserving resize capped at
   ``max_side`` (:func:`_fit`). :func:`fake_resizer` derives dims from
   the payload hash (SQL-oracle path).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODE_SCHEMA = "doc_id string, media_ref string, n_bytes int, width int, height int, channels int"


def fake_decoder(payload: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for an image decoder: dimensions derived
    from the md5 of the payload. A real decoder would be dropped in
    here (PIL.Image.open etc.) — NotImplementedError territory in this
    container."""
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    width = 1 + h % 512
    height = 1 + (h % 262144) // 512
    channels = 1 + (h % 3)
    return width, height, channels


def decode_metadata(
    media: DataFrame,
    decoder: Callable[[bytes], tuple[int, int, int]] = fake_decoder,
) -> DataFrame:
    """Arrow-batched metadata extraction over binary media payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = np.array(
                [decoder(bytes(p)) for p in pdf["payload"]], dtype=np.int64
            ).reshape(-1, 3)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "media_ref": pdf["media_ref"].astype(str),
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "width": dims[:, 0].astype("int32"),
                    "height": dims[:, 1].astype("int32"),
                    "channels": dims[:, 2].astype("int32"),
                }
            )

    return media.select("doc_id", "media_ref", "payload").mapInPandas(run, DECODE_SCHEMA)


FEATURES_SCHEMA = (
    "doc_id string, media_ref string, n_bytes int, features array<double>"
)


def extract_features(
    media: DataFrame,
    n_buckets: int = 16,
    chunk_bytes: int = 16 << 20,
) -> DataFrame:
    """L1-normalized byte-histogram features over binary payloads —
    the feature-extract stage of the multimodal pipeline, and the only
    one that needs NO codec: it is fully real in this container.

    Byte ``b`` lands in bucket ``b * n_buckets // 256``; the histogram
    is divided by the payload length (a single IEEE double division,
    so a SQL oracle reproduces it bit-exactly). The whole Arrow batch
    is folded with ONE ``np.bincount`` over ``segment * n_buckets +
    bucket`` — no per-byte Python (the simhash kernel's segment trick,
    dedup.py) — so a 100 TB corpus pays C-speed per partition with no
    shuffle at all (narrow mapInPandas).

    NULL payloads propagate NULL (n_bytes and features); EMPTY payloads
    have no mass to normalize → n_bytes 0, features NULL.

    Peak memory is bounded: the concatenated byte view is processed in
    fixed 16 MiB chunks whose per-byte int64 flat indices are the only
    wide temporaries (a full-batch ``np.repeat`` segment array would
    cost ~25× the payload bytes on megabyte media); the per-chunk
    segment ids come from ``np.searchsorted`` against the cumulative
    lengths, so nothing scales with the whole batch's byte count.
    """
    if not 1 <= n_buckets <= 256:
        raise ValueError(f"n_buckets must be in [1, 256], got {n_buckets}")
    if chunk_bytes < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
    chunk = chunk_bytes

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = pdf["payload"]
            isnull = payloads.isna().to_numpy()
            lengths = np.array(
                [0 if (v is None or v is pd.NA) else len(v) for v in payloads],
                dtype=np.int64,
            )
            bufs = [
                np.frombuffer(bytes(v), dtype=np.uint8)
                for v in payloads
                if not (v is None or v is pd.NA) and len(v)
            ]
            cat = np.concatenate(bufs) if bufs else np.empty(0, dtype=np.uint8)
            ends = np.cumsum(lengths)
            counts = np.zeros(n * n_buckets, dtype=np.int64)
            for lo in range(0, len(cat), chunk):
                part = cat[lo : lo + chunk]
                seg = np.searchsorted(ends, np.arange(lo, lo + len(part)), "right")
                buckets = part.astype(np.int64) * n_buckets // 256
                counts += np.bincount(
                    seg * n_buckets + buckets, minlength=n * n_buckets
                )
            counts = counts.reshape(n, n_buckets)
            safe = np.maximum(lengths, 1)
            feats = counts / safe[:, None]
            features = [
                None if (isnull[i] or lengths[i] == 0) else feats[i].tolist()
                for i in range(n)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "media_ref": pdf["media_ref"].astype(str),
                    "n_bytes": pd.array(
                        [None if isnull[i] else int(lengths[i]) for i in range(n)],
                        dtype="Int32",
                    ),
                    "features": features,
                }
            )

    return media.select("doc_id", "media_ref", "payload").mapInPandas(
        run, FEATURES_SCHEMA
    )


FRAMES_SCHEMA = (
    "doc_id string, media_ref string, n_frames int, fps int, "
    "frame_idx int, ts_ms bigint"
)


def fake_probe(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for a video container probe (ffprobe
    territory — no AV libraries in this container): (n_frames, fps)
    derived from the payload md5, same convention as
    :func:`fake_decoder` so SQL oracles reproduce it exactly."""
    h = int(hashlib.md5(payload).hexdigest()[:15], 16)
    return 1 + h % 240, 12 + 6 * (h % 4)


def sample_frames(
    media: DataFrame,
    stride: int,
    probe: Callable[[bytes], tuple[int, int]] = fake_probe,
) -> DataFrame:
    """Every ``stride``-th frame of each video payload as its own row:
    frame_idx ∈ {0, stride, 2·stride, …} < n_frames, with the exact
    integer timestamp ``ts_ms = frame_idx * 1000 // fps`` (floor
    division, not float, so engines agree bit-for-bit).

    This is the row-EXPLOSION shape of ``mapInPandas``: one input
    batch yields a frame table many times its size, built with
    ``np.repeat`` + offset arithmetic (no per-frame Python). At scale
    the output inherits the input partitioning — no shuffle; a
    downstream repartition is the caller's choice when frame fan-out
    is large. NULL payloads are dropped, and so are payloads the probe
    reports as frameless (``n_frames <= 0`` — the ffprobe sentinel for
    a corrupt container): both mirror ``identify``'s skip of unreadable
    scenes rather than failing the whole partition.
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = pdf[pdf["payload"].notna()]
            k = len(keep)
            if k == 0:
                continue
            probes = np.array(
                [probe(bytes(v)) for v in keep["payload"]], dtype=np.int64
            ).reshape(-1, 2)
            n_frames, fps = probes[:, 0], probes[:, 1]
            counts = (np.maximum(n_frames, 0) + stride - 1) // stride
            total = int(counts.sum())
            rep = np.repeat(np.arange(k), counts)
            offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            frame_idx = (np.arange(total) - offsets[rep]) * stride
            yield pd.DataFrame(
                {
                    "doc_id": keep["doc_id"].astype(str).to_numpy()[rep],
                    "media_ref": keep["media_ref"].astype(str).to_numpy()[rep],
                    "n_frames": n_frames[rep].astype("int32"),
                    "fps": fps[rep].astype("int32"),
                    "frame_idx": frame_idx.astype("int32"),
                    "ts_ms": frame_idx * 1000 // fps[rep],
                }
            )

    return media.select("doc_id", "media_ref", "payload").mapInPandas(
        run, FRAMES_SCHEMA
    )


RESIZE_SCHEMA = (
    "doc_id string, media_ref string, width int, height int, "
    "out_width int, out_height int, out_payload binary"
)


def _fit(w: int, h: int, max_side: int) -> tuple[int, int]:
    """Aspect-preserving integer downscale capped at ``max_side`` —
    floor division with a 1-px floor. This IS the SQL-oracle contract
    (the media_resize oracle reimplements it verbatim), shared by the
    fake and the real BMP kernel so they cannot drift apart."""
    side = max(w, h)
    if side <= max_side:
        return w, h
    return max(1, w * max_side // side), max(1, h * max_side // side)


def fake_resizer(payload: bytes, max_side: int) -> tuple[int, int, int, int, bytes]:
    """Deterministic stand-in resize: dims from :func:`fake_decoder`,
    :func:`_fit` downscale, token output payload."""
    w, h, _ = fake_decoder(payload)
    ow, oh = _fit(w, h, max_side)
    token = f"resized:{ow}x{oh}:{hashlib.md5(payload).hexdigest()}".encode()
    return w, h, ow, oh, token


def resize_media(
    media: DataFrame,
    max_side: int,
    resizer: Callable[[bytes, int], tuple[int, int, int, int, bytes]] = fake_resizer,
) -> DataFrame:
    """Aspect-preserving resize of every media payload to fit in a
    ``max_side``-square — the standard normalize step before feature
    extraction in a training-data pipeline. Arrow-batched
    ``mapInPandas``; narrow (no shuffle); the codec is injected like
    :func:`decode_metadata`'s. NULL payloads propagate NULL dims and
    payload (the row survives so lineage counts hold)."""
    if max_side < 1:
        raise ValueError(f"max_side must be >= 1, got {max_side}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = []
            payloads = []
            for v in pdf["payload"]:
                if v is None or v is pd.NA:
                    dims.append((None, None, None, None))
                    payloads.append(None)
                else:
                    w, h, ow, oh, out = resizer(bytes(v), max_side)
                    dims.append((w, h, ow, oh))
                    payloads.append(out)
            cols = list(zip(*dims)) if dims else [[], [], [], []]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype(str),
                    "media_ref": pdf["media_ref"].astype(str),
                    "width": pd.array(cols[0], dtype="Int32"),
                    "height": pd.array(cols[1], dtype="Int32"),
                    "out_width": pd.array(cols[2], dtype="Int32"),
                    "out_height": pd.array(cols[3], dtype="Int32"),
                    "out_payload": payloads,
                }
            )

    return media.select("doc_id", "media_ref", "payload").mapInPandas(
        run, RESIZE_SCHEMA
    )


def fetch_payloads(
    refs: DataFrame,
    base_dir: str,
    on_missing: str = "null",
) -> DataFrame:
    """REAL object-store fetch for media refs (S3 closure): resolve each
    ``media_ref`` against a store root and read the bytes inside the
    Arrow batch — executor-side I/O, one open per ref, no driver
    involvement (the reference opens scene archives per path the same
    way, ``drivers.py:429-477``; here the store is any mounted
    filesystem — S3/GCS arrive via their FUSE or ``s3a://`` mounts).

    ``on_missing``: ``'null'`` yields a NULL payload, ``'error'``
    raises — mirroring ``identify``'s missing-file behavior.
    """
    if on_missing not in ("null", "error"):
        raise ValueError(f"unknown on_missing mode: {on_missing}")
    out_schema = refs.withColumn("payload", F.lit(None).cast("binary")).schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os
        import re

        root = base_dir.rstrip("/")
        real_root = os.path.realpath(root) + os.sep
        for pdf in batches:
            payloads = []
            for ref in pdf["media_ref"]:
                # catalog-controlled refs must stay inside the store
                # root: an absolute ref would make os.path.join discard
                # the root and '..' segments would escape it (ADVICE r2)
                # — resolve and require the real path under the root.
                key = re.sub(r"^[a-z0-9+.-]+://", "", str(ref)).lstrip("/")
                path = os.path.realpath(os.path.join(root, key))
                if not path.startswith(real_root):
                    if on_missing == "error":
                        raise ValueError(f"media_ref escapes store root: {ref}")
                    payloads.append(None)
                    continue
                try:
                    with open(path, "rb") as fh:
                        payloads.append(fh.read())
                except FileNotFoundError:
                    if on_missing == "error":
                        raise
                    payloads.append(None)
            pdf = pdf.copy()
            pdf["payload"] = payloads
            yield pdf

    return refs.mapInPandas(run, out_schema)
