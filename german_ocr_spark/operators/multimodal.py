"""Multimodal span processing: opaque binary media columns with typed
metadata, decoded/featurized inside Arrow-batched ``mapInPandas``.

Generalizes the reference's image handling (base64-encoded PIL images
posted to a model backend, ``german_ocr/ollama_backend.py:98-134``;
MIME-typed uploads, ``cloud_client.py:269-311``) to media columns of an
Iceberg/parquet table: ``media_ref`` points into object storage at
10^12 scale, fixture rows carry the bytes inline as ``BinaryType``.

The sandbox has no image/audio codecs (no PIL/cv2/librosa), so the
*codec* step is stubbed two ways, both clearly marked:

- real formats (PNG/JPEG/WAV/...) raise ``NotImplementedError`` listing
  the library that a production deployment would provide;
- a deterministic FAKE codec (``FIMG``/``FAUD``/``FVID`` headers, see
  ``encode_fake_*``) exercises the REAL plumbing — schema, binary
  columns, Arrow batch shape, vectorized numpy decode, per-row error
  isolation — end to end with bit-reproducible outputs.

Every decode failure is a row value (``error`` column), never a task
failure — the same isolation contract as the extract kernels
(``ollama_backend.py:167-172``).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

# ------------------------------------------------------------ fake codec
# Header layouts (little-endian):
#   FIMG | u32 width | u32 height            | width*height u8 gray pixels
#   FAUD | u32 sample_rate | u32 n_samples   | n_samples   i16 samples
#   FVID | u32 n_frames | u32 w | u32 h      | n_frames*w*h u8 gray pixels
MAGIC_IMG = b"FIMG"
MAGIC_AUD = b"FAUD"
MAGIC_VID = b"FVID"

_REAL_MAGICS = {
    b"\x89PNG": "PNG (needs Pillow)",
    b"\xff\xd8\xff": "JPEG (needs Pillow)",
    b"RIFF": "WAV/AVI (needs soundfile/av)",
    b"GIF8": "GIF (needs Pillow)",
}


def _payload(values: np.ndarray, dtype, n: int, what: str) -> bytes:
    """The payload bytes of ``values``, which must be exactly the ``n``
    values of ``dtype`` that the header announces — a mismatch would
    write a buffer whose header and payload disagree."""
    if values.dtype != dtype or values.size != n:
        raise ValueError(
            f"{what} payload must be {n} {np.dtype(dtype).name} values, "
            f"got {values.size} {values.dtype.name}"
        )
    return values.tobytes()


def encode_fake_image(
    width: int, height: int, seed: int = 0, pixels: np.ndarray | None = None
) -> bytes:
    """``pixels`` (uint8, length width*height) plants an explicit
    payload — the single header-layout definition for callers that
    need arithmetically-known content (q238's oracle); the seed path
    plants RNG content for fixtures that only need determinism."""
    if pixels is None:
        rng = np.random.default_rng(seed)
        pixels = rng.integers(0, 256, size=width * height, dtype=np.uint8)
    return (
        MAGIC_IMG
        + struct.pack("<II", width, height)
        + _payload(pixels, np.uint8, width * height, "FIMG")
    )


def encode_fake_audio(
    sample_rate: int,
    n_samples: int,
    seed: int = 0,
    samples: np.ndarray | None = None,
) -> bytes:
    if samples is None:
        rng = np.random.default_rng(seed)
        samples = rng.integers(-(2**15), 2**15, size=n_samples, dtype=np.int16)
    return (
        MAGIC_AUD
        + struct.pack("<II", sample_rate, n_samples)
        + _payload(samples, np.int16, n_samples, "FAUD")
    )


def encode_fake_video(
    n_frames: int,
    w: int,
    h: int,
    seed: int = 0,
    pixels: np.ndarray | None = None,
) -> bytes:
    if pixels is None:
        rng = np.random.default_rng(seed)
        pixels = rng.integers(0, 256, size=n_frames * w * h, dtype=np.uint8)
    return (
        MAGIC_VID
        + struct.pack("<III", n_frames, w, h)
        + _payload(pixels, np.uint8, n_frames * w * h, "FVID")
    )


def _reject_real_format(buf: bytes) -> None:
    """STUB BOUNDARY: real codecs are not available in this container."""
    for magic, what in _REAL_MAGICS.items():
        if buf[: len(magic)] == magic:
            raise NotImplementedError(
                f"real media decoding ({what}) is stubbed in this environment; "
                "plug the codec library into this function in production"
            )


def _code_of(e: Exception) -> str:
    """Map a decode failure to the A19 error_code domain
    (operators.extract.ERROR_CODES): the stub boundary is
    UNSUPPORTED_FORMAT, everything else is DECODE."""
    return "UNSUPPORTED_FORMAT" if isinstance(e, NotImplementedError) else "DECODE"


# ----------------------------------------------------- vectorized kernels
IMAGE_META_DDL = (
    "doc_id string, media_ref string, width int, height int, "
    "mean_px double, n_bytes long, error string, error_code string"
)


def _image_meta_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        width = np.full(n, -1, dtype=np.int64)
        height = np.full(n, -1, dtype=np.int64)
        mean_px = np.full(n, np.nan)
        n_bytes = np.zeros(n, dtype=np.int64)
        error: list[str | None] = [None] * n
        error_code: list[str | None] = [None] * n
        for i, buf in enumerate(pdf["content"]):
            try:
                buf = bytes(buf) if buf is not None else b""
                n_bytes[i] = len(buf)
                _reject_real_format(buf)
                if buf[:4] != MAGIC_IMG or len(buf) < 12:
                    raise ValueError("not a FIMG payload")
                w, h = struct.unpack("<II", buf[4:12])
                px = np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=12)
                width[i], height[i] = w, h
                # exact mean: integer sum then one division
                mean_px[i] = float(px.sum(dtype=np.int64)) / (w * h)
            except Exception as e:  # noqa: BLE001 — per-row isolation
                error[i] = f"{type(e).__name__}: {e}"
                error_code[i] = _code_of(e)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "width": width,
                "height": height,
                "mean_px": mean_px,
                "n_bytes": n_bytes,
                "error": error,
                "error_code": error_code,
            }
        )


def image_meta(media: DataFrame) -> DataFrame:
    """(doc_id, media_ref, content binary) → decoded image metadata.

    The per-row loop is over *decode* only (headers + numpy views —
    cheap); all arithmetic is numpy. A production build swaps
    ``_reject_real_format`` for the real codec and keeps everything
    else."""
    return media.mapInPandas(_image_meta_kernel, schema=IMAGE_META_DDL)


RESIZE_DDL = ("doc_id string, media_ref string, grid array<double>, "
              "error string, error_code string")


def _resize_kernel(grid_w: int, grid_h: int):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grids: list[list[float] | None] = [None] * len(pdf)
            error: list[str | None] = [None] * len(pdf)
            error_code: list[str | None] = [None] * len(pdf)
            for i, buf in enumerate(pdf["content"]):
                try:
                    buf = bytes(buf) if buf is not None else b""
                    _reject_real_format(buf)
                    if buf[:4] != MAGIC_IMG:
                        raise ValueError("not a FIMG payload")
                    w, h = struct.unpack("<II", buf[4:12])
                    px = np.frombuffer(
                        buf, dtype=np.uint8, count=w * h, offset=12
                    ).reshape(h, w)
                    # box-filter "resize": mean over integer cell blocks
                    # (deterministic stand-in for a real resampler),
                    # vectorized with reduceat over both axes. Exactly
                    # equal to per-block .mean(): uint8 sums in float64
                    # are exact integers, so summation order is
                    # irrelevant; empty blocks (image smaller than the
                    # grid) stay NaN like the slice-mean produced.
                    if h == 0 or w == 0:
                        grids[i] = [float("nan")] * (grid_h * grid_w)
                        continue
                    ys = (np.arange(grid_h + 1) * h) // grid_h
                    xs = (np.arange(grid_w + 1) * w) // grid_w
                    sums = np.add.reduceat(
                        np.add.reduceat(
                            px.astype(np.float64), ys[:-1], axis=0
                        ),
                        xs[:-1],
                        axis=1,
                    )
                    counts = np.outer(ys[1:] - ys[:-1], xs[1:] - xs[:-1])
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cells = np.where(counts > 0, sums / counts, np.nan)
                    grids[i] = [float(v) for v in cells.ravel()]
                except Exception as e:  # noqa: BLE001
                    error[i] = f"{type(e).__name__}: {e}"
                    error_code[i] = _code_of(e)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_ref": pdf["media_ref"],
                    "grid": grids,
                    "error": error,
                    "error_code": error_code,
                }
            )

    return kernel


def image_resize(media: DataFrame, grid_w: int = 4, grid_h: int = 4) -> DataFrame:
    """Downsample each image to a (grid_h x grid_w) mean grid — the
    feature-extraction stage of an embedding pipeline, with the codec
    stubbed but the dataflow real."""
    return media.mapInPandas(_resize_kernel(grid_w, grid_h), schema=RESIZE_DDL)


AUDIO_DDL = (
    "doc_id string, media_ref string, sample_rate int, duration_ms long, "
    "rms double, error string, error_code string"
)


def _audio_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        sr = np.full(n, -1, dtype=np.int64)
        dur = np.full(n, -1, dtype=np.int64)
        rms = np.full(n, np.nan)
        error: list[str | None] = [None] * n
        error_code: list[str | None] = [None] * n
        for i, buf in enumerate(pdf["content"]):
            try:
                buf = bytes(buf) if buf is not None else b""
                _reject_real_format(buf)
                if buf[:4] != MAGIC_AUD:
                    raise ValueError("not a FAUD payload")
                rate, n_samp = struct.unpack("<II", buf[4:12])
                s = np.frombuffer(buf, dtype=np.int16, count=n_samp, offset=12)
                sr[i] = rate
                dur[i] = (n_samp * 1000) // rate
                rms[i] = float(np.sqrt(np.mean(s.astype(np.float64) ** 2)))
            except Exception as e:  # noqa: BLE001
                error[i] = f"{type(e).__name__}: {e}"
                error_code[i] = _code_of(e)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_ref": pdf["media_ref"],
                "sample_rate": sr,
                "duration_ms": dur,
                "rms": rms,
                "error": error,
                "error_code": error_code,
            }
        )


def audio_features(media: DataFrame) -> DataFrame:
    return media.mapInPandas(_audio_kernel, schema=AUDIO_DDL)


FRAMES_DDL = (
    "doc_id string, media_ref string, frame_idx int, width int, height int, "
    "mean_px double, error string, error_code string"
)


def _frame_kernel(every_k: int):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in
                ("doc_id", "media_ref", "frame_idx", "width", "height",
                 "mean_px", "error", "error_code")
            }

            def emit(doc_id, ref, idx, w, h, mean, err, code=None):
                out["doc_id"].append(doc_id)
                out["media_ref"].append(ref)
                out["frame_idx"].append(idx)
                out["width"].append(w)
                out["height"].append(h)
                out["mean_px"].append(mean)
                out["error"].append(err)
                out["error_code"].append(code)

            for doc_id, ref, buf in zip(
                pdf["doc_id"], pdf["media_ref"], pdf["content"]
            ):
                try:
                    buf = bytes(buf) if buf is not None else b""
                    _reject_real_format(buf)
                    if buf[:4] != MAGIC_VID:
                        raise ValueError("not a FVID payload")
                    n_frames, w, h = struct.unpack("<III", buf[4:16])
                    px = np.frombuffer(
                        buf, dtype=np.uint8, count=n_frames * w * h, offset=16
                    ).reshape(n_frames, h, w)
                    for idx in range(0, n_frames, every_k):
                        emit(
                            doc_id, ref, idx, w, h,
                            float(px[idx].sum(dtype=np.int64)) / (w * h), None,
                        )
                except Exception as e:  # noqa: BLE001
                    emit(doc_id, ref, -1, -1, -1, float("nan"),
                         f"{type(e).__name__}: {e}", _code_of(e))
            yield pd.DataFrame(out)

    return kernel


def frame_sample(media: DataFrame, every_k: int = 5) -> DataFrame:
    """Sample every k-th frame of each video into its own row — the
    1→N fan-out shape (one task's input row becomes many output rows,
    so a long video never needs to fit any single downstream batch)."""
    return media.mapInPandas(_frame_kernel(every_k), schema=FRAMES_DDL)


# aHash parameters: an 8x8 mean grid gives a 64-bit signature; 4 bands
# of 16 bits guarantee (pigeonhole) that any pair within hamming
# distance 3 shares at least one identical band, so the banded
# equi-join below has ZERO false negatives at AHASH_HAM_MAX = 3. At
# larger corpora keep bands*band_bits = 64 and widen bands (8x8-bit)
# only if the 2^-16 random band-collision rate produces too many
# candidates — the same budget trade as the text LSH parameters
# (queries.SH_BAND_BITS, MH_ROWS_PER_BAND).
AHASH_GRID = 8
AHASH_BANDS = 4
AHASH_BAND_BITS = 16
AHASH_HAM_MAX = 3


def image_ahash(media: DataFrame) -> DataFrame:
    """64-bit average-hash signature per image: decode + 8x8 box-filter
    mean grid in the Arrow kernel (``image_resize`` — the only Python
    stage), then the signature itself is assembled JVM-SIDE from the
    grid array (fold for the mean, zip_with for the bits), so adding a
    signature costs no second Python pass. ahash is NULL for failed
    decodes AND for any grid containing NaN cells (images smaller than
    the grid leave empty blocks NaN — `v > NaN` is false everywhere,
    which would otherwise stamp every tiny thumbnail with the same
    fake signature 0 and pair them all as hamming-0 near-dups)."""
    from pyspark.sql import functions as F

    g = image_resize(media, AHASH_GRID, AHASH_GRID)
    mean = F.expr("aggregate(grid, 0.0d, (a, x) -> a + x) / size(grid)")
    bits = F.expr(
        "aggregate(zip_with(grid, sequence(0, size(grid) - 1),"
        " (v, i) -> IF(v > m, shiftleft(1L, i), 0L)),"
        " 0L, (a, b) -> a + b)"
    )
    # NaN cells cross the Arrow boundary as NULL list elements, so the
    # guard must catch both spellings of "empty block"
    grid_ok = F.expr("NOT exists(grid, x -> x IS NULL OR isnan(x))")
    return (
        g.withColumn("m", mean)
        .withColumn(
            "ahash",
            F.when(F.col("error").isNull() & grid_ok, bits).otherwise(
                F.lit(None)
            ),
        )
        .drop("grid", "m")
    )
