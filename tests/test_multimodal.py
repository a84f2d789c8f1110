"""Multimodal plumbing tests: fake-codec decode, feature extraction,
frame fan-out, and the stub boundary (real formats → error rows, never
task failures)."""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from german_ocr_spark.operators.multimodal import (
    MAGIC_IMG,
    audio_features,
    encode_fake_audio,
    encode_fake_image,
    encode_fake_video,
    frame_sample,
    image_meta,
    image_resize,
)
from german_ocr_spark.synth import media_to_spark, synth_media


@pytest.fixture(scope="module")
def media_df(spark):
    return media_to_spark(spark, synth_media(30, seed=42)).cache()


def test_image_meta_decodes_dims_and_mean(spark, media_df):
    out = image_meta(media_df.filter(F.col("media_type") == "image")).toPandas()
    ok = out[out["error"].isna()]
    assert len(ok) > 0
    # recompute one row's ground truth from the codec itself
    row = ok.iloc[0]
    buf = dict(
        (r["media_ref"], bytes(r["content"]))
        for r in media_df.collect()
    )[row["media_ref"]]
    w, h = struct.unpack("<II", buf[4:12])
    px = np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=12)
    assert (row["width"], row["height"]) == (w, h)
    assert row["mean_px"] == pytest.approx(px.sum() / (w * h), abs=0)


def test_stub_boundary_real_png_is_error_row(spark, media_df):
    out = image_meta(media_df).toPandas()
    png = out[out["doc_id"] == "doc-00000001"]
    assert len(png) == 1
    assert "NotImplementedError" in png.iloc[0]["error"]
    trunc = out[out["doc_id"] == "doc-00000002"]
    assert trunc.iloc[0]["error"] is not None
    # errors never kill the job; valid rows still decode
    assert out["error"].isna().sum() > 0


def test_resize_grid_shape_and_determinism(spark, media_df):
    imgs = media_df.filter(
        (F.col("media_type") == "image") & (F.col("doc_id") > "doc-00000002")
    )
    a = image_resize(imgs, 4, 4).toPandas().sort_values("doc_id")
    b = image_resize(imgs.repartition(7), 4, 4).toPandas().sort_values("doc_id")
    assert all(len(g) == 16 for g in a[a["error"].isna()]["grid"])
    assert list(map(list, a["grid"])) == list(map(list, b["grid"]))


def test_audio_features(spark, media_df):
    out = audio_features(
        media_df.filter(F.col("media_type") == "audio")
    ).toPandas()
    ok = out[out["error"].isna()]
    assert (ok["sample_rate"] == 16000).all()
    assert (ok["duration_ms"] > 0).all()
    assert (ok["rms"] > 0).all()


def test_frame_sample_fanout(spark, media_df):
    vids = media_df.filter(F.col("media_type") == "video")
    out = frame_sample(vids, every_k=5).toPandas()
    ok = out[out["error"].isna()]
    # every video contributes ceil(n_frames/5) rows, frame_idx multiples of 5
    assert (ok["frame_idx"] % 5 == 0).all()
    n_vids = vids.count()
    assert ok["doc_id"].nunique() == n_vids
    for _, grp in ok.groupby("doc_id"):
        assert sorted(grp["frame_idx"]) == list(range(0, grp["frame_idx"].max() + 1, 5))


def test_fake_codecs_roundtrip():
    buf = encode_fake_image(10, 6, seed=3)
    assert buf[:4] == MAGIC_IMG
    w, h = struct.unpack("<II", buf[4:12])
    assert (w, h) == (10, 6)
    assert len(buf) == 12 + 60
    assert encode_fake_image(10, 6, seed=3) == buf  # deterministic
    assert encode_fake_audio(8000, 5, seed=1) == encode_fake_audio(8000, 5, seed=1)
    assert encode_fake_video(2, 4, 4, seed=1) == encode_fake_video(2, 4, 4, seed=1)


def test_fake_codecs_reject_payloads_that_disagree_with_the_header():
    """An explicit payload must be exactly the values the header
    announces; a wrong length or dtype fails when the buffer is planted,
    not later as a garbled decode."""
    ok = np.zeros(12, dtype=np.uint8)
    assert len(encode_fake_image(4, 3, pixels=ok)) == 12 + 12
    bad = {
        "FIMG short": lambda: encode_fake_image(4, 3, pixels=ok[:11]),
        "FIMG dtype": lambda: encode_fake_image(4, 3, pixels=ok.astype(np.int64)),
        "FAUD long": lambda: encode_fake_audio(8000, 5, samples=np.zeros(6, np.int16)),
        "FAUD dtype": lambda: encode_fake_audio(8000, 5, samples=np.zeros(5, np.uint8)),
        "FVID short": lambda: encode_fake_video(2, 2, 3, pixels=ok[:11]),
        "FVID dtype": lambda: encode_fake_video(2, 2, 3, pixels=ok.astype(np.int16)),
    }
    for name, plant in bad.items():
        with pytest.raises(ValueError, match=name.split()[0] + " payload must be"):
            plant()


def test_q110_ahash_finds_exactly_the_planted_variants(spark):
    """Every planted (base, variant) pair is detected within the
    hamming budget, no unplanted pair sneaks in, and the truncated
    payload is isolated into the error column (absent from pairs)."""
    from german_ocr_spark.operators.multimodal import (
        AHASH_HAM_MAX,
        image_ahash,
    )
    from german_ocr_spark.queries import QUERIES
    from german_ocr_spark.synth import media_to_spark, synth_image_corpus

    rows = synth_image_corpus(90, seed=7)
    planted = {
        (r[0][:-2], r[0]) for r in rows if r[0].endswith("-v")
    }
    out = QUERIES["q110_media_ahash_pairs"](spark, "unused").toPandas()
    got = {(a, b) for a, b in zip(out["doc_a"], out["doc_b"])}
    assert got == planted
    assert (out["hamming"] <= AHASH_HAM_MAX).all()
    sigs = image_ahash(
        media_to_spark(spark, rows)
    ).toPandas()
    bad = sigs[sigs["doc_id"] == "img-truncated"]
    assert bad["error"].notna().all() and bad["ahash"].isna().all()


def test_ahash_null_for_images_smaller_than_grid(spark):
    """An image smaller than the 8x8 grid leaves NaN cells; its ahash
    must be NULL (not a shared fake signature 0 that would pair every
    tiny thumbnail as a hamming-0 near-dup)."""
    from german_ocr_spark.operators.multimodal import (
        encode_fake_image,
        image_ahash,
    )
    from german_ocr_spark.synth import media_to_spark

    rows = [
        ("tiny-a", "ref://tiny-a/m", "image", encode_fake_image(4, 4, seed=1)),
        ("tiny-b", "ref://tiny-b/m", "image", encode_fake_image(4, 4, seed=2)),
        ("big", "ref://big/m", "image", encode_fake_image(16, 16, seed=3)),
    ]
    out = image_ahash(media_to_spark(spark, rows)).toPandas()
    by = {r.doc_id: r for r in out.itertuples()}
    assert by["tiny-a"].error is None and pd.isna(by["tiny-a"].ahash)
    assert pd.isna(by["tiny-b"].ahash)
    assert not pd.isna(by["big"].ahash)
