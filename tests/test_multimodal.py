"""Multimodal plumbing: binary payloads -> typed metadata -> manifest."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from docling_japanese_books_spark.multimodal.images import (
    decode_image_real,
    extract_image_features,
    fake_decode,
    image_manifest,
)


@pytest.fixture(scope="module")
def images(spark):
    rows = [
        (1, 0, b"payload-one"),
        (1, 1, b"payload-two"),
        (2, 0, b"payload-three"),
        (3, 0, b""),  # empty payload must not crash
    ]
    return spark.createDataFrame(rows, "doc_id long, image_index int, payload binary")


def test_feature_extraction_schema_and_hashes(spark, images):
    meta = extract_image_features(images)
    rows = {(r.doc_id, r.image_index): r for r in meta.collect()}
    assert rows[(1, 0)].sha256 == hashlib.sha256(b"payload-one").hexdigest()
    assert rows[(1, 0)].n_bytes == len(b"payload-one")
    assert len(rows[(1, 0)].feature) == 8
    assert rows[(1, 0)].format in ("png", "jpeg", "webp")
    assert rows[(3, 0)].n_bytes == 0  # empty payload handled


def test_fake_decode_deterministic():
    a, b = fake_decode(b"same"), fake_decode(b"same")
    assert a == b
    assert 64 <= a["width"] < 256 and 64 <= a["height"] < 256


def test_real_decode_gated():
    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present; gate not exercised")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image_real(b"not an image")


def test_manifest_caps_hashes_at_5(spark):
    rows = [(9, i, f"p{i}".encode()) for i in range(8)]
    images = spark.createDataFrame(rows, "doc_id long, image_index int, payload binary")
    m = image_manifest(extract_image_features(images)).collect()[0]
    assert m.n_images == 8
    assert len(m.image_hashes) == 5  # [:5] like ref vector_db.py:273-275
    assert m.image_hashes == sorted(m.image_hashes)


def test_resize_real_transcodes_all_decodable_formats():
    """resize_image_real now decodes every pure-Python format and
    re-encodes the resized pixels as PNG (lossless transcode target);
    undecodable bytes keep the stub contract."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.media import resize_image_real
    from docling_japanese_books_spark.multimodal.png_codec import (
        PNG_SIGNATURE,
        png_to_pixels,
    )
    from docling_japanese_books_spark.multimodal.tiff_codec import pixels_to_tiff

    x, y = np.arange(16), np.arange(12)
    gray = ((x[None, :] * 7 + y[:, None] * 13) % 256).astype(np.uint8)
    rgb = np.dstack([gray, gray[::-1], 255 - gray])

    payloads = {
        "tiff": (pixels_to_tiff(rgb), rgb),
    }
    for fmt, (blob, src_img) in payloads.items():
        out = resize_image_real(blob, 8, 6)
        assert out[: len(PNG_SIGNATURE)] == PNG_SIGNATURE, fmt
        px = png_to_pixels(out)
        assert px.shape[:2] == (6, 8), fmt
        # nearest-neighbor: every output pixel exists in the source
        src = src_img.reshape(-1, 3)
        flat = px.reshape(-1, 3) if px.ndim == 3 else px.reshape(-1, 1)
        for p in flat[::7]:
            assert (src == p).all(axis=1).any(), fmt

    stub = resize_image_real(b"not an image", 8, 6)
    assert stub.startswith(b"resized:8x6:")


def test_retired_gif_webp_take_the_per_row_failure_path(spark):
    """GIF and WebP have no decoder: their bytes must land on each stage's
    per-row failure outcome — null metadata, null dhash, stub resize —
    never a task failure. The PNG row beside them still decodes, so the
    nulls come from the format, not from a broken stage."""
    import numpy as np

    from docling_japanese_books_spark.multimodal.media import resize_images
    from docling_japanese_books_spark.multimodal.phash import image_dhash
    from docling_japanese_books_spark.multimodal.png_codec import pixels_to_png

    filler = bytes(range(64))
    gif = b"GIF89a" + filler
    webp = (
        b"RIFF" + (8 + len(filler)).to_bytes(4, "little") + b"WEBPVP8L" + filler
    )
    png = pixels_to_png(np.arange(48, dtype=np.uint8).reshape(6, 8))
    df = spark.createDataFrame(
        [(1, 0, gif), (2, 0, webp), (3, 0, png)],
        "doc_id long, image_index int, payload binary",
    )

    meta = {
        r.doc_id: r
        for r in extract_image_features(df, decode_fn=decode_image_real).collect()
    }
    dhash = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    resized = {r.doc_id: bytes(r.payload) for r in resize_images(df, 8, 6).collect()}
    for d in (1, 2):
        assert meta[d].format is None and meta[d].feature is None, d
        assert dhash[d] is None, d
        assert resized[d].startswith(b"resized:8x6:"), d
    assert meta[3].format == "png" and dhash[3] is not None
    assert resized[3].startswith(b"\x89PNG")
