"""Perceptual image hashing (multimodal/phash.py): hand-computed dhash
bits, brightness/transcode invariance on REAL codec bytes, perturbation
locality, and the banding near-dup join."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from docling_japanese_books_spark.multimodal.phash import (
    dhash64,
    image_dhash,
    image_near_dups,
)
from docling_japanese_books_spark.multimodal.png_codec import pixels_to_png
from docling_japanese_books_spark.multimodal.tiff_codec import pixels_to_tiff


def _gradient(h=32, w=36, seed=5):
    rng = np.random.RandomState(seed)
    base = np.linspace(0, 200, w)[None, :] + np.linspace(0, 40, h)[:, None]
    px = (base + rng.rand(h, w) * 8).astype(np.uint8)
    return np.stack([px, px, px], axis=-1)  # grayscale-ish RGB


def test_dhash_hand_computed_bits():
    # an 8 x 9 grid fed directly: each cell IS one pixel, so the bits
    # are the literal horizontal comparisons
    cells = np.arange(72, dtype=np.float64).reshape(8, 9)  # increasing rows
    assert dhash64(cells) == -1  # every right neighbour larger -> all 64 bits
    assert dhash64(cells[:, ::-1]) == 0  # reversed -> no bit set
    alt = np.zeros((8, 9))
    alt[:, 1::2] = 255  # alternating columns: 1,0,1,0... per row
    want_row = "10101010"  # c+1 > c comparisons across 9 alternating cols
    v = int(want_row * 8, 2)
    assert dhash64(alt) == (v - (1 << 64) if v >= (1 << 63) else v)


def test_dhash_brightness_and_transcode_invariant():
    px = _gradient()
    h = dhash64(px)
    # global brightness shift cancels in the differences
    assert dhash64(np.clip(px.astype(np.int32) + 10, 0, 255).astype(np.uint8)) == h
    # PNG and TIFF bytes of the SAME pixels hash identically (real codecs)
    from docling_japanese_books_spark.multimodal.images import decode_pixels

    assert dhash64(decode_pixels(pixels_to_png(px))[1]) == h
    assert dhash64(decode_pixels(pixels_to_tiff(px))[1]) == h


def test_dhash_locality_and_separation():
    px = _gradient()
    h = dhash64(px)
    # a mild local perturbation flips few bits
    near = px.copy()
    near[:4, :4] = np.clip(near[:4, :4].astype(np.int32) + 25, 0, 255).astype(
        np.uint8
    )
    d_near = bin((dhash64(near) ^ h) & ((1 << 64) - 1)).count("1")
    assert d_near <= 6, d_near
    # an unrelated image sits near the 32-bit coin-flip expectation
    other = dhash64(_gradient(seed=99)[:, ::-1])
    d_far = bin((other ^ h) & ((1 << 64) - 1)).count("1")
    assert d_far >= 16, d_far


def test_dhash_tiny_images_upscale():
    assert isinstance(dhash64(np.array([[0, 255], [255, 0]])), int)


def test_image_near_dups_end_to_end(spark):
    """PNG originals + TIFF transcodes + a brightness-shifted copy must
    pair up through the banding join; corrupt rows drop out silently."""
    px0, px1 = _gradient(seed=1), _gradient(seed=2)[:, ::-1]
    rows = [
        (0, bytearray(pixels_to_png(px0))),
        (1, bytearray(pixels_to_tiff(px0))),          # transcode of 0
        (2, bytearray(pixels_to_png(px1))),
        (3, bytearray(pixels_to_png(                   # brightness twin of 2
            np.clip(px1.astype(np.int32) + 10, 0, 255).astype(np.uint8)))),
        (4, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = {r.doc_id: r.dhash for r in image_dhash(df).collect()}
    assert hashes[4] is None                   # corrupt -> null, isolated
    assert hashes[0] == hashes[1]              # transcode-invariant
    assert hashes[2] == hashes[3]              # brightness-invariant
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dups(df, max_hamming=3).collect()
    }
    assert pairs == {(0, 1): 0, (2, 3): 0}


def test_image_near_dups_plan_is_banded_equi_join(spark):
    rows = [
        (i, bytearray(pixels_to_png(_gradient(seed=i)))) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    plan = (
        image_near_dups(df)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "chunk" in plan and "cval" in plan, plan
    # candidate generation joins on (chunk, value) — never a cartesian
    assert "Cartesian" not in plan, plan


def _avi(frames):
    from docling_japanese_books_spark.multimodal.avi_codec import (
        frames_to_avi,
    )

    return bytearray(frames_to_avi(np.asarray(frames, dtype=np.uint8)))


def _vframes(seed, n=12, h=16, w=18):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, (n, h, w, 3), dtype=np.uint8)


def test_video_frame_hashes_shape_and_isolation(spark):
    from docling_japanese_books_spark.multimodal.phash import (
        video_frame_hashes,
    )

    rows = [
        (0, _avi(_vframes(1))),
        (1, bytearray(b"not a riff")),
        (2, _avi(_vframes(2, n=3))),  # fewer frames than n_frames
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = video_frame_hashes(df, n_frames=8).collect()
    per_vid = {}
    for r in got:
        per_vid.setdefault(r.doc_id, []).append(r.frame_idx)
    assert sorted(per_vid[0]) == list(range(8))
    assert 1 not in per_vid                      # corrupt: zero rows
    assert sorted(per_vid[2]) == [0, 1, 2]       # short clip dedupes


def test_video_near_dups_trim_and_brightness(spark):
    """A brightness-shifted copy AND a re-cut (frames dropped from the
    front) both pair with the original — position-free frame matching —
    while an unrelated video never pairs."""
    from docling_japanese_books_spark.multimodal.phash import (
        video_near_dups,
    )

    base = _vframes(7)
    bright = np.clip(base.astype(np.int32) + 12, 0, 255).astype(np.uint8)
    rows = [
        (0, _avi(base)),
        (1, _avi(bright)),        # brightness twin, aligned
        (2, _avi(base[3:])),      # trimmed re-cut: every index shifts
        (3, _avi(_vframes(99))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r.id_a, r.id_b): r.n_frame_matches
        for r in video_near_dups(
            df, n_frames=8, max_hamming=3, min_matching_frames=4
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 8   # all sampled frames match
    assert (0, 2) in got                         # survives the trim
    assert all(3 not in pair for pair in got)
    # a stricter threshold than any overlap silences the trimmed pair
    strict = {
        (r.id_a, r.id_b)
        for r in video_near_dups(
            df, n_frames=8, max_hamming=3, min_matching_frames=9
        ).collect()
    }
    assert (0, 2) not in strict


def test_video_near_dups_large_ids_exact(spark):
    """r8 id-packing fix: ids above 2^53 (where the old floor(x/64) double
    division lost exactness) pack/unpack exactly via shifts; ids >= 2^57
    fail LOUDLY instead of silently wrapping and mispairing."""
    import pytest

    from docling_japanese_books_spark.multimodal.phash import video_near_dups

    big_a = (1 << 56) + 12345  # > 2^53, still packable
    big_b = (1 << 56) + 99999
    base = _vframes(7)
    rows = [
        (big_a, _avi(base)),
        (big_b, _avi(base)),  # identical twin at a huge id
        (7, _avi(_vframes(99))),  # unrelated small id
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        (r.id_a, r.id_b): r.n_frame_matches
        for r in video_near_dups(
            df, n_frames=8, max_hamming=3, min_matching_frames=4
        ).collect()
    }
    assert (big_a, big_b) in got  # ids recovered EXACTLY, not off-by-ulp
    assert all(7 not in pair for pair in got)

    over = spark.createDataFrame(
        [(1 << 57, _avi(base)), ((1 << 57) + 1, _avi(base))],
        "doc_id long, payload binary",
    )
    # the guard surfaces as Py4JJavaError or as PySpark's converted
    # SparkRuntimeException depending on earlier session state: match the
    # message through the common base
    with pytest.raises(Exception, match="packable range"):
        video_near_dups(over, n_frames=8, min_matching_frames=1).collect()

    with pytest.raises(ValueError, match="n_frames"):
        video_near_dups(df, n_frames=65)
