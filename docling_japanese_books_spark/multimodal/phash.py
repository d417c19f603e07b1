"""Perceptual image hashing for image-level near-dup detection — the
multimodal counterpart of text simhash. A web crawl's image corpus is
full of the SAME image under different bytes (re-encoded thumbnails,
format transcodes, quality levels, metadata strips); byte/sha dedup
misses all of it, and training pipelines dedup images perceptually for
the same reason they dedup text lexically.

``dhash64`` is the classic difference hash: grayscale -> area-mean
downsample onto an 8 x 9 grid -> 64 sign bits of horizontal neighbour
differences. Properties the tests pin:

- invariant to global brightness shifts (differences cancel the
  offset) and to FORMAT transcodes (PNG/TIFF of the same pixels
  hash identically — exercised with this repo's own pure-Python
  codecs, not mocks);
- small pixel perturbations flip few bits (hamming-near), unrelated
  images land ~32 bits apart (the 64-bit coin-flip expectation).

Scale shape: hashing is one Arrow stage over the payload column with
per-row corruption isolation (null hash, never a task failure —
the ``extract_image_features`` contract); pairing reuses
``operators.dedup.hamming_near_dups``, the pigeonhole banding join
that never goes cartesian. End to end: hash (map-only) -> banding
shuffle on (chunk, value) — the simhash plan, applied to pixels.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .images import decode_pixels as decode_any_pixels


def dhash64(pixels: np.ndarray) -> int:
    """64-bit difference hash of an (H, W) or (H, W, 3) uint8-ish array:
    row-major, MSB first, bit set iff cell[r][c+1] > cell[r][c] on the
    8 x 9 area-mean grid. Returned as a SIGNED 64-bit value (bit 63
    wraps negative) so it stores losslessly in a Spark long."""
    a = np.asarray(pixels, dtype=np.float64)
    if a.ndim == 3:
        a = a @ np.array([0.299, 0.587, 0.114])
    if a.ndim != 2 or a.size == 0:
        raise ValueError("dhash64 needs a non-empty 2D/3D pixel array")
    # tiny inputs: nearest-neighbour upscale so every grid cell is
    # non-empty (integer-edge bounds would otherwise repeat)
    if a.shape[0] < 8:
        a = np.repeat(a, -(-8 // a.shape[0]), axis=0)
    if a.shape[1] < 9:
        a = np.repeat(a, -(-9 // a.shape[1]), axis=1)
    h, w = a.shape
    integral = np.zeros((h + 1, w + 1))
    integral[1:, 1:] = a.cumsum(0).cumsum(1)
    rb = (np.arange(9) * h) // 8    # 9 row edges  -> 8 bands
    cb = (np.arange(10) * w) // 9   # 10 col edges -> 9 bands
    sums = (
        integral[rb[1:, None], cb[None, 1:]]
        - integral[rb[:-1, None], cb[None, 1:]]
        - integral[rb[1:, None], cb[None, :-1]]
        + integral[rb[:-1, None], cb[None, :-1]]
    )
    areas = (rb[1:] - rb[:-1])[:, None] * (cb[1:] - cb[:-1])[None, :]
    # 6-dp rounding (the repo-wide tie discipline) before the sign
    # comparisons: the integral-image cumsum rounds differently per
    # cell for NON-INTEGER pixel values (the luma projection makes even
    # a constant image non-integer), so exactly-tied regions would
    # otherwise split on ulp noise and a flat image could hash nonzero
    cells = np.round(sums / areas, 6)
    bits = (cells[:, 1:] > cells[:, :-1]).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(
    images: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    decode_pixels: "Callable[[bytes], np.ndarray] | None" = None,
) -> DataFrame:
    """(id_col, dhash) per image — one Arrow stage, per-row isolation
    (undecodable payloads hash to null and silently leave the near-dup
    candidate pool, mirroring extract_image_features)."""
    decode = decode_pixels or (lambda payload: decode_any_pixels(payload)[1])

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    h = dhash64(decode(bytes(payload)))
                except Exception:
                    h = None
                ids.append(int(i))
                hashes.append(h)
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "dhash": pd.array(hashes, dtype="Int64"),
                }
            )

    return images.select(id_col, payload_col).mapInPandas(
        op, f"{id_col} long, dhash long"
    )


def image_near_dups(
    images: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    decode_pixels: "Callable[[bytes], np.ndarray] | None" = None,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: ``(id_a, id_b, hamming)``
    with hamming(dhash) <= max_hamming — hash once, then the pigeonhole
    banding join (operators/dedup.py) on the 64-bit signatures."""
    from ..operators.dedup import hamming_near_dups

    sigs = image_dhash(
        images, payload_col=payload_col, id_col=id_col,
        decode_pixels=decode_pixels,
    )
    return hamming_near_dups(
        sigs, hash_col="dhash", id_col=id_col, max_hamming=max_hamming
    )


def video_frame_hashes(
    videos: DataFrame,
    n_frames: int = 8,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, frame_idx, dhash): dhash64 of up to ``n_frames`` evenly
    sampled frames per uncompressed-AVI payload (multimodal/avi_codec —
    real pixels), one Arrow stage, undecodable payloads contributing no
    rows. ``n_frames`` caps at 64 so a frame index packs into the
    composite key ``video_near_dups`` builds."""
    if not 1 <= n_frames <= 64:
        raise ValueError(f"n_frames must be in [1, 64], got {n_frames}")

    from .avi_codec import avi_to_frames

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                try:
                    frames, _fps = avi_to_frames(bytes(payload))
                except Exception:
                    continue
                n = frames.shape[0]
                if n == 0:
                    continue
                # evenly spaced picks; a short clip dedupes to its n frames
                for fi, frame_i in enumerate(sorted({(k * n) // n_frames for k in range(n_frames)})):
                    ids.append(int(i))
                    idxs.append(fi)
                    hashes.append(dhash64(frames[frame_i]))
            yield pd.DataFrame(
                {
                    id_col: pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="Int32"),
                    "dhash": pd.array(hashes, dtype="Int64"),
                }
            )

    return videos.select(id_col, payload_col).mapInPandas(
        op, f"{id_col} long, frame_idx int, dhash long"
    )


def video_near_dups(
    videos: DataFrame,
    n_frames: int = 8,
    max_hamming: int = 3,
    min_matching_frames: int = 4,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate video pairs ``(id_a, id_b, n_frame_matches)``:
    two videos pair when at least ``min_matching_frames`` of their
    sampled frames are dhash-hamming-near — POSITION-FREE matching (any
    frame of A against any frame of B), the standard video-copy-
    detection choice because a trimmed or re-cut copy shifts every
    frame index while the frames themselves survive.

    Plan: one frame-hash Arrow stage, then ONE banding join over ALL
    frame rows (frame identity packs as ``video_id * 64 + frame_idx``
    so the generic 64-bit machinery applies unchanged), then a grouped
    count per video pair — same-video frame matches drop out, and the
    threshold is an aggregate filter, never a second pass over
    payloads."""
    from ..operators.dedup import hamming_near_dups

    if n_frames > 64:
        raise ValueError(
            f"video_near_dups: n_frames={n_frames} > 64 would collide in the "
            "6-bit frame slot of the packed (video_id, frame_idx) key"
        )
    sigs = video_frame_hashes(
        videos, n_frames=n_frames, payload_col=payload_col, id_col=id_col
    )
    # r8 (ADVICE): shift-based pack with an explicit range guard instead of
    # ``id * 64`` / ``floor(id / 64)`` — the multiply wraps silently (or
    # throws mid-job under ANSI) once |doc_id| >= 2^57, exactly the range of
    # xxhash64-derived ids, and the double division loses exactness above
    # 2^53. assert_true fails the job LOUDLY on an out-of-range id;
    # shiftrightunsigned unpacks exactly for every guarded value.
    in_range = (F.col(id_col) >= 0) & (F.col(id_col) < F.lit(1 << 57))
    guard = F.assert_true(
        in_range,
        F.concat(
            F.lit("video_near_dups: doc_id out of packable range [0, 2^57): "),
            F.col(id_col).cast("string"),
        ),
    )
    fid = F.shiftleft(F.col(id_col), 6) + F.col("frame_idx")
    packed = sigs.select(
        F.when(guard.isNull(), fid).alias("_fid"), "dhash"
    )
    frame_pairs = hamming_near_dups(
        packed, hash_col="dhash", id_col="_fid", max_hamming=max_hamming
    )
    va = F.shiftrightunsigned(F.col("id_a"), 6).cast("long")
    vb = F.shiftrightunsigned(F.col("id_b"), 6).cast("long")
    return (
        frame_pairs.select(va.alias("vid_a"), vb.alias("vid_b"))
        .filter(F.col("vid_a") < F.col("vid_b"))
        .groupBy(F.col("vid_a").alias("id_a"), F.col("vid_b").alias("id_b"))
        .agg(F.count("*").alias("n_frame_matches"))
        .filter(F.col("n_frame_matches") >= min_matching_frames)
    )
