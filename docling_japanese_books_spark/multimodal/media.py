"""Audio/video as opaque binary columns: decode / frame-sample / resize
plumbing (task brief). Same contract as images.py — the Spark-side shape
(schemas, mapInPandas batching, per-row error isolation) is real.
Uncompressed WAV audio AND uncompressed AVI video decode for REAL
(pure-Python RIFF codecs in ``wav_codec.py`` / ``avi_codec.py`` —
samples, frames, durations, per-window/per-frame features); compressed
containers remain a deterministic fake behind the same function slot a
real ffmpeg-based decoder would fill (ffmpeg isn't in this container;
that branch of ``decode_media_real`` raises NotImplementedError until
it is).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_index", T.IntegerType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("kind", T.StringType(), True),  # audio | video
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),  # audio
        T.StructField("n_frames", T.IntegerType(), True),  # video
        T.StructField(  # sampled frames (video) or windows (audio):
            "samples",  # per sample: offset + tiny feature vector
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("offset_s", T.DoubleType(), False),
                        T.StructField("feature", T.ArrayType(T.FloatType()), False),
                    ]
                )
            ),
            True,
        ),
    ]
)


def fake_decode_media(payload: bytes, n_samples: int = 4) -> dict:
    """Deterministic FAKE: kind/duration/rate derived from content bytes;
    'frame sampling' picks n_samples evenly-spaced offsets and hashes the
    corresponding byte neighborhoods into 4-dim features — the exact batch
    shape a real ffmpeg frame sampler produces."""
    digest = hashlib.sha256(payload).digest()
    kind = "audio" if digest[0] % 2 == 0 else "video"
    duration = 1.0 + (digest[1] % 240)
    samples = []
    for i in range(n_samples):
        offset = round(duration * i / n_samples, 3)
        window = payload[
            (i * 16) % max(1, len(payload)) : (i * 16) % max(1, len(payload)) + 64
        ]
        h = hashlib.sha256(window or b"\0").digest()
        feature = [(int.from_bytes(h[4 * j : 4 * j + 4], "little") % 1000) / 1000.0
                   for j in range(4)]
        samples.append(dict(offset_s=offset, feature=feature))
    out = dict(kind=kind, duration_s=float(duration), samples=samples)
    if kind == "audio":
        out.update(sample_rate=[8000, 16000, 44100][digest[2] % 3], n_frames=None)
    else:
        out.update(sample_rate=None, n_frames=int(duration * 24))
    return out


def decode_media_real(payload: bytes, n_samples: int = 4) -> dict:
    """Real decode path: uncompressed WAV audio and uncompressed AVI
    video decode pure-Python (multimodal/wav_codec, multimodal/avi_codec
    — real samples/frames, real features, no ffmpeg needed); compressed
    containers stay gated until ffmpeg bindings exist. Corrupt or
    out-of-subset RIFF bytes raise ValueError — extract_media_features
    isolates that per row."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        from .wav_codec import audio_features, audio_windows, wav_to_samples

        samples, rate = wav_to_samples(payload)
        feats = audio_features(samples, rate)
        return dict(
            kind="audio",
            duration_s=feats["duration_s"],
            sample_rate=int(rate),
            n_frames=None,
            samples=audio_windows(samples, rate, n_samples),
        )
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from .avi_codec import avi_to_frames, frame_features

        frames, fps = avi_to_frames(payload)
        n = frames.shape[0]
        duration = n / fps
        picks = [min(n - 1, int(n * i / n_samples)) for i in range(n_samples)]
        return dict(
            kind="video",
            duration_s=float(duration),
            sample_rate=None,
            n_frames=int(n),
            samples=[
                dict(offset_s=round(p / fps, 3), feature=frame_features(frames[p]))
                for p in picks
            ],
        )
    raise NotImplementedError(
        "compressed audio/video decode requires ffmpeg bindings; WAV and "
        "uncompressed AVI decode pure-Python, use fake_decode_media elsewhere"
    )


def extract_media_features(
    media: DataFrame,
    payload_col: str = "payload",
    doc_col: str = "doc_id",
    index_col: str = "media_index",
    decode_fn: Optional[Callable[[bytes], dict]] = None,
    n_samples: int = 4,
) -> DataFrame:
    """mapInPandas over binary payloads -> typed media metadata + sampled
    frame/window features. Corrupt payloads yield null metadata rows."""
    decode = decode_fn or (lambda p: fake_decode_media(p, n_samples))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, idx, payload in zip(
                pdf[doc_col], pdf[index_col], pdf[payload_col]
            ):
                payload = bytes(payload) if payload is not None else b""
                base = dict(
                    doc_id=int(doc_id),
                    media_index=int(idx),
                    sha256=hashlib.sha256(payload).hexdigest(),
                    n_bytes=len(payload),
                )
                try:
                    base.update(decode(payload))
                except Exception:
                    base.update(
                        kind=None, duration_s=None, sample_rate=None,
                        n_frames=None, samples=None,
                    )
                rows.append(base)
            yield pd.DataFrame(rows)

    return media.mapInPandas(op, MEDIA_META_SCHEMA)


def resize_image_stub(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic resize stand-in: a real implementation returns the
    re-encoded image; the stub returns a tagged digest so downstream
    plumbing (binary-in/binary-out, shape metadata) is exercised."""
    tag = f"resized:{width}x{height}:".encode()
    return tag + hashlib.sha256(payload).digest()


def resize_image_real(payload: bytes, width: int, height: int) -> bytes:
    """REAL resize for every pure-Python-decodable format (the
    reference's image path is PNG, image_processor.py:29-76; this engine
    also decodes baseline JPEG and baseline TIFF): decode -> nearest-
    neighbor -> re-encode as PNG (the lossless transcode target, so a
    resized JPEG never re-loses quality). Undecodable payloads fall back
    to the stub (PIL would slot in here where installed)."""
    from .images import decode_pixels
    from .png_codec import pixels_to_png, resize_nearest

    try:
        _fmt, px = decode_pixels(payload)
    except ValueError:
        # unrecognized or corrupt: the stub keeps the binary-in/binary-out
        # contract
        return resize_image_stub(payload, width, height)
    return pixels_to_png(resize_nearest(px, width, height))


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("image_index", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("n_bytes_in", T.LongType(), True),
        T.StructField("n_bytes_out", T.LongType(), True),
    ]
)


def resize_images(
    images: DataFrame,
    width: int,
    height: int,
    payload_col: str = "payload",
    doc_col: str = "doc_id",
    index_col: str = "image_index",
    resize_fn: Optional[Callable[[bytes, int, int], bytes]] = None,
) -> DataFrame:
    """Binary-in/binary-out resize as one Arrow-batched map stage (no
    shuffle). Default pixel op is ``resize_image_real``: REAL decode ->
    nearest-neighbor -> re-encode for PNG payloads (pure-Python codec),
    digest stub for other formats until PIL exists."""
    resize = resize_fn or resize_image_real

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs, nin, nout = [], [], []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                resized = resize(data, width, height)
                outs.append(resized)
                nin.append(len(data))
                nout.append(len(resized))
            yield pd.DataFrame(
                {
                    "doc_id": pdf[doc_col],
                    "image_index": pdf[index_col],
                    "width": width,
                    "height": height,
                    "payload": outs,
                    "n_bytes_in": nin,
                    "n_bytes_out": nout,
                }
            )

    return images.select(doc_col, index_col, payload_col).mapInPandas(
        op, RESIZED_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("media_index", T.IntegerType(), True),
        T.StructField("frame_index", T.IntegerType(), True),
        T.StructField("offset_s", T.DoubleType(), True),
        T.StructField("frame_sha256", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def sample_frames(
    media: DataFrame,
    n_frames: int = 8,
    payload_col: str = "payload",
    doc_col: str = "doc_id",
    index_col: str = "media_index",
) -> DataFrame:
    """Video frame sampling: one row per sampled frame at evenly-spaced
    offsets (the shape an ffmpeg `-vf fps=` extraction produces). Audio
    payloads are skipped (kind comes from the decode). Uncompressed AVI
    payloads decode for REAL (multimodal/avi_codec: real pixels hashed
    and featurized per frame); other payloads use the deterministic fake
    with the same exploded-row shape. One map stage, no shuffle — at
    100 TB the frame explosion multiplies rows ~n_frames x inside the
    stage without ever exchanging payload bytes."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .avi_codec import avi_to_frames, frame_features

        for pdf in batches:
            rows = []
            for did, midx, payload in zip(
                pdf[doc_col], pdf[index_col], pdf[payload_col]
            ):
                data = bytes(payload) if payload is not None else b""
                if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
                    try:
                        frames, fps = avi_to_frames(data)
                    except ValueError:
                        continue  # corrupt video: isolated, not fatal
                    n = frames.shape[0]
                    picks = [
                        min(n - 1, int(n * i / n_frames)) for i in range(n_frames)
                    ]
                    for i, p in enumerate(picks):
                        rows.append(
                            (
                                did,
                                int(midx),
                                i,
                                round(p / fps, 3),
                                hashlib.sha256(frames[p].tobytes()).hexdigest(),
                                frame_features(frames[p]),
                            )
                        )
                    continue
                meta = fake_decode_media(data, n_samples=n_frames)
                if meta["kind"] != "video":
                    continue
                for i, s in enumerate(meta["samples"]):
                    start = (i * 16) % max(1, len(data))
                    window = data[start : start + 64] or b"\0"
                    rows.append(
                        (
                            did,
                            int(midx),
                            i,
                            s["offset_s"],
                            hashlib.sha256(window).hexdigest(),
                            s["feature"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "media_index",
                    "frame_index",
                    "offset_s",
                    "frame_sha256",
                    "feature",
                ],
            )

    return media.select(doc_col, index_col, payload_col).mapInPandas(op, FRAME_SCHEMA)
