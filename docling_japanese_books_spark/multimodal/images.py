"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The reference extracts PNGs from PDFs, hashes them, and manifests them
(``image_processor.py:29-153,204-227``, S9). The Spark-side plumbing is
real — schemas, batch iteration, partitioning, manifest aggregation — and
pixel decode is real for the dominant web formats plus scanned-book
masters, all pure-Python from public specs: PNG (``png_codec.py``),
baseline JPEG (``jpeg_codec.py``) and baseline TIFF (``tiff_codec.py``).
``decode_pixels`` dispatches on signature; ``decode_image_real`` only
needs PIL for anything else. The default ``decode_fn`` remains the
deterministic fake so fixture-driven queries stay library-independent;
pass ``decode_image_real`` to run on real pixels.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("image_index", T.IntegerType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def fake_decode(payload: bytes) -> dict:
    """Deterministic FAKE decode (stub): derives pseudo width/height/format
    and an 8-dim feature purely from the byte content. Replace with a real
    decoder where PIL/ffmpeg exist; the Spark plumbing is identical."""
    digest = hashlib.sha256(payload).digest()
    width = 64 + digest[0] % 192
    height = 64 + digest[1] % 192
    fmt = ["png", "jpeg", "webp"][digest[2] % 3]
    feature = [
        (int.from_bytes(digest[4 * i : 4 * i + 4], "little") % 1000) / 1000.0
        for i in range(8)
    ]
    return dict(width=width, height=height, format=fmt, feature=feature)


class UnsupportedImageFormat(ValueError):
    """Bytes whose signature names no pure-Python-decodable format."""


def decode_pixels(payload: bytes) -> tuple:
    """``(format, pixels)`` by byte-signature dispatch — the package's one
    signature -> decoder map, shared by ``decode_image_real``,
    ``phash.image_dhash`` and ``media.resize_image_real``. Decodes PNG,
    baseline JPEG and baseline TIFF pure-Python. Corrupt/out-of-subset
    bytes raise ValueError; any other signature raises
    ``UnsupportedImageFormat`` (a ValueError)."""
    from .png_codec import PNG_SIGNATURE, png_to_pixels

    if payload[: len(PNG_SIGNATURE)] == PNG_SIGNATURE:
        return "png", png_to_pixels(payload)
    if payload[:2] == b"\xff\xd8":  # JPEG SOI
        from .jpeg_codec import jpeg_to_pixels

        return "jpeg", jpeg_to_pixels(payload)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff_codec import tiff_to_pixels

        return "tiff", tiff_to_pixels(payload)
    raise UnsupportedImageFormat("unrecognized image signature")


def decode_image_real(payload: bytes) -> dict:
    """Real decode path: PNG, baseline JPEG and baseline TIFF decode
    pure-Python through ``decode_pixels`` (real pixels, real features, no
    PIL needed); other formats go through PIL when installed, else raise.
    Corrupt/out-of-subset bytes raise ValueError —
    extract_image_features isolates that per row."""
    from .png_codec import image_features

    try:
        fmt, px = decode_pixels(payload)
    except UnsupportedImageFormat:
        return _decode_with_pil(payload)
    return dict(
        width=int(px.shape[1]),
        height=int(px.shape[0]),
        format=fmt,
        feature=image_features(px),
    )


def _decode_with_pil(payload: bytes) -> dict:
    try:
        import io

        from PIL import Image  # type: ignore
    except ImportError as ex:  # pragma: no cover - container has no PIL
        raise NotImplementedError(
            "decoding formats other than PNG, baseline JPEG and baseline "
            "TIFF requires PIL"
        ) from ex
    img = Image.open(io.BytesIO(payload))
    return dict(
        width=img.width, height=img.height, format=(img.format or "").lower(), feature=None
    )


def extract_image_features(
    images: DataFrame,
    payload_col: str = "payload",
    doc_col: str = "doc_id",
    index_col: str = "image_index",
    decode_fn: Optional[Callable[[bytes], dict]] = None,
) -> DataFrame:
    """mapInPandas over binary payloads -> typed metadata + feature vector.

    Batch shape: one Arrow batch of (doc_id, image_index, payload) in,
    one batch of IMAGE_META_SCHEMA out. Per-row try/except — a corrupt blob
    yields null metadata, never a task failure."""
    decode = decode_fn or fake_decode

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, idx, payload in zip(
                pdf[doc_col], pdf[index_col], pdf[payload_col]
            ):
                payload = bytes(payload) if payload is not None else b""
                base = dict(
                    doc_id=int(doc_id),
                    image_index=int(idx),
                    sha256=hashlib.sha256(payload).hexdigest(),
                    n_bytes=len(payload),
                )
                try:
                    base.update(decode(payload))
                except Exception:
                    base.update(width=None, height=None, format=None, feature=None)
                rows.append(base)
            yield pd.DataFrame(rows)

    return images.mapInPandas(op, IMAGE_META_SCHEMA)


def image_manifest(meta: DataFrame, doc_col: str = "doc_id") -> DataFrame:
    """S9 manifest (ref image_processor.py:204-227): per-doc image inventory.
    hashes capped at 5 like the reference's image_hashes[:5]
    (vector_db.py:273-275)."""
    return meta.groupBy(doc_col).agg(
        F.count("*").alias("n_images"),
        F.sum("n_bytes").alias("total_bytes"),
        F.slice(F.sort_array(F.collect_list("sha256")), 1, 5).alias("image_hashes"),
    )


def write_image_files(
    images: DataFrame,
    out_dir: str,
    payload_col: str = "payload",
    doc_col: str = "doc_id",
    ext: str = "png",
) -> DataFrame:
    """S9 write side (ref image_processor.py:29-76 ``extract_and_store_images``
    writes each picture as ``{sha256(png_bytes)}.png``): content-addressed
    per-image binary files plus the manifest frame.

    One pass over the payloads: a ``mapInPandas`` stage writes each blob
    executor-side (no driver funnel) AND yields its metadata row, so the
    manifest aggregation downstream triggers the writes — payload bytes are
    scanned exactly once. The filename IS the content hash, so concurrent,
    duplicate, or retried writes are idempotent (tmp-file + atomic rename).
    ``out_dir`` must be storage all executors can reach (a local dir on
    local[*], shared/object storage on a cluster).

    Returns the per-document manifest DataFrame; materializing it performs
    the writes."""
    import hashlib as _hashlib
    import os

    meta_schema = T.StructType(
        [
            T.StructField(doc_col, images.schema[doc_col].dataType, True),
            T.StructField("sha256", T.StringType(), True),
            T.StructField("n_bytes", T.LongType(), True),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        for pdf in batches:
            shas, sizes = [], []
            for payload in pdf[payload_col]:
                data = bytes(payload) if payload is not None else b""
                sha = _hashlib.sha256(data).hexdigest()
                path = os.path.join(out_dir, f"{sha}.{ext}")
                # empty payloads are written too: every sha the manifest
                # records must resolve to a real file
                if not os.path.exists(path):  # content-addressed: idempotent
                    tmp = f"{path}.tmp-{os.getpid()}"
                    with open(tmp, "wb") as f:
                        f.write(data)
                    os.replace(tmp, path)  # atomic publish
                shas.append(sha)
                sizes.append(len(data))
            yield pd.DataFrame(
                {doc_col: pdf[doc_col], "sha256": shas, "n_bytes": sizes}
            )

    meta = images.select(doc_col, payload_col).mapInPandas(op, meta_schema)
    return meta.groupBy(doc_col).agg(
        F.count("*").alias("n_images"),
        F.sum("n_bytes").alias("total_bytes"),
        F.slice(F.sort_array(F.collect_list("sha256")), 1, 5).alias("image_hashes"),
    )
