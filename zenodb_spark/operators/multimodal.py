"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched pandas UDFs.

The decode step itself is STUBBED (no image/audio libraries in this
container): ``register_decoder`` lets a real deployment plug in PIL/ffmpeg;
the default produces a deterministic fake so the Spark-side plumbing —
schema, batching, partition sizing — is real and testable.

Scale notes:
- binary payloads ride in parquet as BYTE_ARRAY; `maxPartitionBytes` keeps
  tasks bounded no matter how large blobs get.
- all per-blob work happens in ``mapInPandas`` (Arrow batches, zero-copy
  into pandas), never row-at-a-time Python.
- metadata (width/height/duration/codec) lives in a sibling struct column so
  filters on metadata prune without touching payload bytes (parquet column
  pruning drops the blob column entirely).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField("meta_width", IntegerType()),
        StructField("meta_height", IntegerType()),
        StructField("meta_bytes", IntegerType()),
    ]
)

_DECODERS: dict[str, Callable[[bytes], dict[str, Any]]] = {}


def register_decoder(kind: str, fn: Callable[[bytes], dict[str, Any]]) -> None:
    _DECODERS[kind] = fn


def attach_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a synthetic media table from text bytes (testing aid): payload =
    utf-8 bytes, metadata derived deterministically."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        (F.octet_length(payload) % 1024).cast("int").alias("meta_width"),
        (F.octet_length(payload) % 768).cast("int").alias("meta_height"),
        F.octet_length(payload).cast("int").alias("meta_bytes"),
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("digest", StringType()),
        StructField("n_bytes", IntegerType()),
    ]
)


def extract_features(df: DataFrame) -> DataFrame:
    """Decode/feature-extract each blob in Arrow batches via mapInPandas.

    The closure is self-contained (no module-global references) so it
    pickles cleanly to executor Python workers without requiring
    zenodb_spark on their import path — important when the engine is
    driven from an arbitrary working directory. A registered decoder is
    captured by value at plan-build time.
    """
    decoder = _DECODERS.get("image")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def default_decode(payload: bytes) -> dict:
            return {"digest": _hashlib.md5(payload).hexdigest(), "n_bytes": len(payload)}

        decode = decoder or default_decode
        for pdf in batches:
            feats = [decode(bytes(p)) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "digest": [f["digest"] for f in feats],
                    "n_bytes": [f["n_bytes"] for f in feats],
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def resize(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize pipeline: payload → decoded image → resized payload, in Arrow
    batches. The pixel transform is pluggable (``register_decoder("resize",
    fn)`` with fn(payload, w, h) -> bytes); the default is a clearly-marked
    DETERMINISTIC FAKE (no image libs in this container) so the Spark-side
    plumbing — schema, batch shape, metadata update — is real and tested.
    """
    transform = _DECODERS.get("resize")
    w, h = int(width), int(height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hashlib

        import pandas as _pd

        def fake_resize(payload: bytes, w: int, h: int) -> bytes:
            # deterministic fake: header + content digest, sized w*h//64
            head = f"RESIZED:{w}x{h}:".encode()
            digest = _hashlib.md5(payload).digest()
            body = (digest * (max(w * h // 64, 1) // len(digest) + 1))[: max(w * h // 64, 1)]
            return head + body

        fn = transform or fake_resize
        for pdf in batches:
            out = [fn(bytes(p), w, h) for p in pdf["payload"]]
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": out,
                    "meta_width": w,
                    "meta_height": h,
                    "meta_bytes": [len(b) for b in out],
                }
            )

    return df.select(
        "media_id", "kind", "payload", "meta_width", "meta_height", "meta_bytes"
    ).mapInPandas(run, MEDIA_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def frame_sample(df: DataFrame, every_k: int = 10, frame_bytes: int = 4096) -> DataFrame:
    """Video frame sampling: one output row per k-th frame — a fan-out
    mapInPandas (rows out ≫ rows in). Frame extraction is pluggable
    (``register_decoder("frames", fn)`` with fn(payload) -> list[bytes]);
    the default DETERMINISTIC FAKE treats the payload as fixed-size chunks,
    standing in for ffmpeg keyframe decode."""
    extract = _DECODERS.get("frames")
    k = int(every_k)
    fb = int(frame_bytes)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def fake_frames(payload: bytes) -> list:
            return [payload[i : i + fb] for i in range(0, max(len(payload), 1), fb)]

        fn = extract or fake_frames
        for pdf in batches:
            ids, idxs, totals, frames = [], [], [], []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                fs = fn(bytes(p))
                for i in range(0, len(fs), k):
                    ids.append(mid)
                    idxs.append(i)
                    totals.append(len(fs))
                    frames.append(fs[i])
            yield _pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": idxs,
                    "n_frames": totals,
                    "frame_payload": frames,
                }
            )

    return df.select("media_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def embed_media(
    df: DataFrame,
    dim: int = 64,
    encoder: Callable[[bytes], list] | None = None,
) -> DataFrame:
    """Media → embedding column, closing the loop into the ANN operators
    (`ivf_assign` / `ann_*` consume the output directly).

    The default encoder is a deterministic byte-histogram feature (256 bins
    folded to ``dim``, L2-normalized) — no media libraries in this
    container, but it is a real feature map: near-identical payloads land
    near each other, and the Spark-side shape (Arrow batches in
    ``mapInPandas``, numpy per batch, array<float> out) is exactly what a
    CLIP/wav2vec encoder plugs into via ``encoder=``.

    Scale notes: embedding happens where the bytes already are (no
    shuffle); the output column is dim×4 bytes/row, so downstream ANN
    stages read a frame thousands of times smaller than the media table.
    """
    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("kind", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def default_encode(payload: bytes) -> list:
            b = _np.frombuffer(payload or b"\x00", dtype=_np.uint8)
            hist = _np.bincount(b, minlength=256).astype("float64")
            h = hist.reshape(dim, 256 // dim).sum(axis=1)
            n = _np.linalg.norm(h)
            return (h / n if n else h).astype("float32").tolist()

        encode = encoder or default_encode
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "embedding": [encode(bytes(p)) for p in pdf["payload"]],
                }
            )

    return df.select("media_id", "kind", "payload").mapInPandas(run, out_schema)
