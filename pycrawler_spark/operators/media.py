"""Multimodal binary-column operators (training-data pipeline).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata, processed batch-wise via ``mapInPandas`` (Arrow transfer,
bounded batches — never a row-at-a-time Python UDF). The real decode
and resize kernels (``fake=False``) are stubs that raise
``NotImplementedError``, which surfaces as a per-row error, because no
image/audio library is a dependency; the Spark-side contract —
schemas, batch shapes, partitioning, null handling — is real and
tested. Wiring in Pillow/libav changes only the kernel body.

A deterministic fake decoder (``fake=True``) derives pseudo features
from the payload bytes so pipelines are testable end-to-end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("kind", T.StringType()),       # image | audio | video
        T.StructField("content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURES_SCHEMA = (
    "media_id long, kind string, width int, height int, n_frames int, "
    "duration_ms double, feature array<float>, decode_ok boolean, "
    "decode_error string"
)

FEATURE_DIM = 16


def _fake_decode(payload: bytes, kind: str):
    """Deterministic pseudo-decode: feature = normalized bytes of
    md5(payload) — stable across runs, no media libs needed."""
    h = hashlib.md5(payload or b"").digest()
    feat = (np.frombuffer(h, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    w = 1 + h[0] % 64
    ht = 1 + h[1] % 64
    frames = 1 if kind == "image" else 1 + h[2] % 32
    dur = 0.0 if kind == "image" else float(h[3]) * 100.0
    return w, ht, frames, dur, feat.tolist()


def _real_decode(payload: bytes, kind: str):
    raise NotImplementedError(
        "real media decode requires Pillow (images) / libav (audio, "
        "video) — wire the library call here (contract: return "
        "(width, height, n_frames, duration_ms, feature[FEATURE_DIM]))"
    )


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode + featurize each media row; errors become
    (decode_ok=false, decode_error) rows instead of failing the batch —
    a 100 TB scan must survive corrupt payloads."""
    decode = _fake_decode if fake else _real_decode

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    w, h, nf, dur, feat = decode(
                        bytes(payload) if payload is not None else b"", kind
                    )
                    rows.append((mid, kind, w, h, nf, dur, feat, True, None))
                except Exception as e:  # corrupt payload path
                    rows.append(
                        (mid, kind, None, None, None, None, None, False,
                         f"{type(e).__name__}: {e}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "width", "height", "n_frames",
                    "duration_ms", "feature", "decode_ok", "decode_error",
                ],
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 8, fake: bool = True) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits one row per
    sampled frame index (real decoder would attach the frame bytes)."""
    feats = extract_features(media.filter(F.col("kind") == "video"), fake)
    return feats.filter(F.col("decode_ok")).select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                       F.lit(every_n))
        ).alias("frame_idx"),
    )


RESIZED_SCHEMA = (
    "media_id long, kind string, width int, height int, payload binary, "
    "resize_ok boolean, resize_error string"
)


def resize(
    media: DataFrame, target_w: int, target_h: int, fake: bool = True
) -> DataFrame:
    """Resize plumbing for image rows (mapInPandas, Arrow batches).

    The real kernel is stubbed like decode (needs Pillow); the fake
    kernel deterministically clamps dims to the target and passes the
    payload through, so the Spark-side contract — schema, batching,
    error rows for corrupt payloads — is testable end-to-end."""

    def _fake_resize(payload: bytes):
        h = hashlib.md5(payload or b"").digest()
        w0, h0 = 1 + h[0] % 64, 1 + h[1] % 64
        return min(w0, target_w), min(h0, target_h), payload

    def _real_resize(payload: bytes):
        raise NotImplementedError(
            "real image resize requires Pillow — wire it here (contract: "
            "return (new_w, new_h, resized_bytes))"
        )

    kernel = _fake_resize if fake else _real_resize

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, kind, payload in zip(b["media_id"], b["kind"], b["payload"]):
                try:
                    w, h, out = kernel(
                        bytes(payload) if payload is not None else b""
                    )
                    rows.append((mid, kind, w, h, out, True, None))
                except Exception as e:
                    rows.append(
                        (mid, kind, None, None, None, False,
                         f"{type(e).__name__}: {e}"[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "kind", "width", "height", "payload",
                         "resize_ok", "resize_error"],
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        run, RESIZED_SCHEMA
    )
