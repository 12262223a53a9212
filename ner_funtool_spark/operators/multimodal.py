"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extract / resize / frame-sample are
Arrow-batched ``mapInPandas`` stages.  The actual codecs (PIL/ffmpeg)
are NOT in this container, so the decode step is STUBBED: a clearly
marked ``NotImplementedError`` behind an import-try, plus a
deterministic fake decoder so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and tested.

Design notes for 100 TB:
* payloads stay opaque bytes end-to-end; only metadata columns are
  shuffled (the binary column is projected away before any join);
* per-batch decode amortizes codec init across the Arrow batch
  (spark.sql.execution.arrow.maxRecordsPerBatch controls memory);
* feature vectors come back as array<float>, compatible with the
  similarity operators (operators/similarity.py).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

try:  # the image stack is not in this image — gate it
    from PIL import Image  # noqa: F401

    HAS_PIL = True
except Exception:
    HAS_PIL = False

MEDIA_SCHEMA = (
    "media_id bigint, kind string, payload binary, "
    "meta struct<width:int, height:int, n_frames:int, mime:string>"
)
FEATURE_DIM = 16


def synth_media(spark, n: int, seed: int = 7) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (1 + i % 4)
                kind = ["image", "audio", "video"][i % 3]
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "width": 16 * (1 + i % 8),
                            "height": 16 * (1 + i % 5),
                            "n_frames": 1 if kind == "image" else 8 + i % 16,
                            "mime": {"image": "image/png", "audio": "audio/wav",
                                     "video": "video/mp4"}[kind],
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _fake_features(payload: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Deterministic stand-in feature extractor: bytes -> float vector.

    Folds the payload into ``dim`` byte-sum buckets and normalizes —
    stable across partitionings, so tests can pin outputs.
    """
    out = np.zeros((len(payload), dim), dtype=np.float64)
    for i, b in enumerate(payload):  # per Arrow batch; payloads are opaque
        arr = np.frombuffer(b, dtype=np.uint8)
        pad = (-len(arr)) % dim
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=np.uint8)])
        out[i] = arr.reshape(-1, dim).sum(axis=0)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return (out / np.where(norms == 0, 1, norms)).astype(np.float32)


def _fake_feature_sums(payload: np.ndarray, dim: int = FEATURE_DIM) -> np.ndarray:
    """Integer bucket sums BEFORE normalization — exact int64, so the
    DuckDB oracle reproduces them bit-for-bit (no float rounding risk).
    """
    out = np.zeros((len(payload), dim), dtype=np.int64)
    for i, b in enumerate(payload):
        arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
        pad = (-len(arr)) % dim
        if pad:
            arr = np.concatenate([arr, np.zeros(pad, dtype=np.int64)])
        out[i] = arr.reshape(-1, dim).sum(axis=0)
    return out


def extract_features(media: DataFrame, stub: bool = True,
                     dim: int = FEATURE_DIM,
                     normalize: bool = True) -> DataFrame:
    """media -> (media_id, kind, feature) via mapInPandas.

    normalize=True: L2-normalized array<float> (similarity-compatible).
    normalize=False: exact integer bucket sums array<bigint> — the
    cross-engine-checkable form the driver query uses."""
    if not stub and not HAS_PIL:
        raise NotImplementedError("non-stub extraction requires codec libs")

    ftype = "array<float>" if normalize else "array<bigint>"
    schema = f"media_id bigint, kind string, feature {ftype}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            fn = _fake_features if normalize else _fake_feature_sums
            feats = fn(pdf["payload"].to_numpy(), dim)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": list(feats),
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(run, schema=schema)


def frame_sample(media: DataFrame, every_k: int = 4) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled frame index
    (decode stubbed; the explode/partition shape is the real thing)."""
    v = media.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.n_frames") - 1, F.lit(every_k))
        ).alias("frame_idx"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def resize_plan(media: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize metadata planning (pure column math; decode stubbed)."""
    scale = F.least(
        F.lit(1.0),
        max_side / F.greatest(F.col("meta.width"), F.col("meta.height")),
    )
    return media.select(
        "media_id",
        "kind",
        F.round(F.col("meta.width") * scale).cast("int").alias("out_width"),
        F.round(F.col("meta.height") * scale).cast("int").alias("out_height"),
    )
