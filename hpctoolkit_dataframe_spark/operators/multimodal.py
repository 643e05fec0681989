"""Multimodal (image/audio/video) column plumbing.

Scale extension (task brief): media travel as opaque ``binary`` columns
with typed metadata; decode / feature-extraction / resize / frame-
sampling run as Arrow-batched ``mapInPandas`` stages.  The actual codec
work is STUBBED (no image/audio libraries in this container): decoding
raises ``NotImplementedError`` unless the deterministic fake decoder is
requested, while everything Spark-side — schema contracts, batch
iteration, partition sizing, UDF signatures — is real and tested.

Scale notes: mapInPandas streams Arrow batches, so executor memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` x mean blob
size; repartition upstream so one task holds O(100MB) of media, and
keep extracted features in flat float arrays so downstream similarity
ops (operators on ``array<float>``) work unchanged.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 64


def _register_for_workers() -> None:
    from .._pickle import register_module_by_value

    register_module_by_value(__name__)


def _require_real_codec(media_type: str):
    raise NotImplementedError(
        f"real {media_type} decoding needs codec libraries not present in "
        "this environment; pass fake=True for the deterministic stub")


def _fake_features(content: bytes, dim: int) -> list[float]:
    """Deterministic pseudo-features from the bytes' md5 (stands in for a
    real encoder; stable across runs/engines)."""
    out = []
    seed = content or b""
    i = 0
    while len(out) < dim:
        h = hashlib.md5(seed + i.to_bytes(4, "little")).digest()
        out.extend(b / 255.0 - 0.5 for b in h)
        i += 1
    return out[:dim]


def extract_features(df: DataFrame, *, fake: bool = False,
                     dim: int = FEATURE_DIM,
                     content_col: str = "content") -> DataFrame:
    """binary content -> ``features array<float>`` via Arrow-batched
    mapInPandas (the plumbing a real encoder would use)."""
    if not fake:
        _require_real_codec("feature-extraction")
    _register_for_workers()

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("features", T.ArrayType(T.FloatType()))])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            batch = batch.copy()
            batch["features"] = [
                _fake_features(c if c is not None else b"", dim)
                for c in batch[content_col]
            ]
            yield batch

    return df.mapInPandas(run, schema=out_schema)


def sample_frames(df: DataFrame, every_nth: int = 10, *, fake: bool = False,
                  content_col: str = "content",
                  chunk_size: int = 1024) -> DataFrame:
    """video binary -> one row per sampled frame (frame_idx, frame binary).

    The stub treats every ``chunk_size``-byte chunk as a 'frame'; a real
    implementation would decode containers — the row-explosion plumbing
    is identical.
    """
    if not fake:
        _require_real_codec("video")
    _register_for_workers()

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(batch["media_id"], batch[content_col]):
                content = content or b""
                chunks = [content[i:i + chunk_size]
                          for i in range(0, len(content), chunk_size)]
                for j, chunk in enumerate(chunks):
                    if j % every_nth == 0:
                        ids.append(mid)
                        idxs.append(j)
                        frames.append(chunk)
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.mapInPandas(run, schema=out_schema)


def synthesize_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for tests (binary payloads derived
    from the row id; no external data; media_type is image, audio or
    video)."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(f"media{i}".encode()).digest() * (i % 7 + 1)
        rows.append((i, ["image", "audio", "video"][i % 3], payload,
                     {"w": str(64 + i), "h": "64"}))
    return spark.createDataFrame(
        rows, "media_id long, media_type string, content binary, "
              "meta map<string, string>")
