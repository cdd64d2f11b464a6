"""Multimodal column plumbing: media as opaque ``binary`` payloads,
turned into feature vectors via Arrow-batched mapInPandas.

There is no decoder (no image/audio library is a dependency): the
feature vector is a deterministic stand-in derived from the payload
hash. The Spark-side plumbing is real: schema, batch iteration shape
and the media_ref/kind passthrough.

Schema convention:
    media(media_ref string, kind string, payload binary)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def deterministic_fake_features(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature vector (``FEATURE_DIM`` floats in
    [0, 1]) derived from the payload hash."""
    h = hashlib.sha256(payload).digest()
    n = FEATURE_DIM * 4
    raw = np.frombuffer((h * (n // len(h) + 1))[:n], dtype=np.uint32)
    return (raw.astype(np.float64) / np.iinfo(np.uint32).max).astype(np.float32)


def extract_media_features(media: DataFrame) -> DataFrame:
    """media -> (media_ref, kind, features array<float>) via mapInPandas:
    ``deterministic_fake_features`` of each payload (NULL payload, NULL
    features), over Arrow batches."""
    out_schema = "media_ref string, kind string, features array<float>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = [
                None if p is None else deterministic_fake_features(bytes(p)).tolist()
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    cols = media.select("media_ref", "kind", "payload")
    return cols.mapInPandas(kernel, out_schema)


def features_long(feats: DataFrame) -> DataFrame:
    """(media_ref, kind, features array<float>) -> long form
    (media_ref, kind, dim_idx, value double). Canonicalizable (no list
    columns) — the shape driver-side checks and parquet sinks want."""
    return feats.select(
        "media_ref",
        "kind",
        F.posexplode("features").alias("dim_idx", "value"),
    ).select(
        "media_ref",
        "kind",
        F.col("dim_idx").cast("bigint").alias("dim_idx"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
    )


def media_from_table(rows: DataFrame) -> DataFrame:
    """Any table with a ``media_ref`` column -> the media schema (kind
    'image'), with a deterministic payload derived from the ref (stand-in
    for the object-store fetch a production pipeline does by media_ref)."""
    return rows.select(
        F.col("media_ref"),
        F.lit("image").alias("kind"),
        F.encode(F.col("media_ref"), "utf-8").alias("payload"),
    )
