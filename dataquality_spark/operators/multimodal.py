"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
`modality` tag and a metadata struct. The decode/feature-extract stages
are Arrow-batched `mapInPandas` operators with REAL Spark plumbing
(schema, batching, partition behavior) and a clearly-marked stub where a
codec library (Pillow/ffmpeg/torchaudio) would be called — those libs
are not in this container, so the stub derives deterministic fake
features from the raw bytes (documented below) and raises
NotImplementedError when `strict=True`.

Scale notes: binary payloads never shuffle — metadata extraction is a
mapInPandas projection; downstream joins/agg run on the (id, metadata)
columns only, so `select` the payload away before any wide op.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, FloatType,
                               IntegerType, LongType, StringType, StructField,
                               StructType)

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("modality", StringType()),      # image | audio | video
    StructField("payload", BinaryType()),
    StructField("mime", StringType()),
])

META_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("modality", StringType()),
    StructField("n_bytes", LongType()),
    StructField("md5_prefix", StringType()),
    StructField("width", IntegerType()),        # image/video; -1 otherwise
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),     # audio/video; -1 otherwise
])


def _fake_decode(payload: bytes, modality: str) -> tuple[int, int, int]:
    """STUB for the real codec call (Pillow / ffprobe / soundfile).

    Deterministic fake: dimensions/duration derived from the payload's
    md5 bytes so tests are stable AND the DuckDB oracle can re-derive
    them in SQL (md5 + hex-parse — sha1 is not SQL-portable). Replace
    the body with the real decoder on a cluster image that ships codec
    libraries.
    """
    h = hashlib.md5(payload).digest()
    if modality == "image":
        return 64 + h[0] % 1024, 64 + h[1] % 1024, -1
    if modality == "video":
        return 320 + h[0] % 1600, 240 + h[1] % 840, 1000 * (1 + h[2] % 600)
    if modality == "audio":
        return -1, -1, 1000 * (1 + h[2] % 3600)
    raise ValueError(f"unknown modality: {modality}")


def extract_metadata(df: DataFrame, strict: bool = False) -> DataFrame:
    """media frame → metadata frame via Arrow-batched mapInPandas.

    `strict=True` refuses the fake decode (production guard)."""
    if strict:
        raise NotImplementedError(
            "real codec decode requires Pillow/ffmpeg — not in this "
            "container; run with strict=False for the deterministic stub")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w, h, d = [], [], []
            for payload, modality in zip(pdf["payload"], pdf["modality"]):
                ww, hh, dd = _fake_decode(bytes(payload), modality)
                w.append(ww), h.append(hh), d.append(dd)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "modality": pdf["modality"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "md5_prefix": [hashlib.md5(bytes(p)).hexdigest()[:12]
                               for p in pdf["payload"]],
                "width": pd.array(w, dtype="int32"),
                "height": pd.array(h, dtype="int32"),
                "duration_ms": pd.array(d, dtype="int64"),
            })

    return df.mapInPandas(_extract, META_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: rows (media_id, frame_ts_ms) for each
    frame a decoder would extract — pure Catalyst sequence/explode, no
    Python. The actual pixel decode is the stub above."""
    meta = df
    return (meta.filter(F.col("modality") == "video")
            .select("media_id",
                    F.explode(F.sequence(
                        F.lit(0).cast("long"),
                        F.col("duration_ms") - 1,
                        F.lit(every_ms).cast("long")))
                    .alias("frame_ts_ms")))


def synthesize_media_from_text(df: DataFrame, id_col: str, text_col: str,
                               ) -> DataFrame:
    """Deterministic media corpus for tests: payload = utf-8 bytes of the
    text, modality round-robined by id. Real pipelines read WARC/tar
    shards into the same MEDIA_SCHEMA."""
    modality = (F.when(F.col(id_col) % 3 == 0, "image")
                .when(F.col(id_col) % 3 == 1, "audio")
                .otherwise("video"))
    mime = (F.when(F.col(id_col) % 3 == 0, "image/png")
            .when(F.col(id_col) % 3 == 1, "audio/wav")
            .otherwise("video/mp4"))
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        modality.alias("modality"),
        F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
        .alias("payload"),
        mime.alias("mime"))


FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("modality", StringType()),
    StructField("features", ArrayType(FloatType())),
])


def extract_features(df: DataFrame, dim: int = 64, seed: int = 29
                     ) -> DataFrame:
    """Content features per media item via Arrow-batched mapInPandas:
    a REAL extractor (no codec needed) — the L2-normalized 256-bin byte
    histogram projected to `dim` dims by a fixed seeded random matrix.
    Weak but honest content signal (byte distributions separate media
    types and near-identical payloads project near-identically), and the
    output feeds the similarity stack (`embedding_neardup_pairs`,
    IVF/LSH top-k) unchanged. Swap the histogram for a CNN/audio
    embedding on a cluster image with model weights — the Spark plumbing
    (schema, batching, array<float> output) stays identical.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    proj = rng.standard_normal((256, dim)).astype(np.float64)

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                b = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(b, minlength=256).astype(np.float64)
                n = np.linalg.norm(hist)
                if n > 0:
                    hist /= n
                vec = hist @ proj
                vn = np.linalg.norm(vec)
                if vn > 0:
                    vec /= vn
                out.append(np.round(vec, 6).astype(np.float32).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "modality": pdf["modality"],
                                "features": out})

    return df.mapInPandas(_feat, FEATURES_SCHEMA)


FEATURES_FIXED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("dim_j", IntegerType()),
    StructField("feat", DoubleType()),
])


def extract_features_fixed(df: DataFrame, dim: int = 16) -> DataFrame:
    """SQL-checkable twin of `extract_features`: same mapInPandas
    plumbing (byte histogram × projection → unit-normalized features)
    but with a FIXED integer projection P[b,j] = ((b·(2j+3) + j²) mod 7)
    − 3 that an oracle re-derives from the byte value, so the
    histogram/projection/normalization arithmetic gets a hard value
    check (the production extractor keeps its seeded random matrix and
    its pytest numpy re-derivation).

    Exactness design: S_j = hist·P_j and q² = Σ S_j² are integer-exact
    in float64 (counts × |P| ≤ 3, far below 2⁵³), and the L2
    normalization by the RAW histogram norm cancels in the unit-norm
    output — feat_j = S_j / sqrt(q²) is one correctly-rounded IEEE
    sqrt + one division of identical operands on any engine. Output is
    EXPLODED to (media_id, dim_j, feat) rows, rounded to 6 dp;
    all-zero payloads yield feat = 0.0.
    """
    import numpy as np

    j = np.arange(dim, dtype=np.int64)
    b = np.arange(256, dtype=np.int64)
    proj = ((b[:, None] * (2 * j + 3)[None, :] + (j * j)[None, :]) % 7
            - 3).astype(np.float64)                       # (256, dim)

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, js, feats = [], [], []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist = np.bincount(arr, minlength=256).astype(np.float64)
                s = hist @ proj                           # integer-exact
                q2 = float((s * s).sum())                 # integer-exact
                vec = (np.round(s / np.sqrt(q2), 6) if q2 > 0
                       else np.zeros(dim))
                ids.extend([media_id] * dim)
                js.extend(range(dim))
                feats.extend(vec.tolist())
            yield pd.DataFrame({
                "media_id": pd.array(ids, dtype="int64"),
                "dim_j": pd.array(js, dtype="int32"),
                "feat": pd.array(feats, dtype="float64")})

    return df.mapInPandas(_feat, FEATURES_FIXED_SCHEMA)

