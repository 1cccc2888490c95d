"""Multimodal column plumbing: image/audio/video as opaque binary columns.

The Spark-side contract is real and tested — schemas, partition-preserving
``mapInPandas`` plumbing, Arrow batch shapes — while the actual media
decoding is stubbed (PIL/librosa/ffmpeg are not in this container). The
``fake=True`` path produces *deterministic* pseudo-features derived from the
bytes, so downstream operators (dedup, ANN) are testable end-to-end.

Schema convention (typed metadata next to the blob):

    content   BINARY,
    mm_meta   STRUCT<kind: STRING, mime: STRING, n_bytes: BIGINT,
                     sha: STRING>

Batch-size note: media blobs are large; cap Arrow batch sizes via
``spark.sql.execution.arrow.maxRecordsPerBatch`` (set small, e.g. 64, when
rows carry multi-MB blobs) and size file-split bytes so one task's batches
fit executor memory — at 100 TB the decode stage is compute-bound and
embarrassingly parallel, so throughput scales with executors as long as no
operator forces a shuffle of the raw bytes. Feature extraction projects the
blob away before any shuffle.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

META_DDL = "kind string, mime string, n_bytes bigint, sha string"
IMAGE_FEAT_DDL = "width int, height int, channels int, feat array<float>"
AUDIO_FEAT_DDL = "sample_rate int, n_samples bigint, feat array<float>"


def attach_meta(df: DataFrame, content_col: str = "content", kind: str = "image", mime: str = "application/octet-stream") -> DataFrame:
    """Attach the typed metadata struct (JVM-side: sha/length native)."""
    return df.withColumn(
        "mm_meta",
        F.struct(
            F.lit(kind).alias("kind"),
            F.lit(mime).alias("mime"),
            F.length(F.col(content_col)).cast("bigint").alias("n_bytes"),
            F.sha2(F.col(content_col), 256).alias("sha"),
        ),
    )


def _fake_feature(blob: bytes, dim: int) -> np.ndarray:
    """Deterministic unit-norm pseudo-embedding from a blob digest."""
    digest = hashlib.sha256(blob or b"").digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    v = rng.standard_normal(dim).astype(np.float32)
    return v / (np.linalg.norm(v) or 1.0)


def decode_image(
    df: DataFrame,
    content_col: str = "content",
    dim: int = 64,
    fake: bool = True,
) -> DataFrame:
    """Decode + feature-extract images.

    Real path requires PIL (not installed here) and raises; the fake path
    emits deterministic (width, height, channels, feat) so the Spark-side
    plumbing — schema, batching, partitioning — is fully exercised.
    """
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name != content_col
    )
    out_ddl = f"{out_ddl}, {IMAGE_FEAT_DDL}" if out_ddl else IMAGE_FEAT_DDL
    passthrough = [f.name for f in df.schema.fields if f.name != content_col]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image decode requires PIL/opencv — not available in this "
                    "container; run with fake=True for plumbing tests"
                )
            blobs = pdf[content_col]
            out = pdf[passthrough].copy()
            out["width"] = [
                64 + (int.from_bytes(hashlib.sha256(b or b"").digest()[:2], "big") % 960)
                for b in blobs
            ]
            out["height"] = [
                64 + (int.from_bytes(hashlib.sha256(b or b"").digest()[2:4], "big") % 960)
                for b in blobs
            ]
            out["channels"] = 3
            out["feat"] = [_fake_feature(b, dim) for b in blobs]
            yield out

    return df.mapInPandas(run, out_ddl)


def sample_audio_frames(
    df: DataFrame,
    content_col: str = "content",
    dim: int = 32,
    fake: bool = True,
) -> DataFrame:
    """Audio decode / frame-sample stub with the same contract as
    :func:`decode_image` (librosa/ffmpeg absent -> fake deterministic
    features)."""
    passthrough = [f.name for f in df.schema.fields if f.name != content_col]
    prefix = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields if f.name != content_col
    )
    out_ddl = f"{prefix}, {AUDIO_FEAT_DDL}" if prefix else AUDIO_FEAT_DDL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "audio decode requires librosa/ffmpeg — not in this container"
                )
            blobs = pdf[content_col]
            out = pdf[passthrough].copy()
            out["sample_rate"] = 16_000
            out["n_samples"] = [len(b or b"") * 4 for b in blobs]
            out["feat"] = [_fake_feature(b, dim) for b in blobs]
            yield out

    return df.mapInPandas(run, out_ddl)


VIDEO_FEAT_DDL = "n_frames int, fps double, frame_feats array<array<float>>"


def resize_image(
    df: DataFrame,
    content_col: str = "content",
    width: int = 224,
    height: int = 224,
    fake: bool = True,
) -> DataFrame:
    """Resize images to (width, height), emitting a new binary column.

    Real path needs PIL (absent here); the fake path re-encodes a
    deterministic digest-stamped blob of plausible size so byte-level
    plumbing (binary in -> binary out, metadata refresh) is exercised.
    Partition-preserving mapInPandas: blobs never shuffle.
    """
    out_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "image resize requires PIL/opencv — not in this container; "
                    "run with fake=True for plumbing tests"
                )
            out = pdf.copy()
            out[content_col] = [
                hashlib.sha256((b or b"") + f"{width}x{height}".encode()).digest()
                * max(1, (width * height * 3) // (32 * 1024))
                for b in pdf[content_col]
            ]
            yield out

    return df.mapInPandas(run, out_ddl)


def sample_video_frames(
    df: DataFrame,
    content_col: str = "content",
    every_n: int = 30,
    dim: int = 32,
    fake: bool = True,
) -> DataFrame:
    """Video frame sampling: decode every ``every_n``-th frame and emit one
    feature vector per sampled frame (ffmpeg absent -> deterministic fake
    frames; frame count derives from blob size so batch shapes vary like
    real video)."""
    passthrough = [f.name for f in df.schema.fields if f.name != content_col]
    prefix = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != content_col
    )
    out_ddl = f"{prefix}, {VIDEO_FEAT_DDL}" if prefix else VIDEO_FEAT_DDL

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "video decode requires ffmpeg — not in this container"
                )
            blobs = pdf[content_col]
            out = pdf[passthrough].copy()
            totals = [max(1, len(b or b"") // 16) for b in blobs]
            out["n_frames"] = [(t + every_n - 1) // every_n for t in totals]
            out["fps"] = 30.0
            out["frame_feats"] = [
                [
                    _fake_feature((b or b"") + i.to_bytes(4, "big"), dim)
                    for i in range(0, t, every_n)
                ]
                for b, t in zip(blobs, totals)
            ]
            yield out

    return df.mapInPandas(run, out_ddl)


def frame_sample_plan(
    df: DataFrame,
    id_col: str = "id",
    duration_ms_col: str = "duration_ms",
    n_frames: int = 8,
    gop_ms: int = 2000,
) -> DataFrame:
    """Frame-sampling SCHEDULE for video ingestion — the decode-free
    planning half of the multimodal path: given per-asset durations,
    emit the deterministic midpoint-sampling timestamps
    ``ts_ms = duration * (2i+1) div (2n)`` plus each timestamp snapped
    back to its GOP boundary (``gop_ts_ms = ts div gop * gop``) — the
    seek target a real decoder jumps to before rolling forward. All
    integer, so the schedule is hash-exact and can be audited before a
    single byte of video is read; the decode itself stays in
    sample_video_frames (ffmpeg-gated).

    Map-side sequence+explode — no shuffle, no Python; rows = n_frames
    per asset. Assets shorter than one frame interval still get
    ``n_frames`` midpoints (they just repeat timestamps) — the
    downstream dedup on (id, gop_ts) is the documented contract."""
    n = int(n_frames)
    g = int(gop_ms)
    return (
        df.select(
            F.col(id_col),
            F.col(duration_ms_col).cast("long").alias("__dur"),
        )
        .select(
            id_col,
            "__dur",
            F.explode(F.expr(f"sequence(0, {n - 1})")).alias("frame_idx"),
        )
        .select(
            id_col,
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.expr(f"__dur * (2 * frame_idx + 1) div {2 * n}").alias(
                "ts_ms"
            ),
            F.expr(
                f"__dur * (2 * frame_idx + 1) div {2 * n} div {g} * {g}"
            ).alias("gop_ts_ms"),
        )
    )


def binary_near_dup(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    hash_family: str = "xxhash64",
    max_block_size: "int | None" = 5000,
) -> DataFrame:
    """Decode-free near-duplicate candidates over opaque BINARY payloads
    (image/audio/video bytes — the multimodal columns this module
    carries): SimHash over the payload's hex byte-stream shingles, the
    pigeonhole block bucketing, and the exact hamming verify — the text
    near-dup discipline (pipeline.dedup.simhash_candidates) lifted onto
    a binary column. Byte-level similarity is the pragmatic pre-decode
    dedup tier: re-encodes/re-uploads of one asset share long byte runs
    and land within a few signature bits, while true perceptual
    hashing needs the decode stub's features (decode_image) — run this
    FIRST, at 100 TB the decode is the expensive step, and every blob
    this tier removes never gets decoded.

    Plan: ``hex()`` is a map-side projection; everything downstream is
    simhash_candidates' single (block, value)-keyed shuffle with the
    hot-block cap. ``hash_family='md5'`` keeps the chain replayable in
    DuckDB for the oracle.
    """
    from samza_spark.pipeline.dedup import simhash_candidates

    hexed = df.select(
        F.col(id_col), F.hex(F.col(content_col)).alias("__hx")
    )
    return simhash_candidates(
        hexed,
        text_col="__hx",
        id_col=id_col,
        max_hamming=max_hamming,
        bits=bits,
        hash_family=hash_family,
        max_block_size=max_block_size,
    )
