"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

No image/audio codecs are installed, so the decode step is a
clearly-marked stub (deterministic fake features).  Everything
Spark-side is real and tested: schema, Arrow batch shape,
``mapInPandas`` signatures, partition-size control.

At 100 TB the binary payloads dominate: keep them in their own column
(parquet stores them contiguously), never groupBy/shuffle the payload
column, derive + persist compact feature columns instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "doc_id long, media binary, media_type string, width int, height int, "
    "duration_ms long"
)

FEATURE_SCHEMA = "doc_id long, n_bytes long, checksum string, feature array<float>"


def attach_fake_media(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a deterministic binary media column from text (stand-in
    for real payloads; the Spark plumbing is identical)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "utf-8").alias("media"),
        F.lit("image/fake").alias("media_type"),
        (F.length(F.col(text_col)) % 640).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 480).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake feature vector (rolling byte sums), so the
    pipeline is testable end-to-end without codecs."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] + b) % 1000
    return [float(x) / 1000.0 for x in acc]


def extract_features(media_df: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``.

    Arrow-batched: each pandas batch holds ``spark.sql.execution.arrow.
    maxRecordsPerBatch`` rows — size it so (rows x payload) fits in
    executor memory at the real payload size.
    """
    import hashlib

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["media"].map(lambda b: 0 if b is None else len(b)),
                    "checksum": pdf["media"].map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "feature": pdf["media"].map(_fake_feature),
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(op, schema=FEATURE_SCHEMA)


def frame_sample_plan(media_df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand (doc_id, duration) into one
    row per sampled frame timestamp — pure Catalyst (sequence+explode);
    the actual frame decode is the stubbed codec step."""
    return media_df.filter(F.col("duration_ms").isNotNull()).select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def audio_window_plan(
    media_df: DataFrame, window: int = 1024, hop: int = 512
) -> DataFrame:
    """Audio analysis-window *plan*: expand (doc_id, n_samples) into
    one row per STFT-style frame [start_sample, start_sample+window)
    at the given hop — the audio twin of frame_sample_plan; pure
    Catalyst (sequence+explode), the actual sample decode is the
    stubbed codec step.  Clips shorter than one window yield no
    frames (standard STFT drop-last semantics)."""
    # integer div (not float-divide-then-cast): for a non-power-of-two
    # hop the double quotient can round across an integer boundary and
    # emit one extra frame vs the oracle's exact // floor
    n_frames = F.expr(f"(n_samples - {window}) div {hop}") + 1
    return (
        media_df.filter(F.col("n_samples") >= window)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("frame_idx") * hop).alias("start_sample"),
            (F.col("frame_idx") * hop + window).alias("end_sample"),
        )
    )


# --- perceptual-hash near-duplicate detection ------------------------------

_PHASH_ROWS = 8
_PHASH_COLS = 9  # dHash compares adjacent columns: 8x9 grid -> 64 bits
_PHASH_BANDS = 4  # 4 x 16-bit bands for candidate blocking


def _fake_gray_grid(payload: bytes) -> list:
    """Deterministic stand-in for decode+downscale-to-8x9-grayscale:
    cell (r, c) accumulates the payload bytes at positions congruent
    to its cell index (mod 72).  A real implementation decodes with
    Pillow and resamples; only this function changes in production."""
    cells = _PHASH_ROWS * _PHASH_COLS
    acc = [0] * cells
    if payload:
        for i, b in enumerate(payload):
            acc[i % cells] = (acc[i % cells] + b) % 256
    return acc


def _dhash64(payload: bytes) -> int:
    """64-bit difference hash over the fake grayscale grid: bit
    (r, c) = 1 iff cell (r, c+1) > cell (r, c).  Returned as a SIGNED
    64-bit value so it round-trips through a Spark LongType column."""
    g = _fake_gray_grid(payload)
    bits = 0
    for r in range(_PHASH_ROWS):
        for c in range(_PHASH_COLS - 1):
            bits <<= 1
            if g[r * _PHASH_COLS + c + 1] > g[r * _PHASH_COLS + c]:
                bits |= 1
    if bits >= 1 << 63:
        bits -= 1 << 64
    return bits


def phash_media(media_df: DataFrame) -> DataFrame:
    """Perceptual dHash per payload via ``mapInPandas`` (the decode
    boundary is the only Python step; everything after is Catalyst).
    Output: (doc_id, phash long)."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "phash": pdf["media"].map(
                        lambda b: _dhash64(b if b is not None else b"")
                    ),
                }
            )

    return media_df.select("doc_id", "media").mapInPandas(
        op, schema="doc_id long, phash long"
    )


def phash_candidate_pairs(
    hashed: DataFrame, max_hamming: int = 12
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming blocking — the
    SimHash recipe applied to perceptual hashes: split the 64-bit
    phash into 4 x 16-bit bands and collide on band equality.  By
    pigeonhole the blocking is EXACT for Hamming <= 3 (four bands
    cannot all be touched by three flipped bits); for 4..max_hamming
    recall is probabilistic (a pair is missed only when its flipped
    bits hit all four bands) — the standard SimHash-LSH trade-off.

    Scale: one explode x4 + band equi-join — never an all-pairs
    comparison; the Hamming verification runs only on band-collided
    candidates.  Output: (id_a, id_b, hamming).
    """
    bands = hashed.select(
        "doc_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        (
                            F.shiftrightunsigned(F.col("phash"), 16 * i)
                            .bitwiseAND(F.lit(0xFFFF))
                        ).alias("val"),
                    )
                    for i in range(_PHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "phash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
