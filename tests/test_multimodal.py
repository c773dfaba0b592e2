"""Multimodal plumbing: binary columns + Arrow-batched mapInPandas
feature extraction (the codec decode itself is stubbed — not available
in this environment — but every Spark-side seam is real)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from rc_scanner_spark.operators.multimodal import (
    attach_fake_media,
    extract_features,
    frame_sample_plan,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(50)
    return attach_fake_media(docs)


def test_media_schema(media):
    assert dict(media.dtypes) == {
        "doc_id": "bigint",
        "media": "binary",
        "media_type": "string",
        "width": "int",
        "height": "int",
        "duration_ms": "bigint",
    }


def test_extract_features_roundtrip(spark, media):
    feats = extract_features(media).collect()
    assert len(feats) == 50
    src = {r["doc_id"]: bytes(r["media"]) for r in media.collect()}
    for r in feats:
        payload = src[r["doc_id"]]
        assert r["n_bytes"] == len(payload)
        assert r["checksum"] == hashlib.md5(payload).hexdigest()
        assert len(r["feature"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["feature"])


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, None, None), (2, None, 3500)],
        "doc_id long, media binary, duration_ms long",
    )
    rows = frame_sample_plan(df, every_ms=1000).collect()
    got = sorted((r["doc_id"], r["frame_ts_ms"]) for r in rows)
    assert got == [(2, 0), (2, 1000), (2, 2000), (2, 3000)]


def test_phash_identical_payloads_distance_zero(spark):
    from rc_scanner_spark.operators.multimodal import (
        phash_candidate_pairs,
        phash_media,
    )

    payload = bytes(range(200)) * 3
    rows = [(1, payload), (2, payload), (3, bytes(reversed(payload)))]
    media = spark.createDataFrame(rows, "doc_id long, media binary")
    hashed = phash_media(media)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_candidate_pairs(hashed, max_hamming=12).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_phash_single_byte_perturbation_is_near(spark):
    from rc_scanner_spark.operators.multimodal import (
        _dhash64,
        phash_candidate_pairs,
        phash_media,
    )

    base = bytes((i * 7 + 3) % 256 for i in range(500))
    perturbed = bytes([base[0] ^ 0xFF]) + base[1:]
    # One byte changes one grid cell -> at most the handful of dHash
    # bits adjacent to that cell (possibly none, if the compare
    # directions around the cell don't flip).
    ham = bin(_dhash64(base) ^ _dhash64(perturbed)).count("1")
    assert ham <= 4
    media = spark.createDataFrame(
        [(10, base), (11, perturbed)], "doc_id long, media binary"
    )
    got = phash_candidate_pairs(phash_media(media), max_hamming=12).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(10, 11)]


def test_phash_signed_long_roundtrip(spark):
    from rc_scanner_spark.operators.multimodal import _dhash64, phash_media

    # A payload whose top dHash bit is set must survive the LongType
    # column as a negative value, not overflow.
    for seed in range(64):
        payload = bytes((i * seed + 11) % 256 for i in range(300))
        h = _dhash64(payload)
        assert -(1 << 63) <= h < (1 << 63)
        media = spark.createDataFrame(
            [(1, payload)], "doc_id long, media binary"
        )
        assert phash_media(media).collect()[0].phash == h
        if h < 0:
            break
