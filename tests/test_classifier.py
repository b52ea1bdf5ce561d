"""Hashed linear classifier: feature extraction, scoring, and full-batch
training all match a NumPy reference that replicates the exact same hashed
feature map (pure-Python XXH64 at Spark's seed 42, defined here and
pinned by known-answer vectors and Spark's own xxhash64)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from shardpack_spark.operators.classifier import (
    hashed_classifier_scores,
    hashed_features,
    train_hashed_classifier,
)

DIM = 64

_XX_P1 = 0x9E3779B185EBCA87
_XX_P2 = 0xC2B2AE3D27D4EB4F
_XX_P3 = 0x165667B19E3779F9
_XX_P4 = 0x85EBCA77C2B2AE63
_XX_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64(data: bytes, seed: int = 0) -> int:
    """XXH64 (the zstd content checksum is its low 32 bits).

    Cross-checked against Spark's XxHash64 expression below, so the two
    implementations vouch for each other.
    """
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XX_P1 + _XX_P2) & _M64
        v2 = (seed + _XX_P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XX_P1) & _M64
        while i <= n - 32:
            v1 = (_rotl64((v1 + int.from_bytes(data[i : i + 8], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v2 = (_rotl64((v2 + int.from_bytes(data[i + 8 : i + 16], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v3 = (_rotl64((v3 + int.from_bytes(data[i + 16 : i + 24], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            v4 = (_rotl64((v4 + int.from_bytes(data[i + 24 : i + 32], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = (((h ^ ((_rotl64((v * _XX_P2) & _M64, 31) * _XX_P1) & _M64)) * _XX_P1) + _XX_P4) & _M64
    else:
        h = (seed + _XX_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl64((int.from_bytes(data[i : i + 8], "little") * _XX_P2) & _M64, 31) * _XX_P1) & _M64
        h = ((_rotl64(h ^ k, 27) * _XX_P1) + _XX_P4) & _M64
        i += 8
    if i + 4 <= n:
        h = ((_rotl64(h ^ ((int.from_bytes(data[i : i + 4], "little") * _XX_P1) & _M64), 23) * _XX_P2) + _XX_P3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XX_P5) & _M64), 11) * _XX_P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XX_P2) & _M64
    h ^= h >> 29
    h = (h * _XX_P3) & _M64
    h ^= h >> 32
    return h


def test_xxh64_vectors():
    assert _xxh64(b"") == 0xEF46DB3751D8E999
    assert _xxh64(b"a") == 0xD24EC4F1A98C6E5B
    assert _xxh64(b"abc") == 0x44BC2CF5AD770999


def test_xxh64_matches_spark_jvm(spark):
    """Cross-implementation check: the pure-Python XXH64 agrees with
    Spark's JVM XxHash64 expression (seed 42) on raw bytes."""
    import random

    from pyspark.sql import functions as F

    payloads = [b"", b"a", b"hello world", random.Random(3).randbytes(999)]
    df = spark.createDataFrame([(bytearray(p),) for p in payloads], "b binary")
    got = [r[0] for r in df.select(F.xxhash64("b")).collect()]
    want = [
        v - (1 << 64) if (v := _xxh64(p, seed=42)) >= (1 << 63) else v
        for p in payloads
    ]
    assert got == want


def _bucket(tok: str) -> int:
    v = _xxh64(tok.encode("utf-8"), seed=42)
    return (v - (1 << 64) if v >= (1 << 63) else v) % DIM


def _feats(text: str) -> np.ndarray:
    x = np.zeros(DIM)
    toks = text.split()
    for t in toks:
        x[_bucket(t)] += 1.0
    return x / len(toks) if toks else x


DOCS = {
    0: ("good clean prose with varied words and structure", 1.0),
    1: ("spam spam spam buy now buy now click click", 0.0),
    2: ("an informative article about distributed systems design", 1.0),
    3: ("click here buy cheap cheap cheap now now", 0.0),
    4: ("thoughtful analysis of storage formats and indexing", 1.0),
    5: ("buy spam click cheap now", 0.0),
}


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        [(d, t, y) for d, (t, y) in DOCS.items()],
        "doc_id long, text string, label double",
    )


def test_features_match_reference(spark, docs_df):
    rows = hashed_features(docs_df, dim=DIM).collect()
    got: dict[int, np.ndarray] = {d: np.zeros(DIM) for d in DOCS}
    for r in rows:
        got[r["doc_id"]][r["bucket"]] = r["x"]
    for d, (t, _) in DOCS.items():
        assert np.allclose(got[d], _feats(t), atol=1e-12), d


def test_scores_match_reference(spark, docs_df):
    rng = np.random.default_rng(3)
    w = rng.normal(size=DIM)
    b = 0.25
    out = {
        r["doc_id"]: (r["margin"], r["score"])
        for r in hashed_classifier_scores(docs_df, list(w), bias=b).collect()
    }
    for d, (t, _) in DOCS.items():
        m = float(_feats(t) @ w + b)
        assert math.isclose(out[d][0], m, rel_tol=1e-9, abs_tol=1e-12)
        assert math.isclose(out[d][1], 1 / (1 + math.exp(-m)), rel_tol=1e-9)


def test_empty_doc_scores_at_bias(spark):
    df = spark.createDataFrame([(0, "   ")], "doc_id long, text string")
    r = hashed_classifier_scores(df, [5.0] * DIM, bias=-1.5).collect()[0]
    assert r["margin"] == -1.5


@pytest.mark.slow  # heavy (>=12 s); conclusive lane only
def test_training_matches_numpy_gd_and_separates(spark, docs_df):
    lr, iters = 2.0, 40
    w, b = train_hashed_classifier(docs_df, dim=DIM, lr=lr, iters=iters)

    X = np.stack([_feats(t) for t, _ in DOCS.values()])
    y = np.array([lab for _, lab in DOCS.values()])
    wr, br = np.zeros(DIM), 0.0
    for _ in range(iters):
        p = 1 / (1 + np.exp(-(X @ wr + br)))
        wr -= lr / len(y) * (X.T @ (p - y))
        br -= lr / len(y) * float(np.sum(p - y))
    assert np.allclose(np.array(w), wr, atol=1e-8)
    assert math.isclose(b, br, abs_tol=1e-8)

    # the trained filter actually separates the seed set
    scores = {
        r["doc_id"]: r["score"]
        for r in hashed_classifier_scores(docs_df, w, bias=b).collect()
    }
    for d, (_, lab) in DOCS.items():
        assert (scores[d] > 0.5) == (lab == 1.0), (d, scores[d])


def test_apply_plan_is_broadcast_join_no_pair_shuffle(spark, docs_df):
    df = hashed_classifier_scores(docs_df, [0.1] * DIM)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the model side broadcasts
    assert "CartesianProduct" not in plan
