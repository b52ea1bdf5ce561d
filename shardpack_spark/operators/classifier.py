"""Hashed linear text classifier: train + apply quality filters at scale.

The standard corpus-curation quality filter (fastText-style: FineWeb-Edu,
DCLM) is a linear model over hashing-trick bag-of-words features.  At
100 TB the APPLY side is the hot path — it must be pure codegen — while
training runs on a labeled seed set (thousands to millions of docs) where
one distributed gradient aggregation per iteration is the right shape:
the model (``dim`` floats) lives on the driver, the data never leaves the
executors, and each full-batch iteration is a single groupBy over bucket
ids.  No per-row Python anywhere.

Feature map: whitespace tokens -> ``pmod(xxhash64(token), dim)`` buckets
(XXH64 at Spark's fixed seed 42 — bit-replicated by the pure-Python
reference ``_xxh64`` in tests/test_classifier.py), per-doc counts
L1-normalized (cnt / n_tokens), plus a bias term.  Deterministic given
``dim``; the same extraction serves train and apply, so there is no
train/serve skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _tokens(text_col: str) -> F.Column:
    from shardpack_spark.operators.text import ws_tokens

    return ws_tokens(F.col(text_col))


def hashed_features(
    df: DataFrame,
    dim: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, bucket, x) sparse rows: L1-normalized hashed token counts.

    Empty documents produce no feature rows; callers re-join the doc spine
    (scores treat them as bias-only).  ``pmod`` keeps buckets in [0, dim).
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    # the L1 denominator is just the doc's token count — computed IN-ROW
    # before the explode and carried alongside, so normalization needs no
    # second aggregation and no join (one shuffle total, on (id, bucket))
    base = df.select(F.col(id_col), _tokens(text_col).alias("__t"))
    toks = base.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("__n"),
        F.explode(
            F.transform("__t", lambda t: F.pmod(F.xxhash64(t), F.lit(dim)))
        ).alias("bucket"),
    )
    return (
        toks.groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.first("__n").alias("__n"))
        .select(
            id_col,
            "bucket",
            (F.col("__cnt").cast("double") / F.col("__n")).alias("x"),
        )
    )


def _weights_df(spark: SparkSession, weights: list[float]) -> DataFrame:
    return spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(weights)], "bucket long, w double"
    )


def hashed_classifier_scores(
    df: DataFrame,
    weights: list[float],
    bias: float = 0.0,
    dim: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained model: (id, margin, score) with score = sigmoid(margin).

    Plan: feature explode -> broadcast join on bucket (the model is tiny:
    ``dim`` rows) -> one partial-aggregated sum per doc.  Shuffle keys are
    doc ids only; linear in total token count, exactly the 100 TB shape.
    Docs with no tokens score at the bias.
    """
    d = dim if dim is not None else len(weights)
    if len(weights) != d:
        raise ValueError(f"got {len(weights)} weights for dim={d}")
    feats = hashed_features(df, dim=d, text_col=text_col, id_col=id_col)
    wdf = F.broadcast(_weights_df(df.sparkSession, weights))
    margins = (
        feats.join(wdf, "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("__dot"))
    )
    return (
        df.select(id_col)
        .join(margins, id_col, "left")
        .select(
            id_col,
            (F.coalesce(F.col("__dot"), F.lit(0.0)) + F.lit(float(bias))).alias(
                "margin"
            ),
        )
        .withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))))
    )


def train_hashed_classifier(
    df: DataFrame,
    label_col: str = "label",
    dim: int = 4096,
    lr: float = 1.0,
    iters: int = 50,
    l2: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[list[float], float]:
    """Full-batch logistic regression on hashed features -> (weights, bias).

    Each iteration is ONE distributed job: margins per doc (broadcast join
    on the current weights) -> residuals (p - y) -> per-bucket gradient
    groupBy -> a dim-sized result to the driver.  Deterministic up to
    floating-point summation order (full batch, no sampling, fixed
    iteration count); labeled seed sets are small relative to the corpus,
    so the per-iteration collect is dim floats, never rows.
    """
    spark = df.sparkSession
    feats = hashed_features(df, dim=dim, text_col=text_col, id_col=id_col).persist()
    labels = df.select(
        F.col(id_col), F.col(label_col).cast("double").alias("__y")
    ).persist()
    n_docs = labels.count()  # also materializes both persists
    if n_docs == 0:
        raise ValueError("empty training set")

    w = [0.0] * dim
    b = 0.0
    for _ in range(iters):
        wdf = F.broadcast(_weights_df(spark, w))
        dots = (
            feats.join(wdf, "bucket")
            .groupBy(id_col)
            .agg(F.sum(F.col("x") * F.col("w")).alias("__dot"))
        )
        resid = (
            labels.join(dots, id_col, "left")
            .select(
                id_col,
                (
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(-(F.coalesce(F.col("__dot"), F.lit(0.0)) + F.lit(b)))
                    )
                    - F.col("__y")
                ).alias("__r"),
            )
        ).persist()  # the bucket-gradient AND bias collects share one eval
        agg = (
            feats.join(resid, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("__r")).alias("__g"))
        )
        grad_rows = {r["bucket"]: r["__g"] for r in agg.collect()}
        g_bias = resid.agg(F.sum("__r")).collect()[0][0] or 0.0
        resid.unpersist()
        scale = lr / n_docs
        w = [
            wi - scale * (grad_rows.get(i, 0.0) + l2 * wi) for i, wi in enumerate(w)
        ]
        b -= scale * g_bias
    feats.unpersist()
    labels.unpersist()
    return w, b
