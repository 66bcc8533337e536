"""Model-based quality filtering: a hashed bag-of-ngrams linear
classifier (the fastText-supervised shape used by DCLM / FineWeb-Edu
style pipelines), trained and applied entirely as Spark jobs.

The reference filters documents by RULE (mimetype/status gates,
filter_grobid_metadata.py's title/author heuristics, the Gopher-style
thresholds in ``operators/text.py``). Modern training-data pipelines
add a second, MODEL-based stage: a cheap linear classifier over hashed
n-gram features scores every document for "quality" / "educational
value", and the corpus is filtered or re-weighted by that score. This
module provides that stage Spark-first:

- **Features** (:func:`hashed_ngram_features`): unigram + bigram
  tokens hashed into ``dim`` buckets with the salted-md5 60-bit hash
  used across this repo (portable to the DuckDB oracle — NOT
  ``xxhash64``, which DuckDB cannot replay). Pure Catalyst: split →
  array filter → explode → hash. Feature value for a doc is
  ``count(bucket)/n_features`` — fastText's mean-of-embeddings
  normalization for a linear model.
- **Inference** (:func:`apply_linear_classifier`): score = sigmoid(
  bias + Σ_b w[b]·x_b). The weight table is ≤``dim`` rows → broadcast
  equi-join onto the exploded feature stream (no shuffle), then ONE
  map-side-combinable per-doc aggregation. Zero Python in the plan.
- **Training** (:func:`train_linear_classifier`): full-batch logistic
  regression by gradient descent. Each epoch is one distributed pass:
  margins per doc (broadcast current weights), residual ``p − y``,
  gradient = Σ residual·x per bucket — a groupBy down to ≤``dim``
  rows, which is the ONLY thing the driver ever collects (the
  Lloyd's-iteration pattern of ``similarity.py::train_ivf_centroids``:
  model on the driver is O(dim), data never leaves the cluster).

Scale notes: features are linear in corpus tokens and shuffle only on
(bucket) [≤dim rows out] and (doc) [per-doc sums]; no window, no
cross join, nothing driver-resident but the O(dim) weight vector.
Determinism: hashing is salted md5 (stable across engines/partitions);
training sums floats distributively, so weights are deterministic to
float-sum reordering (~1e-12 relative) — tests compare with tolerance,
and battery inference uses a synthesized exact-decimal weight table.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _hash60(col):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("hlc"), col)), 1, 15), 16, 10
    ).cast("long")


def hashed_ngram_features(
    df: DataFrame, id_col: str, text_col: str, dim: int = 4096
) -> DataFrame:
    """(id, bucket, x) sparse hashed unigram+bigram features (md5
    salted with ``"hlc"``); x = n-gram count / total n-grams in the
    doc. Tokenization matches the repo's convention (lower → trim →
    split on whitespace, empties dropped); bigrams are space-joined
    adjacent token pairs from the SAME filtered array, so the DuckDB
    oracle can rebuild the identical stream."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.filter(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
            lambda t: t != "",
        ).alias("__toks"),
    )
    uni = toks.select("id", F.explode("__toks").alias("__f"))
    bi = toks.filter(F.size("__toks") >= 2).select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(__toks)-2),"
                " i -> concat(__toks[i], ' ', __toks[i+1]))"
            )
        ).alias("__f"),
    )
    feats = uni.unionByName(bi).withColumn("bucket", _hash60(F.col("__f")) % dim)
    per_bucket = feats.groupBy("id", "bucket").agg(F.count("*").alias("__cnt"))
    # per-doc totals derive from the bucket counts (Σ_b cnt = n, exact
    # integer arithmetic), so the exploded+hashed feature stream is
    # scanned and shuffled ONCE — the old shape ran the full explode +
    # salted-md5 lineage a second time just to count features per doc
    # (guide §2.3 "aggregate before you shuffle"). The window adds one
    # id-keyed exchange over the already-aggregated rows, replacing the
    # old full-stream groupBy(id) + join.
    from pyspark.sql import Window

    w = Window.partitionBy("id")
    return per_bucket.select(
        "id",
        "bucket",
        (F.col("__cnt") / F.sum("__cnt").over(w)).alias("x"),
    )


def apply_linear_classifier(
    feats: DataFrame, weights: DataFrame, bias: float = 0.0
) -> DataFrame:
    """(id, score) for every doc in ``feats`` (output of
    :func:`hashed_ngram_features`): sigmoid(bias + Σ w·x), rounded to
    6dp. ``weights`` is a (bucket, w) table — ≤dim rows, broadcast
    onto the feature stream; unseen buckets contribute 0 (left join +
    coalesce). One partial-aggregable shuffle on id; Python-free plan."""
    margins = (
        feats.join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(
            (
                F.sum(F.coalesce(F.col("w"), F.lit(0.0)) * F.col("x"))
                + F.lit(float(bias))
            ).alias("margin")
        )
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))), 6)
    return margins.select("id", score.alias("score"))


def classify_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    bias: float = 0.0,
    dim: int = 4096,
) -> DataFrame:
    """End-to-end inference: text → hashed features → linear score.
    The quality-filter hot path: at 100 TB this is a scan + explode +
    broadcast join + one per-doc agg, all codegen.

    Emits ONE ROW PER INPUT DOC: a doc that tokenizes to zero tokens
    produces no feature rows, so its margin is exactly ``bias`` and its
    score sigmoid(bias). Implemented by unioning one zero-contribution
    sentinel row (bucket −1, x=0) per input doc into the feature stream
    — it rides the per-doc aggregation shuffle that already exists and
    keeps the plan broadcast-join-only (a join-back onto input ids
    would add a corpus-sized SortMergeJoin). Round-4 fix; previously
    featureless docs had no score row at all, so quality_filter kept
    them with no audit entry."""
    feats = hashed_ngram_features(df, id_col, text_col, dim)
    sentinels = df.select(
        F.col(id_col).alias("id"),
        F.lit(-1).cast("long").alias("bucket"),
        F.lit(0.0).alias("x"),
    )
    return apply_linear_classifier(feats.unionByName(sentinels), weights, bias)


def train_linear_classifier(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    dim: int = 4096,
    epochs: int = 20,
    lr: float = 1.0,
    l2: float = 0.0,
) -> tuple[DataFrame, float, list[float]]:
    """Full-batch logistic regression over hashed n-gram features,
    AdaGrad-stepped (per-coordinate scaling: the bias coordinate sees
    O(1)-magnitude gradients while bucket coordinates see O(x̄/N) —
    one global rate either diverges on the bias or crawls on the
    weights; AdaGrad is the standard deterministic fix).

    Returns (weights DataFrame (bucket, w), bias, per-epoch mean log
    loss). Each epoch runs two distributed aggregations: per-doc margin
    (broadcast of the current O(dim) weight vector) and per-bucket
    gradient (groupBy bucket → ≤dim rows collected). The training SET
    never moves: features+labels are computed once and persisted; the
    driver holds only the model. Deterministic up to float-sum
    reordering; no RNG anywhere (zero init).

    Contract: docs that tokenize to ZERO tokens carry no features and
    are excluded from training entirely (not in n_docs, not in the bias
    gradient) — they constrain nothing but the bias, and at inference
    :func:`classify_documents` scores them sigmoid(bias) anyway."""
    feats = hashed_ngram_features(df, id_col, text_col, dim)
    labels = df.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("y")
    )
    data = feats.join(labels, "id").persist()
    n_docs = data.select("id").distinct().count()
    if n_docs == 0:
        raise ValueError("empty training set")

    w = np.zeros(dim, dtype=np.float64)
    bias = 0.0
    g2 = np.zeros(dim, dtype=np.float64)  # AdaGrad accumulators
    g2_bias = 0.0
    eps = 1e-8
    losses: list[float] = []
    try:
        for _ in range(epochs):
            wdf = spark.createDataFrame(
                [(int(b), float(w[b])) for b in range(dim)], "bucket long, w double"
            )
            margins = (
                data.join(F.broadcast(wdf), "bucket")
                .groupBy("id", "y")
                .agg((F.sum(F.col("w") * F.col("x")) + F.lit(bias)).alias("m"))
                .withColumn("p", F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))))
                .withColumn("r", F.col("p") - F.col("y"))
                .persist()
            )
            stats = margins.agg(
                F.sum(
                    -F.col("y") * F.log(F.greatest(F.col("p"), F.lit(1e-12)))
                    - (1 - F.col("y"))
                    * F.log(F.greatest(1 - F.col("p"), F.lit(1e-12)))
                ).alias("loss"),
                F.sum("r").alias("rsum"),
            ).collect()[0]
            losses.append(float(stats["loss"]) / n_docs)
            grad_rows = (
                data.join(margins.select("id", "r"), "id")
                .groupBy("bucket")
                .agg(F.sum(F.col("r") * F.col("x")).alias("g"))
                .collect()
            )
            margins.unpersist()
            grad = np.zeros(dim, dtype=np.float64)
            for row in grad_rows:
                grad[int(row["bucket"])] = float(row["g"])
            grad = grad / n_docs + l2 * w
            grad_bias = float(stats["rsum"]) / n_docs
            g2 += grad * grad
            g2_bias += grad_bias * grad_bias
            w -= lr * grad / (np.sqrt(g2) + eps)
            bias -= lr * grad_bias / ((g2_bias**0.5) + eps)
    finally:
        data.unpersist()

    weights = spark.createDataFrame(
        [(int(b), float(w[b])) for b in range(dim) if w[b] != 0.0],
        "bucket long, w double",
    )
    return weights, bias, losses
