"""Trained document-quality classifier (GPT-3 / PaLM-style).

The third member of the selection family (alongside the Stupid-Backoff
perplexity gate in ``lm.py`` and DSIR in ``sampling.py``): train a
logistic-regression classifier to distinguish a high-quality TARGET
corpus (positives) from the RAW crawl (negatives) on hashed n-gram
features, score every raw document, and keep documents
Pareto-stochastically — ``keep if score > 1 - X, X ~ Pareto(alpha)`` —
so high-scoring documents are mostly kept but low-scoring ones still
enter with small probability (Brown et al. 2020, GPT-3 appendix A,
which uses alpha = 9; the same recipe appears in PaLM and LLaMA's
"quality classifier" stages).

Scale design: features are ``sampling.hashed_ngram_features`` (one
explode + groupBy; cross-engine md5 buckets, the same space DSIR
uses). The fit is ``pyspark.ml`` LogisticRegression — distributed
L-BFGS over SparseVectors assembled by a train-time UDF (the one
Python boundary; training passes over the data many times anyway).
SCORING deliberately avoids ``model.transform``: the fitted model is
reduced to a plain ``(bucket, weight)`` DataFrame + intercept, and
P(target|doc) = sigmoid(intercept + sum cnt_b * w_b) is one broadcast
join + groupBy in pure Catalyst. That sidesteps a real Spark 4.1
landmine — ``LogisticRegressionModel.trainingSummary`` pins the
SparkSession (whose ObservationManager is not serializable), so any
plan that captures the model in a closure can fail task serialization
— and keeps the hot path (scoring the full crawl) free of Python and
of ml-object closures entirely. The Pareto draw uses the
deterministic md5 uniform shared with ``sampling.py``: keep decisions
reproduce across runs and cluster sizes. The iterative fit makes this
pytest-pinned rather than SQL-oracle-checked (same boundary as
BPE/IVF).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.webtext.sampling import _u52, hashed_ngram_features


def _assemble_vectors(
    feats: DataFrame, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket, cnt) -> (id, features SparseVector). Train-time only
    (VectorUDT has no pandas_udf path); scoring never builds vectors."""
    from pyspark.ml.linalg import SparseVector, VectorUDT

    rows = feats.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bucket"), F.col("cnt")))
        ).alias("__bc__")
    )

    @F.udf(VectorUDT())
    def to_vec(bc):
        return SparseVector(
            n_buckets,
            [int(r["bucket"]) for r in bc],
            [float(r["cnt"]) for r in bc],
        )

    return rows.select(F.col(id_col), to_vec("__bc__").alias("features"))


class QualityModel:
    """A fitted classifier reduced to broadcastable plain data:
    ``weights`` is a (bucket, weight) DataFrame (non-zero coefficients
    only), ``intercept`` a float. Everything scoring needs — no ml
    object, nothing that can pin a SparkSession in a closure."""

    def __init__(self, weights: DataFrame, intercept: float,
                 n_buckets: int, max_n: int):
        self.weights = weights
        self.intercept = float(intercept)
        self.n_buckets = n_buckets
        self.max_n = max_n


def fit_quality_classifier(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    max_n: int = 2,
    reg_param: float = 0.01,
    max_iter: int = 50,
    balance_classes: bool = True,
) -> QualityModel:
    """Fit the target-vs-raw LR; return a :class:`QualityModel`.

    ``balance_classes`` (default) weights each class inversely to its
    size — the target corpus is typically orders of magnitude smaller
    than the crawl, and an unweighted fit would push every probability
    toward 0, starving the downstream Pareto rule. Raw documents that
    also appear in the target should be excluded by the caller if ids
    overlap (the standard setup samples negatives from the crawl at
    large)."""
    from pyspark.ml.classification import LogisticRegression

    spark = raw.sparkSession
    t = _assemble_vectors(
        hashed_ngram_features(target, text_col, id_col, n_buckets, max_n),
        id_col, n_buckets,
    )
    r = _assemble_vectors(
        hashed_ngram_features(raw, text_col, id_col, n_buckets, max_n),
        id_col, n_buckets,
    )
    train = (
        t.withColumn("label", F.lit(1.0))
        .unionByName(r.withColumn("label", F.lit(0.0)))
        .select("features", "label")
    )
    kwargs = dict(
        maxIter=max_iter, regParam=reg_param, standardization=False
    )
    if balance_classes:
        n_pos, n_neg = target.count(), raw.count()
        tot = float(n_pos + n_neg)
        train = train.withColumn(
            "weight",
            F.when(F.col("label") == 1.0, F.lit(tot / (2.0 * n_pos)))
            .otherwise(F.lit(tot / (2.0 * n_neg))),
        )
        kwargs["weightCol"] = "weight"
    model = LogisticRegression(**kwargs).fit(train)
    coef = model.coefficients.toArray()
    rows = [(int(b), float(w)) for b, w in enumerate(coef) if w != 0.0]
    weights = spark.createDataFrame(rows, "bucket int, weight double")
    return QualityModel(weights, model.intercept, n_buckets, max_n)


def score_quality(
    df: DataFrame,
    model: QualityModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Classifier P(target | doc) per document: ``(id_col,
    quality_prob)``. Pure Catalyst: hashed features -> broadcast join
    with the (bucket, weight) table -> per-doc weighted sum ->
    sigmoid. Documents with no features score the intercept
    probability."""
    feats = hashed_ngram_features(
        df, text_col, id_col, model.n_buckets, model.max_n
    )
    contrib = feats.join(F.broadcast(model.weights), "bucket", "left")
    margins = contrib.groupBy(id_col).agg(
        F.sum(
            F.col("cnt").cast("double")
            * F.coalesce(F.col("weight"), F.lit(0.0))
        ).alias("__m__")
    )
    prob = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("__m__") + F.lit(model.intercept)))
    )
    intercept_p = 1.0 / (1.0 + math.exp(-model.intercept))
    return df.select(id_col).join(
        margins.select(F.col(id_col), prob.alias("quality_prob")),
        id_col, "left",
    ).select(
        F.col(id_col),
        F.coalesce("quality_prob", F.lit(intercept_p)).alias(
            "quality_prob"
        ),
    )


def pareto_filter(
    scored: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_prob",
    alpha: float = 9.0,
    seed: int = 0,
) -> DataFrame:
    """GPT-3's stochastic keep rule: keep a document iff
    ``score > 1 - X`` with ``X ~ Pareto(alpha)`` (Lomax form:
    X = u^(-1/alpha) - 1 for uniform u). High scores are near-certainly
    kept; low scores survive with probability ~ their score's tail mass,
    preserving some distributional diversity instead of a hard cutoff.

    The draw is the deterministic md5 uniform of (seed, id) — re-runs
    and audits reproduce the exact keep set. Returns the scored rows
    that pass, with the draw exposed as ``pareto_draw``."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    u = _u52(F.lit(str(seed)), F.col(id_col).cast("string"))
    # clamp away from 0: u^(-1/alpha) explodes at u=0
    u = F.greatest(u, F.lit(1e-12))
    x = F.pow(u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return (
        scored.withColumn("pareto_draw", x)
        .filter(F.col(score_col) > F.lit(1.0) - F.col("pareto_draw"))
    )


def quality_classifier_filter(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    max_n: int = 2,
    alpha: float = 9.0,
    seed: int = 0,
) -> DataFrame:
    """End-to-end: fit target-vs-raw, score raw, Pareto-keep. Returns
    the input rows that pass plus ``quality_prob`` and ``pareto_draw``."""
    model = fit_quality_classifier(
        target, raw, text_col, id_col, n_buckets, max_n
    )
    scored = score_quality(raw, model, text_col, id_col)
    kept = pareto_filter(scored, id_col, alpha=alpha, seed=seed)
    return raw.join(kept, id_col, "inner")
