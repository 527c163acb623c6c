"""Distributed logistic-regression quality classifier.

The supervised stand-in for the fasttext-style quality filters every
published web-corpus pipeline carries (GPT-3's WebText-vs-CommonCrawl
classifier, CCNet, RefinedWeb): score each document by a linear model
over cheap quality features and keep the high-probability tail. Training
is full-batch gradient descent run AS SPARK AGGREGATES — each iteration
is one partial-agg shuffle producing a (1 + n_features)-element gradient;
the weight vector lives driver-side (it is tiny), the data never moves.

At 10^12 documents each GD iteration is one scan of the (persisted)
feature frame — the classical distributed full-batch GD layout; swap in
deterministic hash mini-batches (hash_split-style) if scans dominate.

Cross-engine reproducibility (the oracle-gate contract): every per-row
gradient contribution is rounded to 9 decimals and summed on a DECIMAL(28,9) carrier, so the gradient —
and therefore the whole weight trajectory — is independent of partition
count and summation order and bit-identical between Spark and DuckDB
(libm exp() ulp differences are quantized away before the sum; the
driver-side update w - lr*g/n is plain IEEE arithmetic, identical in
both engines' doubles).

No reference counterpart (the reference is a geometry engine); this is
part of the training-data pipeline surface documented in COVERAGE.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUALITY_FEATURES = ["stopword_ratio", "scaled_token_len", "digit_ratio",
                    "upper_ratio", "length_score"]


def quality_classifier_features(docs: DataFrame, text_col: str = "text",
                                ) -> DataFrame:
    """The standard five ~[0,1]-scaled quality features, each quantized
    to 4 decimals (deterministic doubles, reproducible in ANSI SQL):
    stopword ratio, mean token length / 10, digit ratio, uppercase
    ratio, min(n_tokens/64, 1). Null text rows are dropped (no tokens,
    no label support)."""
    from .quality import STOPWORDS

    t = F.col(text_col)
    w = F.split(t, " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    nw = F.size(w).cast("double")
    nc = F.length(t).cast("double")
    return docs.where(t.isNotNull()).withColumns({
        "stopword_ratio": F.round(
            F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))
                   ).cast("double") / nw, 4),
        "scaled_token_len": F.round(nc / nw / 10.0, 4),
        "digit_ratio": F.round(
            F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double")
            / F.greatest(nc, F.lit(1.0)), 4),
        "upper_ratio": F.round(
            F.length(F.regexp_replace(t, "[^A-Z]", "")).cast("double")
            / F.greatest(nc, F.lit(1.0)), 4),
        "length_score": F.round(F.least(nw / 64.0, F.lit(1.0)), 4),
    })


def _z(weights: list[float], feature_cols: list[str]):
    """Left-associated b + w1*x1 + ... — the op order the oracle SQL
    mirrors exactly."""
    z = F.lit(float(weights[0]))
    for wi, c in zip(weights[1:], feature_cols):
        z = z + F.lit(float(wi)) * F.col(c)
    return z


def logreg_fit(feats: DataFrame, label_col: str,
               feature_cols: list[str] | None = None,
               iters: int = 8, lr: float = 1.0) -> list[float]:
    """Full-batch GD for logistic regression; returns
    [intercept, w_1, ..., w_k]. `feats` should be persisted by the
    caller if iters scans are non-trivial. Deterministic: see module
    docstring."""
    if feature_cols is None:
        feature_cols = QUALITY_FEATURES
    n = feats.count()
    if n == 0:
        raise ValueError("empty training frame")
    w = [0.0] * (1 + len(feature_cols))
    dec = "decimal(28,9)"
    for _ in range(iters):
        r = (F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(w, feature_cols)))
             - F.col(label_col).cast("double"))
        rows = feats.select(*feature_cols, r.alias("__r"))
        aggs = [F.sum(F.round(F.col("__r"), 9).cast(dec)).cast("double")
                .alias("g0")]
        aggs += [F.sum(F.round(F.col(c) * F.col("__r"), 9).cast(dec))
                 .cast("double").alias(f"g{i+1}")
                 for i, c in enumerate(feature_cols)]
        g = rows.agg(*aggs).head()
        w = [wi - lr * g[f"g{i}"] / n for i, wi in enumerate(w)]
    return w


def logreg_score(feats: DataFrame, weights: list[float],
                 feature_cols: list[str] | None = None,
                 out_col: str = "prob") -> DataFrame:
    """Adds P(label=1 | x) = sigmoid(w·x) — pure JVM column math, the
    scoring pass a 10^12-doc filter actually ships."""
    if feature_cols is None:
        feature_cols = QUALITY_FEATURES
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(weights, feature_cols)))
    return feats.withColumn(out_col, p)
