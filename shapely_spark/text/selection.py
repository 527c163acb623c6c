"""Data selection via importance resampling (DSIR) for web-text corpora.

The public method of Xie et al., "Data Selection for Language Models via
Importance Resampling" (NeurIPS 2023): score every raw document by how
much more likely its hashed n-gram bag is under a TARGET-domain bag-of-
buckets unigram model than under the RAW-corpus model, then sample k
documents without replacement by Gumbel-top-k over the importance
log-weights. The entire pipeline is Catalyst-expressible:

- features: word unigrams + bigrams hashed into ``n_buckets`` buckets
  (one JVM hash per n-gram; bigrams built as a zip_with over shifted
  slices — the O(tokens) pattern, never element_at inside a HOF lambda).
- model fit: ONE partial-agg shuffle per side (explode -> groupBy bucket),
  reduced to ``n_buckets`` rows map-side; add-``alpha`` smoothing over the
  full bucket range so unseen buckets stay finite.
- scoring: the (bucket, log-ratio) relation is ``n_buckets`` rows —
  broadcast into the feature join; per-doc sum is one more shuffle.
- resampling: Gumbel keys are derived from a salted per-doc hash (fully
  deterministic, reproducible across runs and engines); top-k plans as
  TakeOrderedAndProject — no global sort shuffle.

At 10^12 documents the only data-sized shuffles are the two bucket-count
aggregates and the per-doc score sum — all partially aggregated map-side;
the model itself never exceeds ``n_buckets`` rows.

``hash_fn="xxhash64"`` is the production path (8-byte JVM hash, no string
materialization beyond the n-gram itself). ``hash_fn="md5"`` computes the
same arithmetic over an md5-derived bucket id that DuckDB reproduces
exactly — the cross-engine verification path used by the oracle gate
(hash choice only shifts WHICH bucket a feature lands in, so the gate
verifies every downstream stage: counts, smoothing, log-ratios, the
per-doc sum, Gumbel keys, and the top-k cut).

Reference anchor: the reference library has no data-selection operator
(it is a geometry engine); this module is part of the training-data
pipeline surface the engine adds on top (SURVEY.md §2.9 adjacency).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TWO52 = float(1 << 52)


def _bucket(col, n_buckets: int, hash_fn: str):
    """Hash a string column into [0, n_buckets) as a long."""
    if hash_fn == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("long")
    if hash_fn == "md5":
        # 15 hex chars = 60 bits, fits a signed long; DuckDB twin:
        # ('0x' || substr(md5(g), 1, 15))::UBIGINT % n_buckets
        h = F.conv(F.substring(F.md5(F.encode(col, "UTF-8")), 1, 15), 16, 10)
        return F.pmod(h.cast("long"), F.lit(n_buckets))
    raise ValueError(f"unknown hash_fn {hash_fn!r}")


def hashed_ngram_features(text_col, n_buckets: int = 8192,
                          hash_fn: str = "xxhash64"):
    """array<long> of hashed unigram+bigram bucket ids WITH multiplicity
    (DSIR scores a bag, not a set). Single-token docs contribute their
    unigram only; the bigram slice is guarded because Spark 4 slice
    throws on negative lengths."""
    w = F.split(text_col, " ")
    m = F.size(w) - 1
    bi = F.zip_with(F.slice(w, 1, m), F.slice(w, 2, m),
                    lambda a, b: F.concat_ws(" ", a, b))
    bi = F.when(F.size(w) >= 2, bi).otherwise(F.array().cast("array<string>"))
    feats = F.concat(w, bi)
    return F.transform(feats, lambda g: _bucket(g, n_buckets, hash_fn))


def _bucket_counts(docs: DataFrame, text_col: str, n_buckets: int,
                   hash_fn: str) -> DataFrame:
    """(b, c) bucket histogram — one explode + one partial-agg shuffle."""
    return (
        docs.select(F.explode(
            hashed_ngram_features(F.col(text_col), n_buckets, hash_fn)
        ).alias("b"))
        .groupBy("b").agg(F.count("*").cast("double").alias("c"))
    )


def dsir_log_ratios(raw: DataFrame, target: DataFrame, *,
                    text_col: str = "text", n_buckets: int = 8192,
                    alpha: float = 1.0,
                    hash_fn: str = "xxhash64") -> DataFrame:
    """(b, lr) for every bucket in [0, n_buckets): the per-feature
    importance log-ratio ln p_target(b) - ln p_raw(b), add-alpha
    smoothed over the full bucket range. n_buckets rows — broadcastable
    by construction."""
    spark = raw.sparkSession
    tc = _bucket_counts(target, text_col, n_buckets, hash_fn)
    rc = _bucket_counts(raw, text_col, n_buckets, hash_fn)
    tt = float(alpha) * n_buckets
    _ALL = Window.partitionBy()  # whole-relation total over n_buckets rows
    buckets = spark.range(n_buckets).select(F.col("id").alias("b"))
    return (
        buckets
        .join(tc.withColumnRenamed("c", "ct"), "b", "left")
        .join(rc.withColumnRenamed("c", "cr"), "b", "left")
        .select(
            "b",
            (F.log((F.coalesce(F.col("ct"), F.lit(0.0)) + F.lit(float(alpha)))
                   / (F.lit(tt) + F.coalesce(F.sum("ct").over(_ALL), F.lit(0.0))))
             - F.log((F.coalesce(F.col("cr"), F.lit(0.0)) + F.lit(float(alpha)))
                     / (F.lit(tt) + F.coalesce(F.sum("cr").over(_ALL), F.lit(0.0))))
             ).alias("lr"),
        )
    )


def dsir_logweights(raw: DataFrame, target: DataFrame, *,
                    text_col: str = "text", id_col: str = "doc_id",
                    n_buckets: int = 8192, alpha: float = 1.0,
                    hash_fn: str = "xxhash64",
                    exact_sum: bool = False) -> DataFrame:
    """Per-document importance log-weight: (id_col, n_feats, logw).

    Docs whose text yields zero features keep logw = 0.0 (empty product).
    ``exact_sum=True`` quantizes each per-feature log-ratio to 9 decimals
    and sums on a DECIMAL(28,9) carrier — order-independent across
    partitionings/engines (the oracle-gate reproducibility contract);
    the default double sum is the production fast path."""
    ratios = dsir_log_ratios(raw, target, text_col=text_col,
                             n_buckets=n_buckets, alpha=alpha,
                             hash_fn=hash_fn)
    # explode_outer keeps zero-feature docs (null/empty text) as one
    # NULL-bucket row, so they survive the aggregate with logw = 0 —
    # WITHOUT a corpus-sized join-back of raw ids onto the scores (a
    # second shuffle of the whole table at 10^12 docs). The ratio join
    # is left so the NULL-bucket rows pass through with lr NULL;
    # count(lr) ignores them.
    feats = raw.select(
        F.col(id_col),
        F.explode_outer(
            hashed_ngram_features(F.col(text_col), n_buckets, hash_fn)
        ).alias("b"),
    )
    if exact_sum:
        lr_sum = F.sum(F.round(F.col("lr"), 9).cast("decimal(28,9)"))
        logw = F.round(lr_sum, 6).cast("double")
    else:
        logw = F.sum("lr")
    return (
        feats.join(F.broadcast(ratios), "b", "left")
        .groupBy(id_col)
        .agg(F.count("lr").cast("long").alias("n_feats"),
             F.coalesce(logw, F.lit(0.0)).alias("logw"))
    )


def gumbel_key_col(id_col, logw_col, salt: str, hash_fn: str = "xxhash64"):
    """logw + Gumbel(0,1) noise, fully deterministic: the uniform is a
    salted 52-bit per-doc hash mapped to (0,1) — reproducible across
    runs, partitionings, and engines (md5 path's DuckDB twin:
    ('0x' || substr(md5(salt || CAST(id AS VARCHAR)), 1, 13))::UBIGINT)."""
    sid = F.concat(F.lit(salt), id_col.cast("string"))
    if hash_fn == "xxhash64":
        h = F.pmod(F.xxhash64(sid), F.lit(1 << 52)).cast("double")
    elif hash_fn == "md5":
        h = F.conv(F.substring(F.md5(F.encode(sid, "UTF-8")), 1, 13), 16, 10
                   ).cast("double")  # 13 hex chars = 52 bits exactly
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    u = (h + F.lit(0.5)) / F.lit(_TWO52)
    return logw_col + (-F.log(-F.log(u)))


def dsir_resample(raw: DataFrame, target: DataFrame, k: int, *,
                  text_col: str = "text", id_col: str = "doc_id",
                  n_buckets: int = 8192, alpha: float = 1.0,
                  seed: int = 0, hash_fn: str = "xxhash64",
                  exact_sum: bool = False) -> DataFrame:
    """Select k documents without replacement ~ importance weights:
    Gumbel-top-k over the log-weights (the standard equivalence —
    argtop-k of logw + Gumbel(0,1) samples w/o replacement proportional
    to exp(logw)). Returns (id_col, n_feats, logw, key), key descending;
    plans as TakeOrderedAndProject, no global sort shuffle."""
    lw = dsir_logweights(raw, target, text_col=text_col, id_col=id_col,
                         n_buckets=n_buckets, alpha=alpha, hash_fn=hash_fn,
                         exact_sum=exact_sum)
    key = gumbel_key_col(F.col(id_col), F.col("logw"),
                         f"dsir{seed}:", hash_fn=hash_fn)
    return (
        lw.withColumn("key", key)
        .orderBy(F.col("key").desc(), F.col(id_col))
        .limit(k)
    )
