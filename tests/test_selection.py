"""DSIR importance resampling (text/selection.py).

The arithmetic reference is numpy over bucket ids taken FROM the engine's
own feature extractor — so the tests pin the model fit, smoothing,
log-ratio, per-doc sum, and Gumbel-top-k stages without reimplementing
xxhash64 in Python.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from shapely_spark.text.selection import (
    dsir_logweights,
    dsir_resample,
    gumbel_key_col,
    hashed_ngram_features,
)

B = 64  # tiny bucket space so smoothing and collisions are exercised


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    # two vocab families; family A (even ids) is the target domain
    rows = []
    for i in range(40):
        fam = ("alpha beta gamma delta", "omega psi chi phi")[i % 2]
        rows.append((i, fam + f" tok{i % 5}"))
    return _docs(spark, rows)


def test_feature_bag_has_multiplicity_and_bigrams(spark):
    d = _docs(spark, [(0, "a b a")])
    feats = d.select(
        hashed_ngram_features(F.col("text"), B).alias("f")).head()["f"]
    # 3 unigrams (a, b, a — duplicates kept) + 2 bigrams ("a b", "b a")
    assert len(feats) == 5
    u = d.select(hashed_ngram_features(F.lit("a"), B).alias("f")).head()["f"]
    assert len(u) == 1  # single-token doc: no bigram slice, no throw


def test_logweights_match_numpy_model(spark, corpus):
    target = corpus.where(F.col("doc_id") % 2 == 0)
    # bucket ids from the engine's own extractor
    feats = corpus.select(
        "doc_id",
        F.explode(hashed_ngram_features(F.col("text"), B)).alias("b"),
    ).toPandas()
    tmask = (feats.doc_id % 2 == 0).to_numpy()
    tc = np.bincount(feats.b[tmask], minlength=B).astype(float)
    rc = np.bincount(feats.b, minlength=B).astype(float)
    lr = (np.log((tc + 1.0) / (B + tc.sum()))
          - np.log((rc + 1.0) / (B + rc.sum())))
    exp = {
        did: g.b.map(lambda b: lr[b]).sum()
        for did, g in feats.groupby("doc_id")
    }
    got = dsir_logweights(corpus, target, n_buckets=B).toPandas()
    assert set(got.doc_id) == set(exp)
    for _, r in got.iterrows():
        assert r.logw == pytest.approx(exp[r.doc_id], abs=1e-9)
        assert r.n_feats == (feats.doc_id == r.doc_id).sum()


def test_target_equals_raw_is_flat_zero(spark, corpus):
    out = dsir_logweights(corpus, corpus, n_buckets=B).toPandas()
    assert (out.logw == 0.0).all()  # identical doubles subtract exactly


def test_in_domain_docs_outweigh_out_of_domain(spark, corpus):
    target = corpus.where(F.col("doc_id") % 2 == 0)
    out = dsir_logweights(corpus, target, n_buckets=B).toPandas()
    a = out[out.doc_id % 2 == 0].logw
    b = out[out.doc_id % 2 == 1].logw
    assert a.min() > b.max()  # family separation is decisive, not marginal


def test_null_text_keeps_zero_row(spark):
    d = _docs(spark, [(0, "alpha beta"), (1, None)])
    out = {r.doc_id: r for r in
           dsir_logweights(d, d.where("doc_id = 0"), n_buckets=B).collect()}
    assert out[1].n_feats == 0 and out[1].logw == 0.0
    assert out[0].n_feats == 3


def test_resample_is_deterministic_topk_without_replacement(spark, corpus):
    target = corpus.where(F.col("doc_id") % 2 == 0)
    s1 = dsir_resample(corpus, target, 10, n_buckets=B, seed=7).toPandas()
    s2 = dsir_resample(corpus, target, 10, n_buckets=B, seed=7).toPandas()
    assert list(s1.doc_id) == list(s2.doc_id)
    assert s1.doc_id.nunique() == 10
    assert (np.diff(s1.key) <= 1e-12).all()  # descending keys
    s3 = dsir_resample(corpus, target, 10, n_buckets=B, seed=8).toPandas()
    assert list(s3.doc_id) != list(s1.doc_id)  # seed moves the Gumbel field


def test_gumbel_key_matches_closed_form(spark):
    d = _docs(spark, [(5, "x")])
    row = d.select(
        F.pmod(F.xxhash64(F.concat(F.lit("s:"), F.col("doc_id").cast("string"))),
               F.lit(1 << 52)).alias("h"),
        gumbel_key_col(F.col("doc_id"), F.lit(0.0), "s:").alias("k"),
    ).head()
    u = (row["h"] + 0.5) / float(1 << 52)
    assert row["k"] == pytest.approx(-math.log(-math.log(u)), abs=1e-12)


def test_md5_path_and_exact_sum_agree_with_fast_path(spark, corpus):
    target = corpus.where(F.col("doc_id") % 2 == 0)
    fast = dsir_logweights(corpus, target, n_buckets=B,
                           hash_fn="md5").toPandas().set_index("doc_id")
    exact = dsir_logweights(corpus, target, n_buckets=B, hash_fn="md5",
                            exact_sum=True).toPandas().set_index("doc_id")
    for did in fast.index:
        assert exact.loc[did].logw == pytest.approx(
            fast.loc[did].logw, abs=1e-5)
        assert exact.loc[did].n_feats == fast.loc[did].n_feats


# ---------------------------------------------------------------------------
# corpus curation: domain frequency capping + deterministic hash split
# ---------------------------------------------------------------------------

from shapely_spark.text.quality import cap_per_key, hash_split  # noqa: E402


@pytest.fixture(scope="module")
def domains(spark):
    rows = []
    for i in range(300):
        dom = "hot.example" if i % 3 == 0 else f"d{i % 7}.example"
        rows.append((i, dom, (i * 37) % 101))  # n_chars with ties
    return spark.createDataFrame(rows, "doc_id long, source string, n_chars long")


def test_cap_per_key_matches_naive_window(spark, domains):
    got = cap_per_key(domains, "source", cap=4).toPandas()
    pdf = domains.toPandas().sort_values(
        ["source", "n_chars", "doc_id"], ascending=[True, False, True])
    pdf["rk"] = pdf.groupby("source").cumcount() + 1
    exp = pdf[pdf.rk <= 4]
    assert sorted(got.doc_id) == sorted(exp.doc_id)
    m = got.set_index("doc_id").keep_rank
    for _, r in exp.iterrows():
        assert m[r.doc_id] == r.rk
    assert got.groupby("source").size().max() <= 4


def test_cap_per_key_salt_count_invariant(spark, domains):
    a = cap_per_key(domains, "source", cap=2, salts=1).toPandas()
    b = cap_per_key(domains, "source", cap=2, salts=64).toPandas()
    assert sorted(a.doc_id) == sorted(b.doc_id)  # exact under any salting


def test_hash_split_deterministic_and_partition_invariant(spark, domains):
    s1 = hash_split(domains).select("doc_id", "split").toPandas()
    s2 = (hash_split(domains.repartition(13))
          .select("doc_id", "split").toPandas())
    m1 = s1.set_index("doc_id").split.to_dict()
    m2 = s2.set_index("doc_id").split.to_dict()
    assert m1 == m2
    frac = s1.split.value_counts(normalize=True)
    assert 0.8 < frac.get("train", 0) < 0.97  # 300 ids, 90% nominal
    assert set(s1.split) <= {"train", "val", "test"}


def test_hash_split_md5_matches_hashlib(spark):
    import hashlib

    d = spark.createDataFrame([(5,), (77,)], "doc_id long")
    got = {r.doc_id: r.split
           for r in hash_split(d, seed=0, hash_fn="md5").collect()}
    for did in (5, 77):
        b = int(hashlib.md5(f"split0:{did}".encode()).hexdigest()[:13],
                16) % 1_000_000
        exp = "train" if b < 900000 else ("val" if b < 950000 else "test")
        assert got[did] == exp


def test_hash_split_rejects_bad_fractions(spark, domains):
    with pytest.raises(ValueError):
        hash_split(domains, splits={"a": 0.5, "b": 0.6})


# ---------------------------------------------------------------------------
# mixture sampling with epoch rates
# ---------------------------------------------------------------------------

from shapely_spark.text.quality import mixture_sample  # noqa: E402


def test_mixture_sample_epoch_semantics_exact(spark):
    import hashlib

    rows = [(i, ("a", "b", "c")[i % 3]) for i in range(90)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"a": 2.4, "b": 0.3, "c": 0.0}
    got = mixture_sample(d, rates, seed=3, hash_fn="md5").toPandas()
    exp_rows = []
    for i, src in rows:
        b = int(hashlib.md5(f"mix3:{i}".encode()).hexdigest()[:13],
                16) % 1_000_000
        r = rates[src]
        n = int(r) + (1 if b < round((r - int(r)) * 1_000_000) else 0)
        exp_rows += [(i, c) for c in range(n)]
    assert sorted(zip(got.doc_id, got["copy"])) == sorted(exp_rows)
    assert not (got.source == "c").any()


def test_mixture_sample_partition_invariant_and_defaults(spark):
    d = spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(200)],
        "doc_id long, source string")
    a = mixture_sample(d, {"x": 1.5}, default_rate=1.0).toPandas()
    b = mixture_sample(d.repartition(17), {"x": 1.5},
                       default_rate=1.0).toPandas()
    assert sorted(zip(a.doc_id, a["copy"])) == sorted(zip(b.doc_id, b["copy"]))
    assert (a[a.source == "y"].groupby("doc_id").size() == 1).all()
    c = mixture_sample(d, {"x": 1.0})  # default_rate=0 drops unknown
    assert c.where("source = 'y'").count() == 0
    with pytest.raises(ValueError):
        mixture_sample(d, {"x": -0.1})


# ---------------------------------------------------------------------------
# deterministic corpus shuffle + streaming twins of the curation stage
# ---------------------------------------------------------------------------

from shapely_spark.text.packing import shuffle_rows  # noqa: E402


def test_shuffle_rows_is_a_deterministic_permutation(spark):
    d = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = shuffle_rows(d, seed=1).toPandas()
    b = shuffle_rows(d.repartition(11), seed=1).toPandas()
    assert list(a.doc_id) == list(b.doc_id)          # partition-invariant
    assert sorted(a.doc_id) == list(range(500))      # a permutation
    assert list(a.doc_id) != list(range(500))        # actually shuffled
    assert (a.shuffle_key.sort_values().values == a.shuffle_key.values).all()
    c = shuffle_rows(d, seed=2).toPandas()
    assert list(c.doc_id) != list(a.doc_id)          # seed moves the order


def test_shuffle_rows_md5_matches_hashlib(spark):
    import hashlib

    d = spark.createDataFrame([(9,), (10,)], "doc_id long")
    got = {r.doc_id: r.shuffle_key
           for r in shuffle_rows(d, seed=3, hash_fn="md5").collect()}
    for did in (9, 10):
        assert got[did] == int(
            hashlib.md5(f"shuf3:{did}".encode()).hexdigest()[:13], 16)


def test_curation_stage_streaming_twin(spark, tmp_path):
    """hash_split + mixture_sample are stateless column ops, so they run
    unchanged inside a streaming plan: readStream → assign → memory sink
    must equal the batch result row-for-row."""
    rows = [(i, ("src0", "src1", "src2")[i % 3]) for i in range(120)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    path = str(tmp_path / "docs")
    d.write.mode("overwrite").parquet(path)

    def stage(df):
        return mixture_sample(hash_split(df, seed=5),
                              {"src0": 2.5, "src1": 0.5},
                              default_rate=1.0, seed=5)

    batch = stage(spark.read.parquet(path)) \
        .select("doc_id", "split", "copy").toPandas()
    stream = stage(spark.readStream.schema("doc_id long, source string")
                   .parquet(path))
    q = (stream.select("doc_id", "split", "copy")
         .writeStream.format("memory").queryName("curation_twin")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = spark.sql("SELECT * FROM curation_twin").toPandas()
    key = lambda p: sorted(map(tuple, p.values.tolist()))  # noqa: E731
    assert key(got) == key(batch)


# ---------------------------------------------------------------------------
# distributed logistic-regression quality classifier
# ---------------------------------------------------------------------------

from shapely_spark.text.classifier import (  # noqa: E402
    logreg_fit,
    logreg_score,
    quality_classifier_features,
)


@pytest.fixture(scope="module")
def separable(spark):
    # y=1 iff x1 large; x2 noise — linearly separable by construction
    rows = [(i, 1.0 if i % 2 else 0.0,
             round(0.8 + 0.01 * (i % 7), 4) if i % 2
             else round(0.1 + 0.01 * (i % 7), 4),
             round((i % 11) / 11.0, 4)) for i in range(80)]
    return spark.createDataFrame(
        rows, "doc_id long, y double, x1 double, x2 double")


def test_logreg_fit_matches_python_reference_exactly(spark, separable):
    w = logreg_fit(separable, "y", ["x1", "x2"], iters=6, lr=1.0)
    pdf = separable.toPandas()
    import math
    ref = [0.0, 0.0, 0.0]
    n = len(pdf)
    for _ in range(6):
        rs, g1s, g2s = [], [], []
        for _, row in pdf.iterrows():
            z = ref[0] + ref[1] * row.x1 + ref[2] * row.x2
            r = 1.0 / (1.0 + math.exp(-z)) - row.y
            rs.append(round(r, 9)); g1s.append(round(row.x1 * r, 9))
            g2s.append(round(row.x2 * r, 9))
        g = [math.fsum(rs), math.fsum(g1s), math.fsum(g2s)]
        ref = [wi - 1.0 * gi / n for wi, gi in zip(ref, g)]
    for a, b in zip(w, ref):
        assert a == pytest.approx(b, abs=1e-12)


def test_logreg_separates_and_is_partition_invariant(spark, separable):
    w = logreg_fit(separable, "y", ["x1", "x2"], iters=40, lr=2.0)
    assert w[1] > 1.0  # x1 is the separating direction
    scored = logreg_score(separable, w, ["x1", "x2"]).toPandas()
    acc = ((scored.prob > 0.5) == (scored.y > 0.5)).mean()
    assert acc >= 0.95
    w2 = logreg_fit(separable.repartition(13), "y", ["x1", "x2"],
                    iters=40, lr=2.0)
    assert w == w2  # decimal-carrier gradients: bit-identical trajectory


def test_quality_features_bounded_and_null_safe(spark):
    d = spark.createDataFrame(
        [(1, "The 99 QUICK foxes jump over the lazy dog today"),
         (2, None)],
        "doc_id long, text string")
    out = quality_classifier_features(d).toPandas()
    assert list(out.doc_id) == [1]  # null text dropped
    r = out.iloc[0]
    for c in ("stopword_ratio", "scaled_token_len", "digit_ratio",
              "upper_ratio", "length_score"):
        assert 0.0 <= r[c] <= 1.0
    assert r.digit_ratio > 0 and r.upper_ratio > 0


# ---------------------------------------------------------------------------
# blocklist filtering
# ---------------------------------------------------------------------------

from shapely_spark.text.quality import blocklist_filter  # noqa: E402


def test_blocklist_word_and_domain_semantics(spark):
    d = spark.createDataFrame(
        [(1, "a perfectly Fine document", "news.example.com"),
         (2, "contains BADWORD here", "ok.org"),
         (3, "clean text", "ads.example.com"),
         (4, "clean text", "sub.ads.example.com"),
         (5, "clean text", "notads.example.com"),
         (6, None, "ok.org")],
        "doc_id long, text string, source string")
    out = {r.doc_id: r for r in blocklist_filter(
        d, word_blocklist=["badword"],
        domain_blocklist=["ads.example.com"]).collect()}
    assert not out[1].blocked
    assert out[2].blocked_word and out[2].blocked
    assert out[3].blocked_domain                  # exact domain
    assert out[4].blocked_domain                  # subdomain suffix
    assert not out[5].blocked                     # no substring false-hit
    assert not out[6].blocked                     # null text is not a hit


def test_blocklist_empty_lists_pass_everything(spark):
    d = spark.createDataFrame([(1, "x", "d")],
                              "doc_id long, text string, source string")
    r = blocklist_filter(d).head()
    assert not r.blocked
