"""Tests for quality/langid, sequence packing and the rest of the text stack."""

import pytest
from pyspark.sql import functions as F


def test_quality_and_langid(spark):
    from shapely_spark.text.quality import langid_heuristic, quality_columns

    d = spark.createDataFrame(
        [(0, "the cat sat on the mat and the dog ran to the park"),
         (1, "der hund und die katze das ist gut"),
         (2, "x")],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_columns(d).collect()}
    assert q[0].stopword_ratio > 0.3
    assert q[2].n_tokens == 1
    l = {r.doc_id: r.pred_lang for r in langid_heuristic(d).collect()}
    assert l[0] == "en"
    assert l[1] == "de"
    assert l[2] == "en"  # fallback


def test_redact_pii_and_canonical_url(spark):
    """r4 scrub/normalize stage: typed placeholder redaction with audit
    counts, and canonical URL keys (case, default ports, fragments,
    param order, trailing slash)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from shapely_spark.text.quality import canonical_url_col, redact_pii

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "mail bob.smith+x@sub.example.co and 555-123-4567 from 10.1.2.3",
            "no pii here at all",
            "two mails a@b.io c.d@e-f.org one phone +123-456-7890",
        ]}), "doc_id long, text string")
    out = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (out[0].n_email, out[0].n_phone, out[0].n_ip) == (1, 1, 1)
    assert out[0].redacted == "mail <EMAIL> and <PHONE> from <IP>"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (0, 0, 0)
    assert out[1].redacted == "no pii here at all"
    assert (out[2].n_email, out[2].n_phone) == (2, 1)
    assert out[2].redacted == "two mails <EMAIL> <EMAIL> one phone <PHONE>"

    urls = spark.createDataFrame(pd.DataFrame({"u": [
        "HTTP://Example.COM:80/Path/?b=2&a=1#frag",
        "http://example.com/Path?a=1&b=2",
        "https://Example.com:443/",
        "https://example.com",
        "http://example.com:8080/x",      # non-default port kept
        "https://example.com:80/x",       # mismatched default port kept
    ]}), "u string")
    got = [r.c for r in urls.select(canonical_url_col(F.col("u")).alias("c")).collect()]
    assert got[0] == got[1] == "http://example.com/Path?a=1&b=2"
    assert got[2] == got[3] == "https://example.com/"
    assert got[4] == "http://example.com:8080/x"
    assert got[5] == "https://example.com:80/x"


def test_clean_lines_and_gopher_flags(spark):
    """r4 quality stage: C4-style line filter (punctuation / min-words /
    boilerplate markers) and Gopher-style document gates."""
    import pandas as pd
    from shapely_spark.text.quality import clean_lines, gopher_quality_flags

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1],
        "text": [
            "this line has enough words to keep.\nshort.\n"
            "accept our Cookie policy please now.\nno terminal punctuation here",
            "one two three four five six seven!\nJavaScript required to view this page.",
        ]}), "doc_id long, text string")
    out = {r.doc_id: r for r in clean_lines(df).collect()}
    assert (out[0].n_lines, out[0].n_kept) == (4, 1)
    assert out[0].cleaned == "this line has enough words to keep."
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)

    good = " ".join(["the quick brown fox jumps over lazy dogs and cats"] * 6)
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [good,
                 "tiny doc only four words",           # word count gate
                 " ".join(["####"] * 60)],              # symbol + stopword gates
    }), "doc_id long, text string")
    g = {r.doc_id: r for r in gopher_quality_flags(docs).collect()}
    assert g[0].gopher_pass is True
    assert g[1].gopher_pass is False and g[1].ok_word_count is False
    assert g[2].gopher_pass is False and g[2].ok_stopwords is False


def test_repetition_flags_hand_values(spark):
    """Hand-computed Gopher repetition metrics on a 3-doc corpus."""
    import pandas as pd
    from shapely_spark.text.quality import repetition_flags

    clean = "alpha beta\ngamma delta\nepsilon zeta"
    # 4 lines, 2 distinct ("dup dup" repeats); line chars 4*7=28, distinct 14
    dupl = "dup dup\ndup dup\nother x\nother x"
    # one line, dominant 2-gram "ab ab": words = ab x6 -> gram "ab ab" x5
    gram = "ab ab ab ab ab ab"
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2], "text": [clean, dupl, gram]}),
        "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_flags(df).collect()}

    assert out[0].dup_line_frac == 0.0
    assert out[0].dup_line_char_frac == 0.0
    # 6 words -> 5 distinct grams, each once; tie breaks to the lex-greatest
    # gram "gamma delta" (11 chars over the 35-char doc — short docs flag)
    assert abs(out[0].top2gram_char_frac - 11 / 35) < 1e-12

    assert out[1].dup_line_frac == 0.5
    assert out[1].dup_line_char_frac == 0.5
    assert out[1].rep_pass is False

    # "ab ab" occurs 5x (overlapping), len 5, text len 17
    assert abs(out[2].top2gram_char_frac - 5 * 5 / 17) < 1e-12
    assert out[2].rep_pass is False


def test_repetition_flags_degenerate_docs(spark):
    """Empty and one-word docs produce zeros, not nulls or errors."""
    import pandas as pd
    from shapely_spark.text.quality import repetition_flags

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [0, 1, 2], "text": ["", "word", "  \n  \n"]}),
        "doc_id long, text string")
    for r in repetition_flags(df).collect():
        assert r.dup_line_frac == 0.0
        assert r.dup_line_char_frac == 0.0
        assert r.top2gram_char_frac == 0.0
        assert r.rep_pass is True


def test_stratified_sample_matches_naive_window(spark):
    """The skew-safe two-phase sampler selects EXACTLY the rows a naive
    single window would (global per-stratum top-quota by md5 key), for
    every salt count — the salting is a partitioning detail, not a
    semantic one."""
    import pandas as pd
    from pyspark.sql import Window
    from shapely_spark.text.quality import stratified_sample

    n = 400
    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(n),
        "lang": ["en" if i % 10 < 7 else ("de" if i % 2 == 0 else "fr")
                 for i in range(n)],
    }), "doc_id long, lang string")

    key = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    naive = (df.withColumn("rk", F.row_number().over(w))
             .where(F.col("rk") <= 25))
    expect = {(r.lang, r.doc_id, r.rk) for r in naive.collect()}

    for salts in (1, 4, 32):
        got = stratified_sample(df, strata_col="lang", quota=25,
                                order_col="doc_id", salts=salts)
        rows = {(r.lang, r.doc_id, r.sample_rank) for r in got.collect()}
        assert rows == expect, f"salts={salts}"


def test_stratified_sample_small_stratum_kept_whole(spark):
    """A stratum under quota survives in full with contiguous ranks."""
    import pandas as pd
    from shapely_spark.text.quality import stratified_sample

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(30),
        "lang": ["en"] * 27 + ["tiny"] * 3,
    }), "doc_id long, lang string")
    out = stratified_sample(df, strata_col="lang", quota=10, order_col="doc_id")
    tiny = [r for r in out.collect() if r.lang == "tiny"]
    assert sorted(r.sample_rank for r in tiny) == [1, 2, 3]
    assert len([r for r in out.collect() if r.lang == "en"]) == 10


# ---------------------------------------------------------------------------
# sequence packing (r4)
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_reference_cumsum(spark):
    """The two-level prefix sum must equal the plain cumulative sum for
    every bucket width, including sparse non-contiguous ids."""
    import numpy as np

    from shapely_spark.text.packing import pack_sequences

    rng = np.random.RandomState(7)
    ids = sorted(rng.choice(10_000, size=200, replace=False).tolist())
    rows = [(int(i), " ".join("t" for _ in range(int(rng.randint(1, 90)))))
            for i in ids]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_tok = {i: len(t.split(" ")) for i, t in rows}
    # reference: exclusive cumsum in id order
    ref_start, acc = {}, 0
    for i in ids:
        ref_start[i] = acc
        acc += n_tok[i]
    for bucket in (1, 7, 64, 100_000):
        got = {r.doc_id: (r.start_tok, r.first_chunk, r.n_chunks)
               for r in pack_sequences(df, seq_len=128, bucket=bucket).collect()}
        assert set(got) == set(ids)
        for i in ids:
            s = ref_start[i]
            e = s + n_tok[i]
            assert got[i] == (s, s // 128, (e - 1) // 128 - s // 128 + 1), (
                bucket, i)


def test_chunk_occupancy_conserves_doc_chunk_incidence(spark):
    from shapely_spark.text.packing import chunk_occupancy, pack_sequences

    rows = [(i, " ".join("w" for _ in range(37))) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    packed = pack_sequences(df, seq_len=64, bucket=8)
    occ = chunk_occupancy(packed, seq_len=64).collect()
    n_incidence = sum(r.n_docs for r in occ)
    assert n_incidence == sum(r.n_chunks for r in packed.collect())
    # stream has 50*37 tokens -> ceil(1850/64) = 29 chunks, contiguous ids
    assert sorted(r.chunk_id for r in occ) == list(range(29))
    # a 37-token doc in 64-token chunks is whole iff it does not straddle
    assert all(0 <= r.n_whole_docs <= r.n_docs for r in occ)


# ---------------------------------------------------------------------------
# Unigram-LM log-prob scoring (text/quality.py)
# ---------------------------------------------------------------------------


def test_unigram_logprob_matches_hand_computation(spark):
    import math

    from shapely_spark.text.quality import unigram_logprob

    rows = [(0, "a a b"), (1, "b c"), (2, "a zzz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # corpus: a=3 b=2 c=1 zzz=1, total=7
    total = 7.0
    p = {"a": 3, "b": 2, "c": 1, "zzz": 1}
    want = {}
    for i, t in rows:
        ws = t.split(" ")
        want[i] = round(sum(math.log(p[w] / total) for w in ws) / len(ws), 6)
    got = {r.doc_id: r.avg_logp for r in unigram_logprob(docs).collect()}
    assert got == pytest.approx(want)


def test_unigram_logprob_oov_floor_and_external_lm(spark):
    import math

    from shapely_spark.text.quality import unigram_logprob

    lm = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    docs = spark.createDataFrame([(7, "a b x")], "doc_id long, text string")
    # total=4; x is OOV -> ln(0.5/4)
    want = round((math.log(3 / 4.0) + math.log(1 / 4.0)
                  + math.log(0.5 / 4.0)) / 3.0, 6)
    out = unigram_logprob(docs, lm_corpus=lm).collect()
    assert len(out) == 1 and out[0].n_tokens == 3
    assert out[0].avg_logp == pytest.approx(want)
    # min_count drops b (count 1) to the floor as well
    want2 = round((math.log(3 / 4.0) + 2 * math.log(0.5 / 4.0)) / 3.0, 6)
    out2 = unigram_logprob(docs, lm_corpus=lm, min_count=2).collect()
    assert out2[0].avg_logp == pytest.approx(want2)


# ---------------------------------------------------------------------------
# CCNet-style per-language perplexity bucketing (text/quality.ccnet_bucket)
# ---------------------------------------------------------------------------


def _ccnet_corpus(spark, n_per_lang=9):
    # per language: docs 0..n-1 where doc i repeats the common word i+1
    # times and a unique rare word once -> avg_logp strictly increases
    # with i (more common-word mass), so the expected tertiles are
    # known by construction.
    rows = []
    did = 0
    for lang in ("en", "de"):
        common = f"w{lang}"
        for i in range(n_per_lang):
            text = " ".join([common] * (i + 1) + [f"rare{lang}{i}"])
            rows.append((did, text, lang))
            did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_ccnet_bucket_exact_tertiles_per_language(spark):
    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    out = ccnet_bucket(docs, method="ntile").collect()
    assert len(out) == 18
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        counts = {"head": 0, "middle": 0, "tail": 0}
        for r in rs:
            counts[r.bucket] += 1
        assert counts == {"head": 3, "middle": 3, "tail": 3}, (lang, counts)
        # head is the highest-logp third: every head score >= every
        # middle score >= every tail score
        hi = min(r.avg_logp for r in rs if r.bucket == "head")
        mid = [r.avg_logp for r in rs if r.bucket == "middle"]
        lo = max(r.avg_logp for r in rs if r.bucket == "tail")
        assert hi >= max(mid) - 1e-12 and min(mid) >= lo - 1e-12


def test_ccnet_bucket_approx_agrees_with_exact_on_distinct_scores(spark):
    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    exact = {r.doc_id: r.bucket
             for r in ccnet_bucket(docs, method="ntile").collect()}
    approx = {r.doc_id: r.bucket
              for r in ccnet_bucket(docs, method="approx").collect()}
    # scores are all distinct by construction; the only legal
    # disagreement is AT a cutoff (quantile interpolation), i.e. a doc
    # sliding one adjacent bucket — never head<->tail
    for did, b in exact.items():
        a = approx[did]
        assert {a, b} != {"head", "tail"}, (did, a, b)
    agree = sum(1 for d in exact if approx[d] == exact[d])
    assert agree >= len(exact) - 4  # at most one slide per cutoff


def test_ccnet_bucket_partition_invariant_and_bad_method(spark):
    import pytest as _pytest

    from shapely_spark.text.quality import ccnet_bucket

    docs = _ccnet_corpus(spark)
    a = sorted((r.doc_id, r.bucket)
               for r in ccnet_bucket(docs, method="ntile").collect())
    b = sorted((r.doc_id, r.bucket)
               for r in ccnet_bucket(docs.repartition(7),
                                     method="ntile").collect())
    assert a == b
    with _pytest.raises(ValueError):
        ccnet_bucket(docs, method="nope")


def test_bigram_logprob_matches_hand_computation(spark):
    """Stupid Backoff hand oracle: corpus 'a b a b c' (one doc).
    counts: a:2 b:2 c:1, total=5; bigrams: (a,b):2 (b,a):1 (b,c):1.
    Positions: a→uni ln(2/5); b|a→ln(2/2); a|b→ln(1/2); b|a→ln(2/2);
    c|b→ln(1/2)."""
    import math

    from shapely_spark.text.quality import bigram_logprob

    docs = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    r = bigram_logprob(docs).collect()[0]
    want = (math.log(2 / 5) + math.log(2 / 2) + math.log(1 / 2)
            + math.log(2 / 2) + math.log(1 / 2)) / 5
    assert r.n_tokens == 5
    assert abs(r.avg_logp - round(want, 6)) < 1e-9


def test_bigram_logprob_backoff_and_oov(spark):
    """Unseen bigram backs off to alpha * P_uni; OOV token takes
    alpha * floor after the first position."""
    import math

    from shapely_spark.text.quality import bigram_logprob

    lm = spark.createDataFrame([(0, "x y x y")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "y x"), (2, "x z")],
                                 "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in
           bigram_logprob(docs, lm_corpus=lm).collect()}
    # doc 1: y→uni ln(2/4); x|y→seen ln(1/2)
    want1 = (math.log(2 / 4) + math.log(1 / 2)) / 2
    # doc 2: x→uni ln(2/4); z|x unseen bigram, z OOV → ln(.4)+ln(.5/4)
    want2 = (math.log(2 / 4) + (math.log(0.4) + math.log(0.5 / 4))) / 2
    assert abs(got[1] - round(want1, 6)) < 1e-9
    assert abs(got[2] - round(want2, 6)) < 1e-9


def test_ccnet_bucket_bigram_model(spark):
    from shapely_spark.text.quality import ccnet_bucket

    rows = [(i, "en", ("w%d " % (i % 3)) * 4 + "tail w1 w2") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = ccnet_bucket(docs, model="bigram").collect()
    assert len(out) == 9
    assert {r.bucket for r in out} == {"head", "middle", "tail"}
    import pytest

    with pytest.raises(ValueError, match="unknown model"):
        ccnet_bucket(docs, model="4gram")
    # trigram model routes through ngram_logprob
    out3 = ccnet_bucket(docs, model="trigram").collect()
    assert len(out3) == 9


def test_ngram_logprob_trigram_hand_computation(spark):
    """Order-3 Stupid Backoff hand oracle on 'a b a b c' (one doc):
    uni a:2 b:2 c:1 total 5; bi ab:2 ba:1 bc:1; tri aba:1 bab:1 abc:1.
    i0 a: ln(2/5); i1 b|a: ln(2/2); i2 a|ab: ln(1/2); i3 b|ba: ln(1/1);
    i4 c|ab: ln(1/2). No backoffs anywhere."""
    import math

    from shapely_spark.text.quality import bigram_logprob, ngram_logprob

    docs = spark.createDataFrame([(1, "a b a b c")], "doc_id long, text string")
    r = ngram_logprob(docs, order=3).collect()[0]
    want = (math.log(2 / 5) + math.log(2 / 2) + math.log(1 / 2)
            + math.log(1 / 1) + math.log(1 / 2)) / 5
    assert r.n_tokens == 5
    assert abs(r.avg_logp - round(want, 6)) < 1e-9
    # order=2 agrees with the dedicated bigram implementation
    docs2 = spark.createDataFrame(
        [(1, "x y z x y"), (2, "y q")], "doc_id long, text string")
    a = {r.doc_id: r.avg_logp for r in ngram_logprob(docs2, order=2).collect()}
    b = {r.doc_id: r.avg_logp for r in bigram_logprob(docs2).collect()}
    assert a == b
    # order=1 agrees with unigram (plain mean ln P(w))
    from shapely_spark.text.quality import unigram_logprob

    c = {r.doc_id: r.avg_logp for r in ngram_logprob(docs2, order=1).collect()}
    d = {r.doc_id: r.avg_logp for r in unigram_logprob(docs2).collect()}
    assert c == d


def test_ngram_logprob_backoff_chain(spark):
    """Unseen trigram with seen bigram pays one alpha; unseen both pays
    two (when two higher levels were attempted)."""
    import math

    from shapely_spark.text.quality import ngram_logprob

    lm = spark.createDataFrame([(0, "a b c a b d")], "doc_id long, text string")
    docs = spark.createDataFrame([(1, "c a b"), (2, "b b z")],
                                 "doc_id long, text string")
    got = {r.doc_id: r.avg_logp for r in
           ngram_logprob(docs, lm_corpus=lm, order=3).collect()}
    # doc 1: c: ln(1/6); a|c: seen bigram "c a" (cnt 1)/cnt(c)=1 → ln(1);
    #        b|ca: trigram "c a b" seen once / bigram "c a" once → ln(1)
    want1 = (math.log(1 / 6) + math.log(1.0) + math.log(1.0)) / 3
    # doc 2: b: ln(2/6); b|b: bigram "b b" unseen → α·uni(b): ln(.4)+ln(2/6);
    #        z|bb: tri unseen, bigram "b z" unseen → α²·OOV floor
    want2 = (math.log(2 / 6)
             + (math.log(0.4) + math.log(2 / 6))
             + (2 * math.log(0.4) + math.log(0.5 / 6))) / 3
    assert abs(got[1] - round(want1, 6)) < 1e-9
    assert abs(got[2] - round(want2, 6)) < 1e-9


def test_ngram_logprob_short_docs(spark):
    """Documents shorter than order-1 tokens have no trigram keys: the
    key slices must clamp at length 0 (a negative slice length throws
    under ANSI mode) and score only the levels they can attempt.
    Self-LM over 'a' and 'a b': uni a:2 b:1 total 3; bi ab:1."""
    import math

    from shapely_spark.text.quality import ccnet_bucket, ngram_logprob

    docs = spark.createDataFrame([(1, "en", "a"), (2, "en", "a b")],
                                 "doc_id long, lang string, text string")
    got = {r.doc_id: (r.n_tokens, r.avg_logp)
           for r in ngram_logprob(docs, order=3).collect()}
    assert got[1] == (1, round(math.log(2 / 3), 6))
    assert got[2][0] == 2
    assert abs(got[2][1] - round((math.log(2 / 3) + math.log(1 / 2)) / 2, 6)) < 1e-9
    out = ccnet_bucket(docs, model="trigram").collect()
    assert sorted(r.doc_id for r in out) == [1, 2]


def test_ngram_logprob_token_with_separator_byte(spark):
    """Tokens may contain \x1f: the LM bigram ('a\x1fb', 'c') must not
    match the doc bigram ('a', 'b\x1fc'). LM uni a\x1fb:1 c:1 a:1 z:1,
    total 4. Doc 'a b\x1fc': a: ln(1/4); b\x1fc|a: bigram unseen →
    α·OOV floor ln(.4)+ln(0.5/4)."""
    import math

    from shapely_spark.text.quality import ngram_logprob

    lm = spark.createDataFrame([(0, "a\x1fb c"), (1, "a z")], "doc_id long, text string")
    docs = spark.createDataFrame([(2, "a b\x1fc")], "doc_id long, text string")
    for order in (2, 3):
        r = ngram_logprob(docs, lm_corpus=lm, order=order).collect()[0]
        want = (math.log(1 / 4) + math.log(0.4) + math.log(0.5 / 4)) / 2
        assert r.n_tokens == 2
        assert abs(r.avg_logp - round(want, 6)) < 1e-9, order


def test_lm_builders_reject_empty_corpus(spark):
    from shapely_spark.text.quality import (
        bigram_logprob, ngram_logprob, unigram_logprob,
    )

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    for fn in (unigram_logprob, bigram_logprob, ngram_logprob):
        with pytest.raises(ValueError, match="empty LM corpus"):
            fn(docs, lm_corpus=empty)
