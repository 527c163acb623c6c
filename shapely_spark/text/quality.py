"""Text quality scoring, language-ID heuristic, token counting, and
document fingerprinting — the per-document analysis stage of a training-data
pipeline. All JVM-side expressions except nothing; no Python in the path.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]

# tiny per-language marker lists for the n-gram/keyword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "los", "que", "es"],
    "pt": ["o", "que", "de", "um", "para"],
    "ru": ["i", "v", "ne", "na", "eto"],
    "zh": ["de", "shi", "le", "zai", "he"],
    "ja": ["no", "ni", "wa", "wo", "ga"],
}


def tokens_col(text: Column) -> Column:
    return F.split(text, " ")


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


# BPE-ish pre-tokenizer (GPT-2-style splits, lookaround-free): letter
# runs, digit runs, and single non-alphanumeric marks each count as one
# token — the standard fast proxy for subword token budgets
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count_col(text: Column) -> Column:
    """Approximate subword token count via the BPE-ish pre-tokenizer
    regex (true BPE merges only ever SPLIT these runs further, so this
    lower-bounds the real token count at ~word granularity)."""
    return F.regexp_count(text, F.lit(BPE_TOKEN_RE)).cast("long")


def quality_columns(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_tokens, stopword_ratio, avg_token_len, upper_ratio,
    digit_ratio, quality_score (a simple composite in [0,1])."""
    t = F.col(text_col)
    w = tokens_col(t)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(w).cast("double")
    stop_ratio = F.size(F.filter(w, lambda x: F.array_contains(stop_arr, x))).cast("double") / n_tokens
    avg_len = F.length(t).cast("double") / n_tokens
    digit_ratio = (
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double")
        / F.greatest(F.length(t).cast("double"), F.lit(1.0))
    )
    upper_ratio = (
        F.length(F.regexp_replace(t, "[^A-Z]", "")).cast("double")
        / F.greatest(F.length(t).cast("double"), F.lit(1.0))
    )
    # composite: long-enough docs, moderate word length, few digits
    score = (
        F.least(n_tokens / 64.0, F.lit(1.0)) * 0.4
        + F.when((avg_len >= 3.0) & (avg_len <= 10.0), 0.4).otherwise(0.0)
        + F.when(digit_ratio < 0.2, 0.2).otherwise(0.0)
    )
    return (
        docs.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("stopword_ratio", F.round(stop_ratio, 4))
        .withColumn("avg_token_len", F.round(avg_len, 4))
        .withColumn("digit_ratio", F.round(digit_ratio, 4))
        .withColumn("upper_ratio", F.round(upper_ratio, 4))
        .withColumn("quality_score", F.round(score, 4))
    )


def langid_heuristic(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language scoring: predicted lang = argmax over per-lang
    marker hit counts (ties → 'en'). A real pipeline swaps in char-n-gram
    profiles; the operator shape (pure column expressions, no UDF) is what
    scales."""
    w = tokens_col(F.col(text_col))
    def marker_pred(arr):
        return lambda x: F.array_contains(arr, x)

    scores = []
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        scores.append(
            F.struct(
                F.size(F.filter(w, marker_pred(arr))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    return docs.withColumn("pred_lang", F.when(best["hits"] > 0, best["lang"]).otherwise("en")) \
               .withColumn("pred_hits", best["hits"].cast("long"))


def doc_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint (md5) + rolling 8-token prefix fingerprint."""
    return docs.withColumn(
        "fp", F.md5(F.encode(F.col(text_col), "UTF-8"))
    ).withColumn(
        "prefix_fp", F.md5(F.encode(F.concat_ws(" ", F.slice(tokens_col(F.col(text_col)), 1, 8)), "UTF-8"))
    )


# ---------------------------------------------------------------------------
# PII redaction + URL canonicalization (r4) — the scrubbing/normalization
# stage of a web-corpus pipeline; pure JVM regex/string expressions, no
# Python in the path.
# ---------------------------------------------------------------------------

# deliberately lookaround-free so the Java (Spark) and RE2-family (DuckDB
# oracle) regex engines agree exactly
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IPV4_RE = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, dashed phone numbers, and IPv4 addresses to typed
    placeholder tokens; per-row match counts ride along for audit.
    Order matters: emails first (an address can embed digits), then
    phones, then IPs on the already-redacted text."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    t1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_phone = F.regexp_count(t1, F.lit(PII_PHONE_RE))
    t2 = F.regexp_replace(t1, PII_PHONE_RE, "<PHONE>")
    n_ip = F.regexp_count(t2, F.lit(PII_IPV4_RE))
    t3 = F.regexp_replace(t2, PII_IPV4_RE, "<IP>")
    return (docs
            .withColumn("n_email", n_email.cast("long"))
            .withColumn("n_phone", n_phone.cast("long"))
            .withColumn("n_ip", n_ip.cast("long"))
            .withColumn("redacted", t3))


def canonical_url_col(url: Column) -> Column:
    """Canonical form for dedup keys: lowercase scheme+host, default :80/
    :443 port stripped, fragment stripped, query parameters sorted,
    trailing slash on a bare path stripped. Pure string expressions —
    the canonical key feeds a groupBy at any scale."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    # scheme://host[:port] is case-insensitive; path/query are not
    head = F.regexp_extract(no_frag, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(no_frag, F.length(head) + 1, F.lit(1 << 30))
    head = F.lower(head)
    head = F.regexp_replace(head, r"^(http://[^/?#:]*):80$", r"$1")
    head = F.regexp_replace(head, r"^(https://[^/?#:]*):443$", r"$1")
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    # normalize: bare "" path -> "/", strip one trailing slash (not root)
    p = F.regexp_extract(rest, r"^([^?]*)", 1)
    p = F.when(p == "", F.lit("/")).otherwise(p)
    p = F.regexp_replace(p, r"(.)/$", r"$1")
    q = F.when(query == "", query).otherwise(
        F.array_join(F.array_sort(F.split(query, "&")), "&"))
    return F.concat(head, p, F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)))


def clean_lines(docs: DataFrame, text_col: str = "text",
                min_words: int = 5,
                drop_markers: tuple[str, ...] = ("cookie", "javascript",
                                                 "terms of use")) -> DataFrame:
    """C4-style line-level cleaning: split on newlines, keep lines that
    (a) end in terminal punctuation, (b) have ≥ min_words words, and
    (c) contain no boilerplate marker; rejoin the survivors. Adds
    n_lines / n_kept audit counts. One JVM higher-order-function chain —
    no shuffle, no Python."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def keep(line):
        lw = F.lower(line)
        ok_punct = line.rlike("[.!?\"']$")
        ok_words = F.size(F.split(F.trim(line), " +")) >= min_words
        no_marker = ~F.array_contains(
            F.array(*[lw.contains(m) for m in drop_markers]), F.lit(True))
        return ok_punct & ok_words & no_marker

    kept = F.filter(lines, keep)
    return (docs
            .withColumn("n_lines", F.size(lines).cast("long"))
            .withColumn("n_kept", F.size(kept).cast("long"))
            .withColumn("cleaned", F.array_join(kept, "\n")))


def gopher_quality_flags(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality gates as boolean columns plus the
    aggregate pass flag: word count in [50, 100000], mean word length in
    [3, 10], symbol-to-word ratio (# or …) < 0.1, ≥ 2 distinct stopword
    hits, and < 30% of words starting with a non-alphabetic character.
    Pure column math; `gopher_pass` feeds a pushdown-able filter."""
    t = F.col(text_col)
    w = F.split(t, " +")
    n_words = F.size(w).cast("double")
    mean_len = (F.aggregate(w, F.lit(0).cast("double"),
                            lambda acc, x: acc + F.length(x)) / n_words)
    sym_ratio = (F.length(F.regexp_replace(t, "[^#…]", "")).cast("double")
                 / F.greatest(n_words, F.lit(1.0)))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    stop_hits = F.size(F.array_distinct(
        F.filter(w, lambda x: F.array_contains(stop_arr, x))))
    nonalpha_start = (F.size(F.filter(w, lambda x: ~x.rlike("^[A-Za-z]")))
                      .cast("double") / F.greatest(n_words, F.lit(1.0)))
    flags = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100_000),
        "ok_mean_word_len": (mean_len >= 3.0) & (mean_len <= 10.0),
        "ok_symbol_ratio": sym_ratio < 0.1,
        "ok_stopwords": stop_hits >= 2,
        "ok_alpha_start": nonalpha_start < 0.3,
    }
    out = docs
    for name, col in flags.items():
        out = out.withColumn(name, col)
    return out.withColumn(
        "gopher_pass",
        flags["ok_word_count"] & flags["ok_mean_word_len"]
        & flags["ok_symbol_ratio"] & flags["ok_stopwords"]
        & flags["ok_alpha_start"])


def repetition_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_top2gram_char_frac: float = 0.20,
) -> DataFrame:
    """Gopher-style repetition gates (Rae et al. 2021 §A1.3) — the
    *repetition-removal* half that complements gopher_quality_flags:

    - ``dup_line_frac``: fraction of non-blank lines that are repeats of
      an earlier line, (n_lines − n_distinct)/n_lines.
    - ``dup_line_char_frac``: fraction of line characters carried by
      occurrences after the first, (Σlen − Σlen(distinct))/Σlen.
    - ``top2gram_char_frac``: characters covered by the most frequent
      word 2-gram (overlapping occurrences × gram length, gram joined
      with one space, words lowercased and split on whitespace) divided
      by length(text). Ties break toward the lexicographically greatest
      gram — deterministic on both engines.
    - ``rep_pass``: all three under their thresholds.

    Scale shape: line metrics are pure higher-order-function column math
    (no shuffle); the top-2-gram needs a per-(doc, gram) count — one
    explode + groupBy with map-side partial aggregation, a doc-level
    max(struct), and an equi-join back on the id. Nothing collects and
    the widest shuffle key is (doc, gram).
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.size(lines)
    nd_lines = F.size(F.array_distinct(lines))
    zero = F.lit(0).cast("long")
    line_chars = F.aggregate(lines, zero, lambda a, x: a + F.length(x))
    dist_chars = F.aggregate(F.array_distinct(lines), zero,
                             lambda a, x: a + F.length(x))
    dup_line_frac = F.when(
        n_lines > 0, (n_lines - nd_lines).cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    dup_char_frac = F.when(
        line_chars > 0, (line_chars - dist_chars).cast("double") / line_chars
    ).otherwise(F.lit(0.0))

    words = F.filter(F.split(F.lower(t), r"\s+"), lambda x: x != "")
    nw = F.size(words)

    # zip_with over two shifted slices, NOT element_at(words, i) inside a
    # transform lambda: an outer array expression referenced inside a HOF
    # lambda is re-evaluated PER ELEMENT (the whole split+filter again for
    # every gram — O(tokens²) per doc; this exact query was 36 s for 500
    # 2k-token docs, 0.35 s as zip_with). Slices are HOF inputs, evaluated
    # once per row.
    grams = F.when(nw >= 2, F.zip_with(
        F.slice(words, 1, nw - 1), F.slice(words, 2, nw - 1),
        lambda a, b: F.concat_ws(" ", a, b))
    ).otherwise(F.array().cast("array<string>"))

    base = (docs
            .withColumn("dup_line_frac", dup_line_frac)
            .withColumn("dup_line_char_frac", dup_char_frac)
            .withColumn("__chars", F.length(t).cast("double"))
            .withColumn("__grams", grams))
    top = (base.select(id_col, F.explode("__grams").alias("gram"))
           .groupBy(id_col, "gram").agg(F.count("*").alias("c"))
           .groupBy(id_col)
           .agg(F.max(F.struct(F.col("c"), F.col("gram"))).alias("m"))
           .select(id_col, F.col("m.c").alias("__topc"),
                   F.length("m.gram").cast("double").alias("__toplen")))
    out = (base.join(top, on=id_col, how="left")
           .withColumn(
               "top2gram_char_frac",
               F.coalesce(F.col("__topc") * F.col("__toplen")
                          / F.greatest(F.col("__chars"), F.lit(1.0)),
                          F.lit(0.0)))
           .drop("__chars", "__grams", "__topc", "__toplen"))
    return out.withColumn(
        "rep_pass",
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top2gram_char_frac") <= max_top2gram_char_frac))


def stratified_sample(
    docs: DataFrame,
    strata_col: str = "lang",
    quota: int = 50,
    order_col: str = "doc_id",
    salts: int = 32,
) -> DataFrame:
    """Deterministic per-stratum quota sample: the `quota` rows of each
    stratum with the smallest md5(order_col) — a uniform, seedless,
    engine-portable shuffle key (Date.now-free, identical in DuckDB).

    Skew shape: a naive row_number over partitionBy(stratum) pins a
    60%-hot stratum (e.g. `en` at web scale) onto ONE reducer. Phase 1
    ranks within (stratum, salt) — bounded partitions — and keeps the
    per-salt top `quota`; the global per-stratum top `quota` is a subset
    of those ≤ salts×quota survivors, so phase 2's window is bounded
    too. Exact, not approximate. Adds ``sample_rank`` (1-based within
    stratum).
    """
    from ..spark.columns import salt_col
    from pyspark.sql import Window

    key = F.md5(F.col(order_col).cast("string"))
    cand = docs.withColumn("__k", key).withColumn(
        "__s", salt_col(F.col(order_col), salts))
    w1 = Window.partitionBy(strata_col, "__s").orderBy("__k", order_col)
    cand = (cand.withColumn("__r", F.row_number().over(w1))
            .where(F.col("__r") <= quota))
    w2 = Window.partitionBy(strata_col).orderBy("__k", order_col)
    return (cand.withColumn("sample_rank", F.row_number().over(w2))
            .where(F.col("sample_rank") <= quota)
            .drop("__k", "__s", "__r"))


def _lm_total(total_df: DataFrame) -> int:
    """The LM corpus token total from a one-row aggregate. An empty
    corpus (SUM over no rows is NULL) or a zero total has no
    probabilities to offer, so it raises instead of failing later on
    float(None) or log(0)."""
    total = total_df.collect()[0][0]
    if not total:
        raise ValueError("empty LM corpus")
    return total


def unigram_logprob(
    docs: DataFrame,
    lm_corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM — the
    cheap stand-in for the CCNet/LLaMA KenLM perplexity filter (Wenzek
    et al. 2020 §4.3: docs far from the reference LM's distribution are
    gibberish or boilerplate; here P(w) is unigram instead of 5-gram so
    the whole filter stays in Catalyst).

    Returns (id_col, n_tokens, avg_logp) with
    avg_logp = round(mean over tokens of ln(count(w)/total), 6). Tokens
    absent from the LM (or below `min_count`) take the floor probability
    ln(0.5/total) — half a count, the classic OOV backoff.

    `lm_corpus` defaults to `docs` itself (self-scored). Scale shape:
    the LM is one explode + partial-agg shuffle over the LM corpus; the
    vocab relation (word, logp) is broadcast into the scoring join —
    at web scale a `min_count` threshold keeps it broadcastable (~10M
    surviving types is ~200 MB; Zipf puts >99.9% of token MASS there,
    and everything below the cut scores as OOV anyway). One scoring
    shuffle: groupBy doc after the broadcast join.
    """
    lm = lm_corpus if lm_corpus is not None else docs
    toks = F.split(F.col(text_col), " ")
    vocab = (lm.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
             .groupBy("word").agg(F.count("*").cast("long").alias("cnt")))
    if min_count > 1:
        vocab = vocab.where(F.col("cnt") >= min_count)
    total = _lm_total(lm.select(F.sum(F.size(F.split(F.col(text_col), " ")))
                                .cast("long").alias("t")))
    # identical op order to the SQL oracle: ln(cnt / total)
    vocab = vocab.select("word", F.log(F.col("cnt") / F.lit(float(total)))
                         .alias("logp"))
    floor = F.lit(math.log(0.5 / float(total)))
    scored = (docs.select(F.col(id_col), F.explode(toks).alias("word"))
              .join(F.broadcast(vocab), "word", "left")
              .groupBy(id_col)
              .agg(F.count("*").cast("long").alias("n_tokens"),
                   F.round(F.avg(F.coalesce(F.col("logp"), floor)), 6)
                    .alias("avg_logp")))
    return scored


def bigram_logprob(
    docs: DataFrame,
    lm_corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    bigram_min_count: int = 1,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean token log-score under a bigram LM with Stupid
    Backoff (Brants et al. 2007 §4 — the web-scale backoff that needs no
    discount state: score(w|p) = count(p w)/count(p) when the bigram was
    seen, else α·P_unigram(w), α=0.4). This upgrades the engine's
    unigram stand-in one order toward CCNet/LLaMA's KenLM filter (Wenzek
    et al. 2020 §4.3) while keeping the whole filter in Catalyst.

    Returns (id_col, n_tokens, avg_logp):
    avg_logp = round(mean over positions of ln(score), 6), where the
    FIRST token of a document scores plain unigram — no left context
    and no α penalty (α applies only when backing off from an attempted
    higher order; CCNet's <s> context is a corpus-dependent constant
    this stand-in omits, documented) — and unseen/below-cut unigrams
    take the classic half-count OOV floor ln(0.5/total).

    Scale shape: same one-partial-agg-shuffle-per-order discipline as
    unigram_logprob — the LM corpus reduces once to (word, cnt) and once
    to (prev, word, cnt) (adjacent pairs built as a zip_with over
    shifted slices: HOF INPUTS evaluate once per row — never
    element_at(i) in a lambda, the O(tokens²) trap); both relations
    broadcast into the scoring join (`min_count`/`bigram_min_count`
    keep them broadcastable at web scale — Zipf puts >99.9% of token
    mass above any modest cut, and cut types score through the backoff
    anyway). ONE scoring shuffle: groupBy doc after the broadcast joins.
    """
    lm = lm_corpus if lm_corpus is not None else docs
    lm_toks = F.split(F.col(text_col), " ")

    vocab = (lm.select(F.explode(lm_toks).alias("word"))
             .groupBy("word").agg(F.count("*").cast("long").alias("cnt")))
    if min_count > 1:
        vocab = vocab.where(F.col("cnt") >= min_count)
    total = _lm_total(lm.select(F.sum(F.size(lm_toks)).cast("long").alias("t")))
    uni = vocab.select(
        "word", F.col("cnt").alias("w_cnt"),
        F.log(F.col("cnt") / F.lit(float(total))).alias("w_logp"))

    lm_t = lm.select(lm_toks.alias("__toks"))
    pair = F.zip_with(
        F.slice(F.col("__toks"), 1, F.size("__toks") - 1),
        F.slice(F.col("__toks"), 2, F.size("__toks") - 1),
        lambda a, b: F.struct(a.alias("p"), b.alias("w")))
    big = (lm_t.select(F.explode(pair).alias("pw"))
           .groupBy(F.col("pw.p").alias("p"), F.col("pw.w").alias("w"))
           .agg(F.count("*").cast("long").alias("pw_cnt")))
    if bigram_min_count > 1:
        big = big.where(F.col("pw_cnt") >= bigram_min_count)

    d_t = docs.select(F.col(id_col), F.split(F.col(text_col), " ")
                      .alias("__toks"))
    first = F.array(F.struct(
        F.lit(None).cast("string").alias("p"),
        F.element_at(F.col("__toks"), 1).alias("w")))
    pairs_col = F.concat(first, pair)
    ev = (d_t.select(F.col(id_col), F.explode(pairs_col).alias("pw"))
          .select(id_col, F.col("pw.p").alias("__p"),
                  F.col("pw.w").alias("__w")))
    ev = (ev.join(F.broadcast(uni.select(F.col("word").alias("__w"),
                                         "w_logp")), "__w", "left")
          .join(F.broadcast(uni.select(F.col("word").alias("__p"),
                                       F.col("w_cnt").alias("p_cnt"))),
                "__p", "left")
          .join(F.broadcast(big.select(F.col("p").alias("__p"),
                                       F.col("w").alias("__w"),
                                       "pw_cnt")),
                ["__p", "__w"], "left"))
    floor = F.lit(math.log(0.5 / float(total)))
    uni_score = F.coalesce(F.col("w_logp"), floor)
    logp = (
        # no left context (document start): plain unigram, no α penalty —
        # α applies only when BACKING OFF from an attempted higher order
        F.when(F.col("__p").isNull(), uni_score)
        .when(F.col("pw_cnt").isNotNull() & F.col("p_cnt").isNotNull(),
              F.log(F.col("pw_cnt") / F.col("p_cnt")))
        .otherwise(F.log(F.lit(alpha)) + uni_score))
    return (ev.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.avg(logp), 6).alias("avg_logp")))


def ngram_logprob(
    docs: DataFrame,
    lm_corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    min_count: int = 1,
    ngram_min_count: int = 1,
    alpha: float = 0.4,
) -> DataFrame:
    """Per-document mean token log-score under an order-`order` LM with
    a full Stupid Backoff chain (Brants et al. 2007 §4) — the
    arbitrary-order generalization of ``bigram_logprob`` toward the
    CCNet/LLaMA KenLM 5-gram filter (Wenzek et al. 2020 §4.3):

        S(w | ctx_{k-1}) = count(k-gram)/count(ctx (k-1)-gram) at the
        HIGHEST order k whose k-gram was seen, times α per backed-off
        level; a position near the document start attempts only the
        min(order, i+1) available levels (no α without an attempted
        higher order — matches bigram_logprob's first-token rule);
        unigram fallback takes the half-count OOV floor ln(0.5/total).

    Returns (id_col, n_tokens, avg_logp), avg_logp rounded to 6.

    Scale shape: ONE partial-agg shuffle per order over the LM corpus
    (k-gram keys built as zip_with chains over shifted slices — HOF
    inputs evaluate once per row, never element_at(i) in a lambda);
    each (key, cnt) relation broadcasts into the scoring join
    (`min_count` / `ngram_min_count` keep them broadcastable — Zipf);
    ONE scoring shuffle (groupBy doc) after the chained broadcast
    joins. Context counts reuse the (k-1)-gram relation joined on the
    position shifted by one — no extra aggregate.
    """
    if order < 1:
        raise ValueError("order must be >= 1")
    lm = lm_corpus if lm_corpus is not None else docs
    lm_toks = F.split(F.col(text_col), " ")

    def kgram_keys(toks, k):
        """array of k-gram keys (size - k + 1 entries): the tokens for
        k = 1, else array<string> keys from a zip_with chain over k
        shifted slices (an array key, like bigram_logprob's struct key,
        cannot collide the way a separator-joined string can)."""
        if k == 1:
            return toks
        # a document shorter than k tokens has no k-grams; clamp, since a
        # negative slice length throws under ANSI mode
        m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
        acc = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                         lambda a, b: F.array(a, b))
        for j in range(2, k):
            acc = F.zip_with(acc, F.slice(toks, 1 + j, m),
                             lambda a, b: F.concat(a, F.array(b)))
        return acc

    total = _lm_total(lm.select(F.sum(F.size(lm_toks)).cast("long").alias("t")))
    lm_t = lm.select(lm_toks.alias("__toks"))
    rels = {}
    for k in range(1, order + 1):
        rel = (lm_t.select(F.explode(kgram_keys(F.col("__toks"), k))
                           .alias("key"))
               .groupBy("key").agg(F.count("*").cast("long").alias("cnt")))
        cut = min_count if k == 1 else ngram_min_count
        if cut > 1:
            rel = rel.where(F.col("cnt") >= cut)
        rels[k] = rel

    # per-position join row: struct of the k-gram key ENDING here per
    # level (NULL when the position has no k-1 left context) and the
    # PREFIX key (the (k-1)-gram ending one position earlier)
    d_t = docs.select(F.col(id_col),
                      F.split(F.col(text_col), " ").alias("__toks"))
    toks = F.col("__toks")
    keys = {k: kgram_keys(toks, k) for k in range(1, order + 1)}

    def null_key(k):
        return F.lit(None).cast("string" if k == 1 else "array<string>")

    def pad(arr, k):
        """align the k-gram key array to positions: NULL for the first
        k-1 positions, trimmed to the token count (a document shorter
        than k-1 tokens would otherwise gain phantom positions)."""
        if k == 1:
            return arr
        return F.slice(F.concat(F.array_repeat(null_key(k), k - 1), arr),
                       1, F.size(toks))

    fields = [pad(keys[1], 1).alias("k1")]
    for k in range(2, order + 1):
        fields.append(pad(keys[k], k).alias(f"k{k}"))
        # prefix of the k-gram at position i = (k-1)-gram at i-1:
        # shift right one and trim the tail so every level stays
        # position-aligned (arrays_zip NULL-pads ragged inputs)
        prev = pad(keys[k - 1], k - 1)
        fields.append(F.concat(
            F.array(null_key(k - 1)),
            F.slice(prev, 1, F.size(prev) - 1)).alias(f"p{k}"))
    zipped = F.arrays_zip(*fields)
    ev = (d_t.select(F.col(id_col), F.explode(zipped).alias("z"))
          .select(id_col, "z.*"))
    for k in range(1, order + 1):
        ev = ev.join(
            F.broadcast(rels[k].select(F.col("key").alias(f"k{k}"),
                                       F.col("cnt").alias(f"c{k}"))),
            f"k{k}", "left")
        if k >= 2:
            ev = ev.join(
                F.broadcast(rels[k - 1].select(
                    F.col("key").alias(f"p{k}"),
                    F.col("cnt").alias(f"x{k}"))),
                f"p{k}", "left")

    floor = F.lit(math.log(0.5 / float(total)))
    uni_score = F.coalesce(
        F.log(F.col("c1") / F.lit(float(total))), floor)
    la = F.log(F.lit(alpha))
    # levels attempted at this position = min(order, i+1) — encoded by
    # which context keys are non-NULL
    avail = F.lit(1)
    for k in range(2, order + 1):
        avail = F.when(F.col(f"k{k}").isNotNull(), F.lit(k)).otherwise(avail)
    logp = la * (avail - 1) + uni_score
    for k in range(2, order + 1):
        logp = F.when(
            F.col(f"c{k}").isNotNull() & F.col(f"x{k}").isNotNull(),
            la * (avail - k) + F.log(F.col(f"c{k}") / F.col(f"x{k}"))
        ).otherwise(logp)
    return (ev.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_tokens"),
                 F.round(F.avg(logp), 6).alias("avg_logp")))


def cap_per_key(
    docs: DataFrame,
    key_col: str = "source",
    cap: int = 3,
    order_cols=None,
    id_col: str = "doc_id",
    salts: int = 32,
) -> DataFrame:
    """Frequency capping: keep at most `cap` rows per key (the standard
    per-domain cap in web-corpus curation — a handful of best documents
    per registrable domain so no single site dominates the mixture),
    choosing by `order_cols` (default: longest first, id tie-break).

    Same two-phase skew shape as stratified_sample: a naive row_number
    over partitionBy(key) pins a hot domain onto ONE reducer; phase 1
    ranks within (key, salt) — bounded partitions — and keeps the
    per-salt top `cap`; phase 2 ranks the ≤ salts×cap survivors. Exact,
    not approximate (the global top-cap of any key is a subset of its
    per-salt top-caps). Adds ``keep_rank`` (1-based within key).
    """
    from ..spark.columns import salt_col
    from pyspark.sql import Window

    if order_cols is None:
        order_cols = [F.col("n_chars").desc(), F.col(id_col)]
    cand = docs.withColumn("__s", salt_col(F.col(id_col), salts))
    w1 = Window.partitionBy(key_col, "__s").orderBy(*order_cols)
    cand = (cand.withColumn("__r", F.row_number().over(w1))
            .where(F.col("__r") <= cap))
    w2 = Window.partitionBy(key_col).orderBy(*order_cols)
    return (cand.withColumn("keep_rank", F.row_number().over(w2))
            .where(F.col("keep_rank") <= cap)
            .drop("__s", "__r"))


def hash_split(
    docs: DataFrame,
    splits: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Deterministic train/val/test assignment: a salted per-id hash
    bucketed into 10^6 cells, cut at the cumulative split fractions.
    Pure JVM column math, no shuffle, stable under repartitioning and
    re-runs — the property that makes eval contamination auditable
    (an id's split never depends on which executor saw it).

    hash_fn="md5" is the cross-engine twin DuckDB reproduces exactly
    (('0x' || substr(md5(...), 1, 13))::UBIGINT % 1000000); xxhash64 is
    the production default. Adds a ``split`` column.
    """
    if splits is None:
        splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions sum to {total}, expected 1.0")
    m = 1_000_000
    sid = F.concat(F.lit(f"split{seed}:"), F.col(id_col).cast("string"))
    if hash_fn == "xxhash64":
        b = F.pmod(F.xxhash64(sid), F.lit(m))
    elif hash_fn == "md5":
        b = F.pmod(
            F.conv(F.substring(F.md5(F.encode(sid, "UTF-8")), 1, 13), 16, 10)
            .cast("long"), F.lit(m))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    expr = None
    acc = 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = b < int(round(acc * m))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (F.lit(names[-1]) if expr is None else expr.otherwise(names[-1]))
    return docs.withColumn("split", expr)


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 0,
    hash_fn: str = "xxhash64",
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-source mixture sampling with epoch semantics (the published
    Pile / LLaMA sampling-proportions recipe): a source with rate 2.4
    contributes every document twice plus a deterministic 40% chance of
    a third copy; rate 0.3 keeps 30% of documents. The Bernoulli is a
    salted per-id hash uniform — stable under repartitioning/re-runs,
    so the mixture is reproducible and contamination-auditable. Sources
    absent from `rates` get `default_rate` (0 drops them).

    Adds ``copy`` (0-based repetition index) — downstream shuffles see
    distinct (id, copy) keys. Pure JVM column math: one when-chain for
    the rate, one hash, one sequence explode; no shuffle, no UDF.

    hash_fn="md5" is the DuckDB-reproducible twin used by the oracle
    gate; xxhash64 is the production default.
    """
    m = 1_000_000
    rate = None
    for src, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for {src!r}")
        cond = F.col(source_col) == src
        rate = (F.when(cond, float(r)) if rate is None
                else rate.when(cond, float(r)))
    rate = (F.lit(float(default_rate)) if rate is None
            else rate.otherwise(float(default_rate)))
    sid = F.concat(F.lit(f"mix{seed}:"), F.col(id_col).cast("string"))
    if hash_fn == "xxhash64":
        b = F.pmod(F.xxhash64(sid), F.lit(m))
    elif hash_fn == "md5":
        b = F.pmod(
            F.conv(F.substring(F.md5(F.encode(sid, "UTF-8")), 1, 13), 16, 10)
            .cast("long"), F.lit(m))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # copies = floor(rate) + (u < frac(rate)); frac threshold on the SAME
    # integer grid as hash_split so the cut is exact, not float-fuzzy
    base = F.floor(rate).cast("int")
    extra = (b < F.round((rate - F.floor(rate)) * m).cast("long")).cast("int")
    n_copies = base + extra
    return (docs.withColumn("__n", n_copies)
            .where(F.col("__n") > 0)
            .withColumn("copy", F.explode(F.sequence(
                F.lit(0), F.col("__n") - 1)))
            .drop("__n"))


def blocklist_filter(
    docs: DataFrame,
    word_blocklist: list[str] | None = None,
    domain_blocklist: list[str] | None = None,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """C4-style blocklist filtering: flag documents containing any
    blocked word (C4's "bad words" gate) or originating from a blocked
    domain / any of its subdomains (UT1-style domain blocklist; matched
    on exact name or a ``.domain`` suffix). Pure JVM column math — the
    word test is one arrays_overlap against a broadcast literal array,
    the domain test an exists() over suffix matches; at 10^12 docs both
    are map-side only, no shuffle, no UDF.

    Adds ``blocked_word`` / ``blocked_domain`` / ``blocked`` booleans
    (flag-don't-drop, so removal rates are auditable before the actual
    filter — the same flags-first contract as gopher_quality_flags).
    """
    w = F.split(F.lower(F.col(text_col)), " ")
    if word_blocklist:
        barr = F.array(*[F.lit(b.lower()) for b in word_blocklist])
        bw = F.arrays_overlap(w, barr)
    else:
        bw = F.lit(False)
    if domain_blocklist:
        src = F.lower(F.col(source_col))
        darr = F.array(*[F.lit(d.lower()) for d in domain_blocklist])
        bd = F.exists(darr, lambda d: (src == d)
                      | src.endswith(F.concat(F.lit("."), d)))
    else:
        bd = F.lit(False)
    return (docs.withColumn("blocked_word", F.coalesce(bw, F.lit(False)))
            .withColumn("blocked_domain", bd)
            .withColumn("blocked", F.col("blocked_word")
                        | F.col("blocked_domain")))


def ccnet_bucket(
    docs: DataFrame,
    lm_corpus: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    min_count: int = 1,
    method: str = "ntile",
    model: str = "unigram",
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020 §4.4): score every document under the LM, then split EACH
    LANGUAGE into head / middle / tail tertiles — head = the third of
    the language closest to the reference LM (highest mean log-prob =
    lowest perplexity). Downstream mixtures train on head(+middle) and
    drop tail; keeping the split per-language is what stops a
    high-resource language's score scale from deciding another
    language's fate.

    The LM is `unigram_logprob` by default, or `bigram_logprob` (Stupid
    Backoff) with model="bigram" — the engine's Catalyst stand-ins for
    CCNet's KenLM 5-gram (same filter shape, lower order).

    method="ntile" (gate path): exact tertiles via NTILE(3) OVER
    (PARTITION BY lang ORDER BY avg_logp DESC, id) — deterministic
    (id tie-break), integer bucket sizes differing by ≤1, and
    reproducible verbatim by the SQL oracle. Costs one per-language
    sort; at web scale the dominant language pins a reducer.
    method="approx" (100-TB path): per-language 1/3 and 2/3 cutoffs
    from percentile_approx (one partial-agg shuffle, mergeable
    sketches), broadcast back as a tiny (lang, q_lo, q_hi) relation —
    no global sort, no hot partition; bucket boundaries are then
    approximate but every language still splits near-thirds.

    Returns (id_col, lang_col, n_tokens, avg_logp, bucket) with bucket
    in {'head','middle','tail'}.
    """
    if model == "bigram":
        scored = bigram_logprob(docs, lm_corpus, text_col=text_col,
                                id_col=id_col, min_count=min_count)
    elif model == "trigram":
        scored = ngram_logprob(docs, lm_corpus, text_col=text_col,
                               id_col=id_col, order=3, min_count=min_count)
    elif model == "unigram":
        scored = unigram_logprob(docs, lm_corpus, text_col=text_col,
                                 id_col=id_col, min_count=min_count)
    else:
        raise ValueError(f"unknown model {model!r}")
    j = scored.join(docs.select(id_col, lang_col), id_col)
    if method == "ntile":
        from pyspark.sql import Window

        w = Window.partitionBy(lang_col).orderBy(
            F.col("avg_logp").desc(), F.col(id_col))
        nt = F.ntile(3).over(w)
        bucket = (F.when(nt == 1, "head")
                  .when(nt == 2, "middle").otherwise("tail"))
        out = j.withColumn("bucket", bucket)
    elif method == "approx":
        cuts = (j.groupBy(lang_col)
                .agg(F.percentile_approx("avg_logp",
                                         F.array(F.lit(1.0 / 3.0),
                                                 F.lit(2.0 / 3.0)),
                                         10_000).alias("q")))
        cuts = cuts.select(lang_col, F.col("q")[0].alias("__q_lo"),
                           F.col("q")[1].alias("__q_hi"))
        out = (j.join(F.broadcast(cuts), lang_col)
               .withColumn("bucket",
                           F.when(F.col("avg_logp") >= F.col("__q_hi"),
                                  "head")
                           .when(F.col("avg_logp") >= F.col("__q_lo"),
                                 "middle")
                           .otherwise("tail"))
               .drop("__q_lo", "__q_hi"))
    else:
        raise ValueError(f"unknown method {method!r}")
    return out.select(id_col, lang_col, "n_tokens", "avg_logp", "bucket")
