"""Byte-pair-encoding tokenizer: distributed training over the corpus +
Arrow-batched encoding — the real subword tokenization stage of a
training-data pipeline (token budgets, sequence packing, and mixture
weights are all denominated in BPE tokens, not whitespace tokens).

Semantics are the classic Sennrich et al. 2016 (ACL) word-internal BPE:
words never merge across boundaries, a merge rewrites every leftmost
non-overlapping occurrence of the pair, training picks the most frequent
pair each round (ties: lexicographically smallest pair — deterministic,
engine-reproducible).

Scale shape (10^12 docs):

- The CORPUS-sized work is one explode + partial-agg shuffle:
  ``word_freqs`` reduces the corpus to the (word, freq) vocabulary
  relation. Everything after operates on the VOCABULARY (≤ ~10M types
  on web text — Zipf), never the corpus again.
- ``bpe_train`` (collect tier): pulls the vocabulary driver-side and
  runs exact training in numpy/dict — the documented ≲10M-type tier,
  same contract as the broadcast ANN tier.
- ``bpe_train_distributed``: the vocabulary stays a DataFrame of symbol
  arrays; each round is one zip_with pair-explode + partial-agg shuffle
  to find the top pair (one row to the driver per round, like k-means
  centroids) and a pure-JVM ``aggregate`` fold that rewrites only the
  words containing the pair. ``localCheckpoint`` every few rounds
  truncates the per-round lineage (the pattern of
  spark/crawl.resolve_redirects). Bit-identical merges to the collect
  tier.
- ``bpe_encode``: mapInPandas; the merge ranks broadcast in the closure,
  each distinct word in a batch is encoded once through a per-worker
  cache (web text repeats words heavily), output stays Arrow-batched.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "word_freqs", "bpe_train", "bpe_train_distributed", "bpe_encode",
    "bpe_token_stats", "encode_word",
]


# ---------------------------------------------------------------------------
# per-word encoder (the exact Sennrich apply: merge the lowest-rank pair
# present, all leftmost-non-overlapping occurrences, repeat)
# ---------------------------------------------------------------------------

def _merge_once(sym: tuple, a: str, b: str) -> tuple:
    out = []
    i = 0
    n = len(sym)
    while i < n:
        if i + 1 < n and sym[i] == a and sym[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def encode_word(word: str, ranks: dict) -> tuple:
    """BPE-encode one word under ``ranks`` {(a, b): rank}."""
    sym = tuple(word)
    while len(sym) > 1:
        best = None
        for p in zip(sym, sym[1:]):
            r = ranks.get(p)
            if r is not None and (best is None or r < best[0]):
                best = (r, p)
        if best is None:
            break
        sym = _merge_once(sym, *best[1])
    return sym


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------

def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) — the corpus-sized reduction (one shuffle, partial
    aggs map-side). Everything downstream is vocabulary-sized."""
    return (docs.select(F.explode(F.split(F.col(text_col), " "))
                        .alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count("*").cast("long").alias("freq")))


def bpe_train(freqs: DataFrame, num_merges: int) -> list[tuple[str, str]]:
    """Exact BPE training on a collected vocabulary (the ≲10M-type
    tier). Returns the ordered merge list. Tie-break: count desc, then
    pair lexicographic asc — identical to the distributed tier."""
    vocab = {tuple(r.word): int(r.freq) for r in freqs.collect()}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, f in vocab.items():
            for p in zip(sym, sym[1:]):
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        vocab = {
            (_merge_once(s, a, b) if a in s else s): f
            for s, f in vocab.items()
        }
    return merges


DISTRIBUTED_MERGE_BUDGET = 512


def bpe_train_distributed(
    freqs: DataFrame, num_merges: int, checkpoint_every: int = 8,
    max_merges: int | None = DISTRIBUTED_MERGE_BUDGET,
) -> list[tuple[str, str]]:
    """Same merges as ``bpe_train``, vocabulary never collected: each
    round one pair-count shuffle over the (filtered) vocab relation and
    a JVM fold rewriting only words that contain the winning pair.

    Job-count bound: BPE merges are inherently sequential, so this tier
    runs ONE Spark job (shuffle + limit-1 collect) PER MERGE —
    num_merges=32768 (a production vocab) would be ~2^15 driver-round-
    trip jobs, hours of pure scheduling latency regardless of cluster
    size. That is why `num_merges > max_merges` raises and points to
    `bpe_train`: the (word, freq) vocabulary relation is TINY by Zipf
    (≲10M types even at 100 TB of corpus — the corpus reduces once to it
    upstream), so the collect tier IS the scalable path for real vocab
    sizes; this tier exists for vocabularies whose type count genuinely
    cannot sit on the driver. Pass max_merges=None to override."""
    if max_merges is not None and num_merges > max_merges:
        raise ValueError(
            f"bpe_train_distributed runs one shuffle round per merge; "
            f"num_merges={num_merges} exceeds the sane distributed-round "
            f"budget ({max_merges}). Use bpe_train (the collect tier) — "
            f"the (word, freq) relation is tiny by Zipf and that path "
            f"has no per-merge job — or pass max_merges=None.")
    spark = freqs.sparkSession
    syms = freqs.select(
        F.split(F.col("word"), "").alias("s"),
        F.col("freq"))
    syms = syms.localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    for rnd in range(num_merges):
        pairs = syms.select(
            F.explode(F.zip_with(
                F.slice(F.col("s"), 1, F.size("s") - 1),
                F.slice(F.col("s"), 2, F.size("s") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )).alias("p"), F.col("freq"))
        top = (pairs.groupBy("p.a", "p.b")
               .agg(F.sum("freq").alias("cnt"))
               .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
               .limit(1).collect())
        if not top:
            break
        a, b = top[0].a, top[0].b
        merges.append((a, b))
        ab = a + b
        # rewrite only words containing the pair; pure-JVM left-to-right
        # fold (identical semantics to _merge_once)
        has = F.arrays_overlap(F.col("s"), F.array(F.lit(a)))
        fold = F.aggregate(
            F.slice(F.col("s"), 2, F.size("s") - 1),
            F.slice(F.col("s"), 1, 1),
            lambda acc, x: F.when(
                (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b))
                # guard: an element equal to `a` that is itself the
                # RESULT of a merge at this position must not re-merge;
                # the fold's element_at(-1) already reflects prior
                # merges, which is exactly the left-to-right contract
                , F.concat(F.slice(acc, 1, F.size(acc) - 1),
                           F.array(F.lit(ab)))
            ).otherwise(F.concat(acc, F.array(x))),
        )
        syms = syms.select(
            F.when(has & (F.size("s") > 1), fold)
            .otherwise(F.col("s")).alias("s"),
            F.col("freq"))
        if (rnd + 1) % checkpoint_every == 0:
            syms = syms.localCheckpoint(eager=True)
    return merges


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------

def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, tokens array<string>) — the production tokenizer. Merge
    ranks ride the closure (broadcast once per executor); distinct words
    encode once per worker through an LRU cache."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def gen(batches):
        @lru_cache(maxsize=1 << 20)
        def enc(w: str) -> tuple:
            return encode_word(w, ranks)

        for pdf in batches:
            toks = [
                [t for w in (txt.split(" ") if txt else []) if w
                 for t in enc(w)]
                for txt in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "tokens": toks})

    return docs.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} long, tokens array<string>")


def bpe_token_stats(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_tokens, tokens_md5) — count + order-sensitive checksum
    of the BPE token stream (the gate-friendly projection)."""
    enc = bpe_encode(docs, merges, text_col, id_col)
    return enc.select(
        id_col,
        F.size("tokens").cast("long").alias("n_tokens"),
        F.md5(F.encode(F.array_join("tokens", " "), "UTF-8"))
        .alias("tokens_md5"))
