"""Recrawl analytics over a multi-snapshot pages table.

A Common-Crawl-style corpus carries MANY fetches of the same url across
crawls (the `warc_ts` axis of the input contract). These operators answer
the questions a crawl scheduler and a training-data curator both ask:

- which fetch is the CURRENT version of each url (`latest_snapshot`);
- did a refetch actually change the content (`version_changes` — the
  revisit classification CDX "revisit" records encode, reference
  ecosystem: WARC 1.1 §6.7.2 revisit records keyed on payload digest);
- how volatile is each host (`host_change_stats` — the signal behind
  per-host recrawl frequency);
- which url strings name the same page (`canonical_url_col`);
- which few urls each host may put on the fetch list (`cap_per_key`).

Scale design (10^12 fetches): every operator shuffles ONCE on url for
the per-url window (content comparison is lag() over the url's fetch
chain — no self-join), then `host_change_stats` reduces url-grain
results with a map-side partial aggregate to host grain (~10^7 rows).
Content equality at scale uses a 64-bit fingerprint column (xxhash64 of
the payload), not the payload itself, so the url shuffle moves
(url, ts, 8-byte digest) — bucketing the table by url makes it
shuffle-free. Collisions: 64-bit digests over ~10^3 versions per url
put the per-url collision probability ≲ 1e-13 (birthday bound) — the
same tradeoff the WARC revisit-by-digest convention makes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .columns import salt_col

__all__ = [
    "latest_snapshot",
    "version_changes",
    "host_change_stats",
    "resolve_redirects",
    "canonical_url_col",
    "cap_per_key",
]


def _fp(content: Column) -> Column:
    """64-bit content digest (xxhash64 — the engine's standard mixer;
    ANSI-safe, JVM-side)."""
    return F.xxhash64(content)


def latest_snapshot(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str | None = None,
) -> DataFrame:
    """One row per url: the fetch with the greatest `ts_col`.

    Tie semantics: pass `content_col` to break equal-(url, ts) fetches by
    the content digest (lowest xxhash64 wins, so the pick is stable under
    retries and AQE re-planning). That is deterministic only up to the
    64-bit digest: equal-(url, ts) rows whose payloads share an xxhash64
    (identical content with different other columns, or a hash
    collision) still tie and are picked arbitrarily. Without it, every
    equal-(url, ts) duplicate is picked ARBITRARILY (whichever row the
    window scans first) — fine when the archive's (url, ts) is unique,
    which CDX capture keys are.

    This is the "current web" view of a crawl archive. One hash shuffle
    on url; the window computes row_number over (url) ordered by ts desc
    and keeps rank 1 — no self-join against a max-ts aggregate (which
    would scan twice and shuffle twice)."""
    order = [F.col(ts_col).desc()]
    if content_col is not None:
        order.append(F.xxhash64(F.col(content_col)).asc())
    w = Window.partitionBy(url_col).orderBy(*order)
    return (pages.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn"))


def version_changes(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str = "text",
) -> DataFrame:
    """Per fetch: `is_first` (first time this url was seen) and
    `changed` (payload digest differs from the url's previous fetch).

    A refetch with an unchanged digest is what CDX/WARC dedupe as a
    "revisit" record; `changed` rows are the fetches worth re-extracting
    downstream. Adds columns, preserves grain. One url shuffle; the
    payload column itself never moves — only its 64-bit digest feeds the
    lag comparison."""
    w = Window.partitionBy(url_col).orderBy(F.col(ts_col).asc())
    fp = _fp(F.col(content_col))
    prev = F.lag(fp).over(w)
    return (pages
            .withColumn("is_first", prev.isNull())
            .withColumn("changed", prev.isNotNull() & (prev != fp)))


def host_change_stats(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str = "text",
) -> DataFrame:
    """Host-grain crawl-volatility summary:

    (host, n_fetches, n_urls, n_refetches, n_changed, change_rate)

    where `n_refetches` counts fetches beyond each url's first,
    `n_changed` counts refetches whose content digest differs from the
    previous fetch, and `change_rate` = n_changed / n_refetches (NULL for
    hosts never refetched — try_divide, ANSI-safe). This is the prior a
    scheduler uses to set per-host revisit frequency.

    Plan: version_changes' url window (one shuffle) → partial-agg count
    rollup to host (second shuffle moves ≤ one row per host partial)."""
    v = version_changes(pages, url_col, ts_col, content_col)
    host = F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
    return (v.select(host.alias("host"), url_col, "is_first", "changed")
            .groupBy("host")
            .agg(F.count("*").alias("n_fetches"),
                 F.count_distinct(F.col(url_col)).alias("n_urls"),
                 F.sum((~F.col("is_first")).cast("long")).alias("n_refetches"),
                 F.sum(F.col("changed").cast("long")).alias("n_changed"))
            .withColumn("change_rate",
                        F.round(F.try_divide("n_changed", "n_refetches"), 6)))


def resolve_redirects(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 32,
) -> DataFrame:
    """Follow each redirect chain to its terminal url:

    (src, final_url, hops)

    for every redirect source with src ≠ dst — `final_url` is the first
    reached url with no outgoing redirect, `hops` the exact chain
    length. Chains that do not terminate within `max_hops` (redirect
    loops, or paths into one) resolve to (NULL, NULL), mirroring how a
    crawler abandons a loop after its hop budget. SELF-redirects
    (src == dst) are DROPPED, not emitted as (NULL, NULL) rows: a page
    redirecting to itself is a degenerate 1-cycle the edge filter
    removes before the first round (tests/test_crawl_search.py
    test_self_loop_dropped pins this) — a source that also has a
    distinct outgoing edge keeps that edge; one that only self-redirects
    is absent from the output.

    Algorithm: pointer doubling on the functional graph (out-degree ≤ 1
    per source; duplicate source rows are dropped deterministically by
    keeping the min target). Round k's mapping sends a → the node
    reached in min(2^k, dist-to-terminal) steps: one self equi-join per
    round with saturation (a row whose pointer has no outgoing edge
    keeps its pointer and step count), so ⌈log2(max_hops)⌉ shuffles
    total, with per-round localCheckpoint lineage truncation. After the
    last round any pointer that still has an outgoing edge is
    unresolved → NULL.

    At 10^10 redirect edges each round is one hash equi-join of the
    mapping with itself; real-world chains are short (≤10), so 5 rounds
    cover max_hops=32 and late rounds join mostly-saturated rows."""
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    one = (edges.select(F.col(src).cast("long").alias("a"),
                        F.col(dst).cast("long").alias("b"))
           .where(F.col("a") != F.col("b"))
           .groupBy("a").agg(F.min("b").alias("b"))
           .withColumn("s", F.lit(1).cast("long"))
           .localCheckpoint(eager=True))
    f = one
    rounds = max(1, int(math.ceil(math.log2(max_hops))))
    # per-round eager materialization is NOT optional here: a round's
    # self-join feeds the next round through two DIFFERENT exchanges
    # (hash(b) on x, hash(a) on y), so without it each branch re-derives
    # the whole previous round — exponential recompute with round count.
    # Measured at 3.2M edges / local[8]: the rounds are join-bound, not
    # barrier-bound (dropping the checkpoints changed wall < 6%).
    for _ in range(rounds):
        x, y = f.alias("x"), f.alias("y")
        f = (x.join(y, F.col("x.b") == F.col("y.a"), "left")
             .select(F.col("x.a").alias("a"),
                     F.coalesce(F.col("y.b"), F.col("x.b")).alias("b"),
                     (F.col("x.s")
                      + F.coalesce(F.col("y.s"), F.lit(0))).alias("s"))
             .localCheckpoint(eager=True))
    # unresolved = pointer still redirects somewhere (loop / over budget)
    open_b = one.select(F.col("a").alias("b"))
    out = (f.join(open_b, "b", "left_anti")
           .select(F.col("a").alias(src), F.col("b").alias("final_url"),
                   F.col("s").alias("hops"))
           .where(F.col("hops") <= max_hops))
    resolved_src = out.select(F.col(src).alias("a"))
    nulls = (one.join(resolved_src, "a", "left_anti")
             .select(F.col("a").alias(src),
                     F.lit(None).cast("long").alias("final_url"),
                     F.lit(None).cast("long").alias("hops")))
    return out.unionByName(nulls)


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


def cap_per_key(
    docs: DataFrame,
    key_col: str = "source",
    cap: int = 3,
    order_cols=None,
    id_col: str = "doc_id",
    salts: int = 32,
) -> DataFrame:
    """Frequency capping: keep at most `cap` rows per key (the standard
    per-domain cap in crawl scheduling and web-corpus curation — a
    handful of best pages per registrable domain so no single site
    dominates), choosing by `order_cols` (default: longest first, id
    tie-break).

    A naive row_number over partitionBy(key) pins a hot domain onto ONE
    reducer; phase 1 ranks within (key, salt) — bounded partitions — and
    keeps the per-salt top `cap`; phase 2 ranks the ≤ salts×cap
    survivors. Exact, not approximate (the global top-cap of any key is a
    subset of its per-salt top-caps). Adds ``keep_rank`` (1-based within
    key).
    """
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
