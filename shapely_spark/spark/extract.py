"""Extraction stage: html(binary) → text + (lat, lon) geotag columns.

Per the input contract (BASELINE.json input_hint): pages arrive as
(url, warc_ts, html binary, text string, lang); the engine derives
lat/lon/cell_id. The per-row invariant is **byte-identical extracted text
per url** versus the stored text column — asserted in tests.

All parsing is JVM-side (regexp_extract on the decoded html) — no Python
in this path; it runs inside whole-stage codegen and Catalyst prunes the
html column out of any plan that doesn't call these.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..index.cells import DEFAULT_RES
from .columns import cell_col

_GEO_MARK = '<meta name="geo.position" content="'


def extract_text(html: Column) -> Column:
    """Body text between the first <p> and the last </p>, byte-identical to
    the source payload. Implemented with substring_index/locate (not Java
    regex — ~10× cheaper per row in codegen); equals the greedy
    regexp_extract("(?s)<p>(.*)</p>") on any document with one <p>…</p>
    block."""
    decoded = F.decode(html, "UTF-8")
    inner = F.substring_index(F.substring_index(decoded, "<p>", -1), "</p>", 1)
    has = (F.locate("<p>", decoded) > 0) & (F.locate("</p>", decoded) > 0)
    return F.when(has, inner).otherwise(F.lit(""))


def geotag_content(html: Column) -> Column:
    """The raw 'lat;lon' fragment of the geo.position meta (or a non-numeric
    fragment when the marker is absent — downstream try_cast turns that
    into NULL)."""
    decoded = F.decode(html, "UTF-8")
    return F.substring_index(F.substring_index(decoded, _GEO_MARK, -1), '"', 1)


def with_geo(pages: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """pages + (extracted_text, lat, lon, cell_id). The ingest derivation
    step of every spatial plan.

    The content fragment is materialized as an intermediate column that
    both lat and lon reference: Catalyst's CollapseProject keeps a
    non-cheap alias with >1 reference as its own Project, so the
    decode+search chain runs ONCE per row instead of once per reference.

    The fragment also carries a no-op non-deterministic marker
    (repeat('x', floor(rand)*0)), which stops PushDownPredicate from
    substituting the decode chain into downstream filters on
    lat/lon/cell_id — without it a pushed `cell_id >= 0` filter
    re-derives the chain from html and costs ~1.5× the whole scan
    (measured; codegen CSE collapses the 6 textual copies inside the
    Filter, but the Filter + Project still decode twice). Cost of the
    marker: one rand()+floor per row — noise next to one decode. Tradeoff:
    filters written AFTER with_geo on base columns (lang, fetched_at) no
    longer reach the parquet scan either — apply base-column filters to
    `pages` BEFORE with_geo (they prune at the scan there anyway)."""
    content = F.concat(
        geotag_content(F.col("html")),
        F.repeat(F.lit("x"), (F.floor(F.rand(7)) * 0).cast("int")),
    )
    return (
        pages.withColumn("extracted_text", extract_text(F.col("html")))
        .withColumn("__geo_content", content)
        .withColumn("lat", F.substring_index(F.col("__geo_content"), ";", 1).try_cast("double"))
        .withColumn("lon", F.substring_index(F.col("__geo_content"), ";", -1).try_cast("double"))
        .withColumn("cell_id", cell_col("lat", "lon", res))
        .drop("__geo_content")
    )



_HREF_RE = r'href="([^"]*)"'


def extract_links(html: Column) -> Column:
    """All href targets in the page, in document order —
    array<string>, JVM regexp_extract_all over the decoded html (no
    Python in this path). The raw-outlink primitive the link-graph
    pipeline starts from."""
    return F.regexp_extract_all(F.decode(html, "UTF-8"),
                                F.lit(_HREF_RE), F.lit(1))


def host_of(url: Column) -> Column:
    """The lowercased host of a url (JVM parse_url; NULL for relative /
    malformed links). Host — not full url — is the node grain of the
    Common-Crawl-style web graph."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


_ANCHOR_TAG_RE = r'<a href="[^"]*"[^>]*>[^<]*</a>'
_ANCHOR_PARTS_RE = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'


def extract_anchor_pairs(html: Column) -> Column:
    """All (href, anchor) pairs in document order —
    array<struct<href:string, anchor:string>>, built with two JVM regex
    passes (tag extraction, then per-tag group capture inside a
    transform lambda over the already-materialized tag array — the tag
    strings are attribute reads, so the decode chain runs once per row,
    not per anchor)."""
    tags = F.regexp_extract_all(F.decode(html, "UTF-8"),
                                F.lit(_ANCHOR_TAG_RE), F.lit(0))
    return F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, _ANCHOR_PARTS_RE, 1).alias("href"),
            F.regexp_extract(t, _ANCHOR_PARTS_RE, 2).alias("anchor"),
        ),
    )


def anchor_text_summary(pages: DataFrame,
                        url_col: str = "url",
                        html_col: str = "html") -> DataFrame:
    """Inbound anchor-text profile per target host:

    (dst_host, n_anchors, n_src_hosts, top_anchor, top_anchor_n)

    — the classic web-corpus relevance signal (anchor text describes the
    TARGET; reference ecosystem: the Common-Crawl host-level link
    metadata). `top_anchor` is the most frequent inbound anchor string,
    ties broken lexicographically.

    Plan: one JVM extraction + explode to (src_host, dst_host, anchor),
    then two partial-aggregated rollups — (dst, anchor) term counts and
    (dst) totals with a distinct-source count — joined at dst grain (the
    join inputs are host-grain, ~10^7 rows at 10^12 pages; the anchor
    relation itself shuffles as map-side partials, never one row per
    raw anchor). The exploded projection is scanned twice; at 10^12
    pages persist/checkpoint it (or pre-bucket pages by url) so the html
    decode does not run twice — the decode, not the shuffle, is the
    dominant cost of a double scan."""
    pair = F.explode(extract_anchor_pairs(F.col(html_col))).alias("pair")
    a = (pages.select(host_of(F.col(url_col)).alias("src_host"), pair)
         .select("src_host",
                 host_of(F.col("pair.href")).alias("dst_host"),
                 F.col("pair.anchor").alias("anchor"))
         .where(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull()))
    per_term = a.groupBy("dst_host", "anchor").agg(F.count("*").alias("n"))
    w = Window.partitionBy("dst_host").orderBy(
        F.col("n").desc(), F.col("anchor").asc())
    top = (per_term.withColumn("__rk", F.row_number().over(w))
           .where(F.col("__rk") == 1)
           .select("dst_host", F.col("anchor").alias("top_anchor"),
                   F.col("n").alias("top_anchor_n")))
    per_dst = a.groupBy("dst_host").agg(
        F.count("*").alias("n_anchors"),
        F.count_distinct("src_host").alias("n_src_hosts"))
    return per_dst.join(top, "dst_host")


def outlink_host_edges(pages: DataFrame,
                       url_col: str = "url",
                       html_col: str = "html") -> DataFrame:
    """(src_host, dst_host, n_links) — the host-level link graph of a
    pages table, built entirely JVM-side: regex href extraction →
    explode → parse_url on both endpoints → one partial-aggregated
    count shuffle. Relative links (no host) drop out via the NULL
    filter. At 10^12 pages the explode fan-out is bounded by per-page
    link counts and the aggregate combines map-side, so the shuffle
    moves (host, host, count) partials — not one row per anchor."""
    src = host_of(F.col(url_col)).alias("src_host")
    link = F.explode(extract_links(F.col(html_col))).alias("link")
    pairs = (pages.select(src, link)
             .select("src_host", host_of(F.col("link")).alias("dst_host"))
             .where(F.col("dst_host").isNotNull()
                    & F.col("src_host").isNotNull()))
    return pairs.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"))
