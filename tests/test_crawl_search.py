"""Recrawl analytics, URL canonicalization and per-key capping
(spark/crawl.py) and anchor-text aggregation (spark/extract.py).

Reference semantics: WARC 1.1 revisit-by-payload-digest (crawl change
detection)."""

import datetime

import pytest
from pyspark.sql import functions as F

from shapely_spark.spark.crawl import (
    canonical_url_col,
    cap_per_key,
    host_change_stats,
    latest_snapshot,
    version_changes,
)
from shapely_spark.spark.extract import anchor_text_summary


def _ts(s):
    return datetime.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def fetches(spark):
    # url A: 3 fetches, content changes on fetch 2, revisit-identical on 3;
    # url B: single fetch; url C (other host): 2 fetches, changed.
    rows = [
        ("https://a.example.org/x", _ts("2026-01-01T00:00:00"), "v1"),
        ("https://a.example.org/x", _ts("2026-01-02T00:00:00"), "v2"),
        ("https://a.example.org/x", _ts("2026-01-03T00:00:00"), "v2"),
        ("https://a.example.org/y", _ts("2026-01-01T12:00:00"), "only"),
        ("https://b.example.org/z", _ts("2026-01-01T00:00:00"), "p"),
        ("https://b.example.org/z", _ts("2026-01-05T00:00:00"), "q"),
    ]
    return spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")


def test_latest_snapshot_picks_max_ts(fetches):
    got = {r.url: (r.warc_ts, r.text)
           for r in latest_snapshot(fetches).collect()}
    assert len(got) == 3
    assert got["https://a.example.org/x"] == (_ts("2026-01-03T00:00:00"), "v2")
    assert got["https://b.example.org/z"][1] == "q"


def test_version_changes_flags(fetches):
    rows = version_changes(fetches).orderBy("url", "warc_ts").collect()
    by = [(r.url.rsplit("/", 1)[1], r.is_first, r.changed) for r in rows]
    assert by == [
        ("x", True, False),    # first fetch: not a change
        ("x", False, True),    # v1 -> v2
        ("x", False, False),   # v2 -> v2 revisit
        ("y", True, False),
        ("z", True, False),
        ("z", False, True),
    ]


def test_host_change_stats(fetches):
    got = {r.host: r for r in host_change_stats(fetches).collect()}
    a = got["a.example.org"]
    assert (a.n_fetches, a.n_urls, a.n_refetches, a.n_changed) == (4, 2, 2, 1)
    assert a.change_rate == 0.5
    b = got["b.example.org"]
    assert (b.n_fetches, b.n_urls, b.n_refetches, b.n_changed) == (2, 1, 1, 1)
    assert b.change_rate == 1.0


def test_host_change_stats_no_refetch_null_rate(spark):
    one = spark.createDataFrame(
        [("https://c.example.org/1", _ts("2026-01-01T00:00:00"), "t")],
        "url string, warc_ts timestamp, text string")
    row = host_change_stats(one).collect()[0]
    assert row.n_refetches == 0 and row.change_rate is None


def test_anchor_text_summary(spark):
    html = (
        '<html><body>'
        '<a href="https://t1.example.org/a">great page</a>'
        '<a href="https://t1.example.org/b">great page</a>'
        '<a href="https://t2.example.org/">other</a>'
        '<p>no anchor here</p>'
        '<a href="/relative">skipped</a>'
        '</body></html>'
    )
    pages = spark.createDataFrame(
        [("https://s1.example.org/p", html.encode()),
         ("https://s2.example.org/q",
          b'<html><a href="https://t1.example.org/c">meh</a></html>')],
        "url string, html binary")
    got = {r.dst_host: r for r in anchor_text_summary(pages).collect()}
    t1 = got["t1.example.org"]
    assert (t1.n_anchors, t1.n_src_hosts) == (3, 2)
    assert (t1.top_anchor, t1.top_anchor_n) == ("great page", 2)
    t2 = got["t2.example.org"]
    assert (t2.n_anchors, t2.n_src_hosts, t2.top_anchor) == (1, 1, "other")


class TestResolveRedirects:
    def _resolve(self, spark, rows, **kw):
        from shapely_spark.spark.crawl import resolve_redirects
        e = spark.createDataFrame(rows, "src long, dst long")
        return {r.src: (r.final_url, r.hops)
                for r in resolve_redirects(e, **kw).collect()}

    def test_chain_resolves_with_exact_hops(self, spark):
        got = self._resolve(spark, [(3, 2), (2, 1), (1, 0)])
        assert got == {3: (0, 3), 2: (0, 2), 1: (0, 1)}

    def test_cycle_and_feeder_null(self, spark):
        got = self._resolve(spark, [(10, 11), (11, 10), (12, 10), (5, 4)])
        assert got[10] == (None, None) and got[11] == (None, None)
        assert got[12] == (None, None)          # feeds into the loop
        assert got[5] == (4, 1)                 # unaffected chain

    def test_max_hops_budget(self, spark):
        rows = [(i, i - 1) for i in range(1, 9)]  # chain of length 8
        got = self._resolve(spark, rows, max_hops=4)
        assert got[4] == (0, 4)
        assert got[8] == (None, None)           # 8 hops > budget

    def test_duplicate_source_min_target(self, spark):
        got = self._resolve(spark, [(7, 3), (7, 5)])
        assert got == {7: (3, 1)}

    def test_self_loop_dropped(self, spark):
        from shapely_spark.spark.crawl import resolve_redirects
        e = spark.createDataFrame([(4, 4), (2, 1)], "src long, dst long")
        got = {r.src: (r.final_url, r.hops)
               for r in resolve_redirects(e).collect()}
        assert got == {2: (1, 1)}


def test_latest_snapshot_content_tiebreak(spark):
    """Equal-(url, ts) fetches: content_col makes the pick deterministic
    (lowest content xxhash64 wins); the r4 ADVICE noted the old
    url+ts-hash tiebreak was a no-op on tied rows."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.crawl import latest_snapshot

    rows = [("u", "2026-01-01 00:00:00", c) for c in ("aaa", "bbb", "ccc")]
    df = spark.createDataFrame(rows, "url string, ts string, text string") \
        .select("url", F.col("ts").cast("timestamp").alias("warc_ts"), "text")
    want = min((r[2] for r in rows),
               key=lambda c: df.sparkSession.sql(
                   f"SELECT xxhash64('{c}')").collect()[0][0])
    for _ in range(3):  # stable across re-runs and input order
        got = latest_snapshot(df.orderBy(F.rand()), content_col="text") \
            .collect()
        assert len(got) == 1 and got[0].text == want


def test_canonical_url(spark):
    """Canonical URL keys: case, default ports, fragments, param order,
    trailing slash."""
    import pandas as pd

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
