"""robots.txt parsing + distributed crawl-politeness filter
(text/robots.py). Semantics pinned to RFC 9309's own examples."""

import re

from pyspark.sql import functions as F

from shapely_spark.text.robots import (_pattern_to_regex, parse_robots,
                                       robots_filter, url_path_col)


def is_allowed(rules: list[tuple[bool, str]], path: str) -> bool:
    """Most-specific-match decision for one path: the scalar reference
    the vectorized filter is checked against."""
    verdict = True
    best = -1
    for allow, pat in rules:
        if not pat:
            continue  # empty Disallow == allow everything, matches nothing
        if re.match(_pattern_to_regex(pat), path):
            ln = len(pat)
            if ln > best or (ln == best and allow and not verdict):
                verdict, best = allow, ln
    return verdict


EXAMPLE = """
# comment line
User-agent: *
Disallow: /private/
Allow: /private/public.html
Disallow: /tmp
Disallow: /*.pdf$

User-agent: examplebot
User-agent: otherbot
Disallow: /only-for-others/
Allow: /
"""


def test_group_selection_longest_agent_prefix():
    star = parse_robots(EXAMPLE, "somebot")
    assert ("/private/" in [p for _a, p in star])
    ex = parse_robots(EXAMPLE, "examplebot/2.1")
    assert [p for _a, p in ex] == ["/only-for-others/", "/"]
    # second agent of the same group gets the same rules
    assert parse_robots(EXAMPLE, "otherbot") == ex


def test_most_specific_match_and_allow_tie():
    rules = parse_robots(EXAMPLE, "somebot")
    assert not is_allowed(rules, "/private/secret.html")
    assert is_allowed(rules, "/private/public.html")  # longer allow wins
    assert not is_allowed(rules, "/tmpfile")          # prefix, no slash
    assert is_allowed(rules, "/other/page.html")
    # RFC tie rule: equal-length allow and disallow -> allow
    tie = [(False, "/page"), (True, "/page")]
    assert is_allowed(tie, "/page.html")


def test_wildcard_and_end_anchor():
    rules = parse_robots(EXAMPLE, "somebot")
    assert not is_allowed(rules, "/docs/report.pdf")
    assert is_allowed(rules, "/docs/report.pdf.html")  # $ anchors the end
    w = [(False, "/a/*/c")]
    assert not is_allowed(w, "/a/b/c/d")
    assert is_allowed(w, "/a/bc")


def test_empty_disallow_allows_everything():
    rules = parse_robots("User-agent: *\nDisallow:\n", "bot")
    assert is_allowed(rules, "/anything")
    assert parse_robots("", "bot") == []
    assert is_allowed([], "/anything")


def test_robots_filter_matches_scalar_reference(spark):
    robots = spark.createDataFrame(
        [("blocked.org", EXAMPLE),
         ("open.org", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string")
    urls = [
        "https://blocked.org/private/secret.html",
        "https://blocked.org/private/public.html",
        "https://blocked.org/docs/x.pdf",
        "https://blocked.org/ok/page",
        "https://blocked.org/",
        "https://open.org/private/secret.html",
        "https://norobots.org/anything",
        "https://BLOCKED.org/tmp/y",       # host case-folded
    ]
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    out = {r.url: r.robots_allowed
           for r in robots_filter(pages, robots).collect()}
    rules = parse_robots(EXAMPLE, "*")
    import urllib.parse as up

    for u in urls:
        host = up.urlparse(u).hostname
        want = (is_allowed(rules, up.urlparse(u).path or "/")
                if host == "blocked.org" else True)
        assert out[u] == want, u
    assert out["https://blocked.org/private/secret.html"] is False
    assert out["https://blocked.org/private/public.html"] is True
    assert out["https://norobots.org/anything"] is True


def test_join_tier_matches_driver_tier(spark):
    # the join plan is now the only one; the answers the removed
    # driver-side plan gave on these URLs are pinned as literals
    robots = spark.createDataFrame(
        [("blocked.org", EXAMPLE),
         ("open.org", "User-agent: *\nDisallow:\n")],
        "host string, robots_txt string")
    driver_answers = {
        "https://blocked.org/private/secret.html": False,
        "https://blocked.org/private/public.html": True,
        "https://blocked.org/docs/x.pdf": False,
        "https://blocked.org/ok/page": True,
        "https://open.org/private/secret.html": True,
        "https://norobots.org/anything": True,
        "https://BLOCKED.org/tmp/y": False,
    }
    urls = list(driver_answers)
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    a = {r.url: r.robots_allowed
         for r in robots_filter(pages, robots).collect()}
    assert a == driver_answers
    # the join plan preserves pages columns and row count
    out = robots_filter(pages, robots)
    assert out.columns == ["url", "robots_allowed"]
    assert out.count() == len(urls)


def test_join_tier_scales_without_host_literal(spark):
    # 10^5 synthetic hosts: the plan size must stay independent of
    # |hosts| (rules ride a join relation, not an in-plan literal).
    n = 100_000
    robots = spark.range(n).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.org")).alias("host"),
        F.concat(F.lit("User-agent: *\nDisallow: /priv"),
                 F.col("id") % 7, F.lit("/\n")).alias("robots_txt"))
    pages = spark.createDataFrame(
        [("https://h12345.example.org/priv4/x",),   # 12345 % 7 == 4 -> blocked
         ("https://h12345.example.org/pub/x",),
         ("https://h6.example.org/priv6/x",),       # 6 % 7 == 6 -> blocked
         ("https://unknown.example.org/priv0/x",)],
        "url string")
    out = robots_filter(pages, robots)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert len(plan) < 100_000, f"plan grew with |hosts|: {len(plan)} chars"
    got = {r.url: r.robots_allowed for r in out.collect()}
    assert got["https://h12345.example.org/priv4/x"] is False
    assert got["https://h12345.example.org/pub/x"] is True
    assert got["https://h6.example.org/priv6/x"] is False
    assert got["https://unknown.example.org/priv0/x"] is True


def test_url_path_col_root_fallback(spark):
    df = spark.createDataFrame(
        [("https://a.org",), ("https://a.org/p/q?x=1",)], "u string")
    got = [r.p for r in df.select(
        url_path_col(F.col("u")).alias("p")).collect()]
    assert got == ["/", "/p/q"]
