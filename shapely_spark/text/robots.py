"""robots.txt (RFC 9309, the Robots Exclusion Protocol) parsing and a
distributed crawl-politeness filter — the gate every Common-Crawl-style
corpus applies before a url enters the pipeline.

Parser semantics per RFC 9309 (public spec; no reference-library code):

- Groups: consecutive ``User-agent:`` lines open a group that the
  following ``Allow:`` / ``Disallow:`` rules belong to; a blank rule
  line does NOT close a group (rules bind until the next user-agent
  block). Group selection picks the LONGEST user-agent token that is a
  case-insensitive prefix of the product token, falling back to ``*``.
- Rule matching: patterns are path prefixes with ``*`` (any chars) and
  a final ``$`` (end anchor). The most specific match wins — longest
  pattern in octets — and ``Allow`` wins a length tie. No matching
  rule (or no robots.txt, or an empty Disallow) means ALLOWED.

Scale shape: the robots corpus is one small row per host (CC fetches
~10^8 robots files for 10^12 pages — but per-HOST it is tiny next to
the page table). ``robots_filter`` compiles each host's selected group
ONCE, distributed, into regexes, left-joins the blocking hosts' rules to
the pages on host, and evaluates the blocked-host rows with an
Arrow-batched pandas UDF that groups each batch by ruleset and runs ONE
vectorized str.match per rule — no per-row Python, nothing collected to
the driver, flag-don't-drop for auditable removal rates.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pattern_to_regex(pat: str) -> str:
    """One robots path pattern -> anchored-at-start regex source."""
    anchor_end = pat.endswith("$")
    if anchor_end:
        pat = pat[:-1]
    parts = [re.escape(p) for p in pat.split("*")]
    body = ".*".join(parts)
    return body + ("\\Z" if anchor_end else "")


def parse_robots(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """The rule group RFC 9309 selects for ``agent``:
    [(is_allow, pattern), ...] in file order. Longest user-agent token
    that prefixes ``agent`` wins; '*' is the fallback."""
    agent = agent.lower()
    groups: list[tuple[list[str], list[tuple[bool, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[bool, str]] = []
    in_agent_block = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_block:
                if cur_agents:
                    groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules = [], []
                in_agent_block = True
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow"):
            in_agent_block = False
            if cur_agents:
                cur_rules.append((key == "allow", val))
        else:
            in_agent_block = False
    if cur_agents:
        groups.append((cur_agents, cur_rules))

    best: list[tuple[bool, str]] | None = None
    best_len = -1
    for agents, rules in groups:
        for a in agents:
            if a == "*":
                if best_len < 0:
                    best = rules
            elif agent.startswith(a) and len(a) > best_len:
                best, best_len = rules, len(a)
    return best or []


def _compile_host(rules: list[tuple[bool, str]]):
    """(compiled_regex, is_allow, pattern_len) triples, or None when the
    group cannot block anything (fast path: most hosts allow all)."""
    out = []
    for allow, pat in rules:
        if not pat:
            continue
        out.append((re.compile(_pattern_to_regex(pat)), allow, len(pat)))
    if not any(not allow for _rx, allow, _l in out):
        return None
    return out


def _match_paths(rules, paths: pd.Series) -> pd.Series:
    """Vectorized most-specific-match over one host's compiled rules:
    one ``str.match`` per rule across every path in the batch slice.
    ``rules``: [(compiled_rx, is_allow, pattern_len)]."""
    verdict = pd.Series(True, index=paths.index)
    best = pd.Series(-1, index=paths.index)
    for rx, allow, ln in rules:  # file order; longest wins,
        m = paths.str.match(rx)  # allow wins a length tie
        better = m & (ln > best)
        tie = m & (ln == best) & allow
        verdict = verdict.where(~better, allow).where(~tie, True)
        best = best.where(~better, ln)
    return verdict


def compiled_rules_df(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Distributed compile of the robots relation: one row per host whose
    selected group can actually BLOCK something — (h, rules) where rules
    is a JSON list of (regex_source, is_allow, pattern_len). Hosts that
    allow everything drop out here, so the compiled relation is typically
    a small fraction of the robots corpus and never touches the driver."""
    schema = "h string, rules string"

    def gen(batches):
        import json

        for pdf in batches:
            hs, rs = [], []
            for h, t in zip(pdf["h"], pdf["t"]):
                c = _compile_host(parse_robots(t, agent))
                if c is not None:
                    hs.append(h)
                    rs.append(json.dumps(
                        [(rx.pattern, allow, ln) for rx, allow, ln in c]))
            yield pd.DataFrame({"h": pd.Series(hs, dtype="object"),
                                "rules": pd.Series(rs, dtype="object")})

    # one row per host is the relation's contract, but a duplicate host
    # would silently DUPLICATE page rows through the left join — dedupe
    # defensively (tiny relation relative to pages; deterministic pick
    # is not needed because duplicate hosts are contract violations)
    return robots.select(
        F.lower(F.col(host_col)).alias("h"), F.col(text_col).alias("t")
    ).mapInPandas(gen, schema).dropDuplicates(["h"])


# executor-local compiled-ruleset cache for robots_filter: a hot host's
# rules JSON recompiles once per executor, not once per Arrow batch.
_RULES_BY_JSON: dict[str, list] = {}


def _rules_from_json(spec: str) -> list:
    rules = _RULES_BY_JSON.get(spec)
    if rules is None:
        import json

        if len(_RULES_BY_JSON) > 8192:
            _RULES_BY_JSON.clear()
        rules = [(re.compile(p), bool(allow), int(ln))
                 for p, allow, ln in json.loads(spec)]
        _RULES_BY_JSON[spec] = rules
    return rules


def url_path_col(url: Column) -> Column:
    """The path component robots rules match against (JVM parse_url;
    '/' when empty)."""
    p = F.parse_url(url, F.lit("PATH"))
    return F.when(p.isNull() | (p == ""), F.lit("/")).otherwise(p)


def robots_filter(
    pages: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    text_col: str = "robots_txt",
    agent: str = "*",
    flag_col: str = "robots_allowed",
) -> DataFrame:
    """pages + a boolean ``robots_allowed`` column. ``robots`` is one
    row per host (host, robots_txt); hosts with no row — or a group
    with no Disallow — allow everything without entering the UDF.
    Flag-don't-drop: filter on the flag downstream, keep the removal
    rate auditable.

    Plan: rules compile DISTRIBUTED via ``compiled_rules_df``
    (allow-all hosts drop out map-side), then pages ⟕ compiled rules ON
    lower(host) — Catalyst/AQE broadcasts the compiled relation when it
    is small and shuffle-joins it when it is not (10^7–10^8 robots hosts
    at Common-Crawl scale). Pages whose host has no blocking group get a
    NULL rules column from the left join and are allowed pure-JVM; only
    blocked-host rows enter the Arrow refine, which factorizes the
    (executor-cached) ruleset per batch and runs one vectorized
    str.match per rule. Nothing is ever collected to the driver and no
    |hosts|-sized literal enters the plan.
    """
    compiled = compiled_rules_df(robots, host_col, text_col, agent)
    host = F.lower(F.parse_url(F.col(url_col), F.lit("HOST")))
    path = url_path_col(F.col(url_col))
    rules_c, path_c = "__robots_rules", "__robots_path"

    joined = (
        pages.withColumn("__robots_host", host)
        .join(compiled.select(F.col("h").alias("__robots_host"),
                              F.col("rules").alias(rules_c)),
              on="__robots_host", how="left")
        .withColumn(path_c, path)
    )

    @F.pandas_udf("boolean")
    def _allowed_rules(rules_s: pd.Series, path_s: pd.Series) -> pd.Series:
        out = pd.Series(True, index=rules_s.index)
        codes, uniques = pd.factorize(rules_s)
        import numpy as np

        for u_idx in range(len(uniques)):
            spec = uniques[u_idx]
            if spec is None:
                continue
            rules = _rules_from_json(spec)
            mask = codes == u_idx
            verdict = _match_paths(rules, path_s[np.asarray(mask)])
            out.loc[np.asarray(mask)] = verdict.astype(bool).to_numpy()
        return out

    # NULL-mask the path too: allowed rows (the vast majority) move only
    # nulls over Arrow instead of their path strings
    flag = F.when(F.col(rules_c).isNull(), F.lit(True)).otherwise(
        _allowed_rules(F.col(rules_c),
                       F.when(F.col(rules_c).isNotNull(), F.col(path_c))))
    return (
        joined.withColumn(flag_col, flag)
        .drop("__robots_host", rules_c, path_c)
    )
