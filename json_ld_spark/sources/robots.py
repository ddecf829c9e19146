"""robots.txt parsing + prefix-rule URL filtering — the crawl-
politeness step of a web pipeline, written against the public REP
spec (RFC 9309): User-agent group selection (the most specific
matching group wins; ``*`` is the fallback), Allow/Disallow prefix
rules, longest-match-wins with Allow beating Disallow on ties,
empty ``Disallow:`` meaning no restriction, unknown directives and
comments ignored.

The parser is pure Python (runs in Arrow batches over a (host,
robots_txt) table); MATCHING is JVM-side (``match_robots``) — the
rule table is tiny per host (robots files are ~KB), so the filter is
a broadcast join + startswith + a struct max, no Python in the
per-URL path.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_robots(
    text: str, user_agent: str = "*"
) -> "List[Tuple[bool, str]]":
    """[(allow, path_prefix)] for the group governing ``user_agent``.

    Group selection per RFC 9309: collect rules from groups whose
    User-agent line matches ``user_agent`` case-insensitively; if any
    specific group matches, the ``*`` groups are ignored. Empty
    Disallow values are dropped (no restriction). Comments (#…),
    blank lines, and unknown directives (Crawl-delay, Sitemap, …)
    are ignored."""
    ua = user_agent.lower()
    groups: "List[Tuple[List[str], List[Tuple[bool, str]]]]" = []
    cur_uas: "List[str]" = []
    cur_rules: "List[Tuple[bool, str]]" = []
    in_ua_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, val = line.split(":", 1)
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_ua_run and (cur_uas or cur_rules):
                groups.append((cur_uas, cur_rules))
                cur_uas, cur_rules = [], []
            cur_uas.append(val.lower())
            in_ua_run = True
        elif key in ("allow", "disallow"):
            in_ua_run = False
            if val:
                cur_rules.append((key == "allow", val))
            # empty Disallow: explicitly "no restriction" — no rule
        else:
            in_ua_run = False  # unknown directive still ends a UA run
    if cur_uas or cur_rules:
        groups.append((cur_uas, cur_rules))

    specific: "List[Tuple[bool, str]]" = []
    wildcard: "List[Tuple[bool, str]]" = []
    for uas, rules in groups:
        if any(u == ua for u in uas):
            specific.extend(rules)
        elif any(u == "*" for u in uas):
            wildcard.extend(rules)
    return specific if specific else wildcard


def match_robots(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """(host, canon, allowed, matched_prefix): the verdict for each
    (host, canon, path) row of ``urls`` under the (host, allow,
    prefix) rows of ``rules``. Longest match wins; Allow beats
    Disallow on equal length; no matching rule → allowed, with a null
    prefix. One broadcast join of the rule table, then ``max`` over
    (length, allow, prefix) structs per URL — true sorts above false,
    so at equal length the Allow rule is the max."""
    j = urls.join(
        F.broadcast(rules),
        (urls["host"] == rules["host"])
        & F.expr("startswith(path, prefix)"),
        "left",
    ).select(
        urls["host"].alias("host"),
        "canon",
        F.when(
            rules["prefix"].isNotNull(),
            F.struct(
                F.length(rules["prefix"]).alias("l"),
                rules["allow"].alias("allow"),
                rules["prefix"].alias("prefix"),
            ),
        ).alias("cand"),
    )
    best = j.groupBy("host", "canon").agg(F.max("cand").alias("best"))
    return best.select(
        "host",
        "canon",
        F.coalesce(F.col("best.allow"), F.lit(True)).alias("allowed"),
        F.col("best.prefix").alias("matched_prefix"),
    )
