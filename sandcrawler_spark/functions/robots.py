"""robots.txt parsing + set-oriented allow/deny decisions (RFC 9309).

The north rule requires "politeness enforced via per-host token buckets
and robots.txt caches".  The frontier (`plans/frontier.py`) consumes a
pre-parsed per-host rules table (block flags + host_budget); this module
turns RAW robots.txt bodies into per-URL allow/deny decisions (the
battery's ``rb_longest_match`` runs it end to end).

Semantics follow the public RFC 9309 spec (+ the de-facto Crawl-delay
extension):

- Lines are `key: value`, `#` starts a comment, keys case-insensitive.
- Consecutive ``User-agent`` lines open ONE group; a group ends when a
  rule line is followed by another ``User-agent``.
- Group selection: the group whose user-agent token is the LONGEST
  case-insensitive substring of the crawler's product token wins;
  ``*`` is the fallback.  All groups with the winning token merge.
- Rule matching: ``Allow``/``Disallow`` values are path patterns where
  ``*`` matches any run of characters and a trailing ``$`` anchors the
  end.  The matching rule with the LONGEST pattern wins; on a
  precedence tie, ``Allow`` wins.  No matching rule -> allowed.
- ``Sitemap`` is group-independent; ``Crawl-delay`` attaches to the
  group (non-RFC but ubiquitous).

Scale shape: parsing is an Arrow-batched pandas UDF (one robots body
per HOST, so the input is ~#hosts, tiny next to the frontier);
decisions are a set-oriented host equi-join + longest-match `max_by`
aggregation — no per-URL Python, broadcastable rules side.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "parse_robots_txt",
    "robots_decision",
    "parse_robots_udf",
    "explode_rules",
    "robots_allowed",
]


# ---------------------------------------------------------------------------
# pure-Python core (unit-testable; also the tests' oracle)
# ---------------------------------------------------------------------------


@dataclass
class RobotsGroup:
    agents: list[str]
    rules: list[tuple[str, bool]] = field(default_factory=list)  # (pattern, allow)
    crawl_delay: float | None = None


def _pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern -> anchored regex (`*` wildcard, `$` EOL)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    body = ".*".join(re.escape(seg) for seg in pattern.split("*"))
    return "^" + body + ("$" if anchored else "")


def parse_robots_txt(
    txt: str, agent: str
) -> tuple[list[tuple[str, str, bool, int]], float | None, list[str]]:
    """Parse one robots.txt body for one crawler product token.

    Returns ``(rules, crawl_delay, sitemaps)`` where each rule is
    ``(pattern, regex, allow, precedence)`` from the single matched
    group (longest-substring user-agent, ``*`` fallback; equal winners
    merge per RFC 9309 §2.2.1).
    """
    agent_lc = agent.lower()
    groups: list[RobotsGroup] = []
    sitemaps: list[str] = []
    collecting_agents = False
    for raw in (txt or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            ua = val.lower()
            if collecting_agents and groups:
                groups[-1].agents.append(ua)
            else:
                groups.append(RobotsGroup(agents=[ua]))
                collecting_agents = True
        elif key in ("allow", "disallow"):
            collecting_agents = False
            if groups and val:  # empty Disallow: == no rule (allow all)
                groups[-1].rules.append((val, key == "allow"))
        elif key == "crawl-delay":
            collecting_agents = False
            if groups:
                try:
                    d = float(val)
                except ValueError:
                    d = None
                # float() accepts "nan"/"inf"/negatives; a NaN delay would
                # poison the downstream host_budget .cast("int") under ANSI
                # mode, inf/negative give nonsense budgets — treat all as
                # absent (same as unparseable), per RFC 9309's "ignore
                # records the crawler doesn't understand"
                if d is not None and math.isfinite(d) and d >= 0:
                    groups[-1].crawl_delay = d
        elif key == "sitemap":
            # group-independent per RFC 9309 §2.2.4 "other records"
            sitemaps.append(val)

    # group selection: longest UA token that substring-matches, * fallback
    best_token: str | None = None
    for g in groups:
        for ua in g.agents:
            if ua != "*" and ua in agent_lc:
                if best_token is None or len(ua) > len(best_token):
                    best_token = ua
    use_star = best_token is None
    rules: list[tuple[str, str, bool, int]] = []
    delay: float | None = None
    for g in groups:
        hit = ("*" in g.agents) if use_star else (best_token in g.agents)
        if not hit:
            continue
        for pattern, allow in g.rules:
            rules.append((pattern, _pattern_to_regex(pattern), allow, len(pattern)))
        if g.crawl_delay is not None and delay is None:
            delay = g.crawl_delay
    return rules, delay, sitemaps


def robots_decision(rules: list[tuple[str, str, bool, int]], path: str) -> bool:
    """Longest-match decision for one path (tests' reference oracle)."""
    best: tuple[int, int] | None = None  # (precedence, allow_int)
    for _pat, regex, allow, prec in rules:
        if re.match(regex, path):
            cand = (prec, int(allow))
            if best is None or cand > best:
                best = cand
    return True if best is None else bool(best[1])


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

PARSED_TYPE = T.StructType(
    [
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("pattern", T.StringType()),
                        T.StructField("regex", T.StringType()),
                        T.StructField("allow", T.BooleanType()),
                        T.StructField("precedence", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("crawl_delay", T.DoubleType()),
        T.StructField("sitemaps", T.ArrayType(T.StringType())),
    ]
)


def parse_robots_udf(agent: str):
    """Arrow-batched robots.txt parser column for a fixed product token."""

    @F.pandas_udf(PARSED_TYPE)
    def parse(txt: pd.Series) -> pd.DataFrame:
        rules_out, delay_out, maps_out = [], [], []
        for body in txt:
            rules, delay, sitemaps = parse_robots_txt(body or "", agent)
            rules_out.append(
                [
                    {"pattern": p, "regex": rx, "allow": al, "precedence": pr}
                    for p, rx, al, pr in rules
                ]
            )
            delay_out.append(delay)
            maps_out.append(sitemaps)
        return pd.DataFrame(
            {"rules": rules_out, "crawl_delay": delay_out, "sitemaps": maps_out}
        )

    return parse


def explode_rules(df: DataFrame, agent: str = "*") -> DataFrame:
    """(host, robots_txt) -> one row per matched-group rule.

    Output: (host, pattern, regex, allow, precedence, crawl_delay).
    Hosts whose matched group has no rules keep one all-NULL-rule row
    (explode_outer) so crawl_delay survives for rule-less hosts.
    """
    parsed = df.select(
        F.col("host").alias("host"), parse_robots_udf(agent)(F.col("robots_txt")).alias("p")
    )
    return parsed.select(
        "host",
        F.explode_outer("p.rules").alias("r"),
        F.col("p.crawl_delay").alias("crawl_delay"),
    ).select(
        "host",
        F.col("r.pattern").alias("pattern"),
        F.col("r.regex").alias("regex"),
        F.col("r.allow").alias("allow"),
        F.col("r.precedence").alias("precedence"),
        "crawl_delay",
    )


def robots_allowed(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Longest-match allow/deny for every (host, path) in ``urls``.

    Set-oriented RFC 9309 decision: host equi-join (rules side
    broadcast — one robots body per host is small next to a
    frontier), regex match JVM-side (`rlike` with a column pattern, no
    Python), then one `max(struct(precedence, allow))` aggregation per
    URL — lexicographic struct max IS the longest-match rule with the
    Allow-wins tiebreak, with no window/sort. URLs whose host has no
    matching rule default to allowed.

    Returns ``urls`` + an ``allowed`` boolean column.
    """
    pairs = urls.select(F.col("host").alias("host"), F.col("path").alias("path")).distinct()
    rule_rows = F.broadcast(
        rules.where(F.col("regex").isNotNull()).select("host", "regex", "allow", "precedence")
    )
    decided = (
        pairs.join(rule_rows, "host")
        .where(F.expr("rlike(path, regex)"))
        .groupBy("host", "path")
        .agg(F.max(F.struct(F.col("precedence"), F.col("allow"))).alias("best"))
        .select("host", "path", F.col("best.allow").alias("_decision"))
    )
    out = urls.join(
        decided,
        (urls["host"] == decided["host"]) & (urls["path"] == decided["path"]),
        "left",
    )
    return out.select(
        *[urls[c] for c in urls.columns],
        F.coalesce(F.col("_decision"), F.lit(True)).alias("allowed"),
    )

