"""robots.txt parser + longest-match decision (functions/robots.py).

Goldens come from the public RFC 9309 examples (§2.2.2, §5.2) and the
Google robots.txt documentation's published match table — the spec IS
the oracle here (the reference repo never parses robots; the north rule
requires robots caches, so semantics pin to the RFC).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sandcrawler_spark.functions import robots as R

FOOBOT_SITE = """
User-Agent: *
Disallow: *.gif$
Disallow: /example/
Allow: /publications/

User-Agent: foobot
Disallow:/
Allow:/example/page.html
Allow:/example/allowed.gif

User-Agent: barbot
User-Agent: bazbot
Disallow: /example/page.html
"""


def _decide(txt: str, agent: str, path: str) -> bool:
    rules, _, _ = R.parse_robots_txt(txt, agent)
    return R.robots_decision(rules, path)


class TestRfc9309Examples:
    def test_group_selection_foobot(self):
        # RFC 9309 §5.2: foobot gets ONLY its own group
        assert _decide(FOOBOT_SITE, "foobot", "/example/page.html") is True
        assert _decide(FOOBOT_SITE, "foobot", "/example/allowed.gif") is True
        assert _decide(FOOBOT_SITE, "foobot", "/anything-else") is False

    def test_group_merge_barbot_bazbot(self):
        # consecutive UA lines share one group
        for agent in ("barbot", "bazbot"):
            assert _decide(FOOBOT_SITE, agent, "/example/page.html") is False
            assert _decide(FOOBOT_SITE, agent, "/example/other.html") is True

    def test_star_fallback(self):
        assert _decide(FOOBOT_SITE, "quxbot", "/example/page.html") is False
        assert _decide(FOOBOT_SITE, "quxbot", "/publications/x") is True
        assert _decide(FOOBOT_SITE, "quxbot", "/pic.gif") is False  # *.gif$
        assert _decide(FOOBOT_SITE, "quxbot", "/pic.gif?x") is True  # $ anchored

    def test_longest_ua_token_wins(self):
        txt = "User-agent: foo\nDisallow: /\nUser-agent: foobot\nAllow: /\n"
        # both are substrings of "foobot-news"; foobot (longer) wins
        assert _decide(txt, "FooBot-News", "/x") is True
        assert _decide(txt, "foo-lite", "/x") is False


class TestMatchPrecedence:
    # Google's published allow/disallow precedence table
    @pytest.mark.parametrize(
        "allow,disallow,path,expect",
        [
            ("/p", "/", "/page", True),  # longer allow wins
            ("/folder/", "/folder", "/folder/page", True),  # tie -> allow
            ("/page", "/*.htm", "/page.htm", False),  # longer pattern wins
            # len("/page") == len("/*.ph"): Google marks this case
            # "undefined"; RFC 9309 tie-break (least restrictive) -> allow
            ("/page", "/*.ph", "/page.php5", True),
            ("/$", "/", "/", True),  # only exact root allowed
            ("/$", "/", "/page.htm", False),
        ],
    )
    def test_precedence_table(self, allow, disallow, path, expect):
        txt = f"User-agent: *\nAllow: {allow}\nDisallow: {disallow}\n"
        assert _decide(txt, "anybot", path) is expect

    def test_empty_disallow_and_comments(self):
        txt = "User-agent: *  # everyone\nDisallow:   # allow all\n"
        assert _decide(txt, "x", "/private") is True
        assert _decide("", "x", "/anything") is True

    def test_crawl_delay_and_sitemap(self):
        txt = (
            "Sitemap: https://ex.org/map.xml\n"
            "User-agent: *\nCrawl-delay: 2.5\nDisallow: /x\n"
        )
        rules, delay, maps = R.parse_robots_txt(txt, "anybot")
        assert delay == 2.5
        assert maps == ["https://ex.org/map.xml"]
        assert len(rules) == 1

    def test_crawl_delay_hostile_values_ignored(self):
        # nan would poison the downstream ANSI int cast; inf/negative give
        # nonsense budgets — all must parse as "no delay", like garbage text
        for bad in ("nan", "inf", "-inf", "-5", "1e400", "soon", ""):
            txt = f"User-agent: *\nCrawl-delay: {bad}\nDisallow: /x\n"
            _, delay, _ = R.parse_robots_txt(txt, "anybot")
            assert delay is None, bad
        # zero is a legal no-wait delay and must survive
        _, delay, _ = R.parse_robots_txt(
            "User-agent: *\nCrawl-delay: 0\n", "anybot"
        )
        assert delay == 0.0


class TestSparkParity:
    """The set-oriented join reproduces the pure-Python decision."""

    def test_robots_allowed_matches_python(self, spark):
        hosts = [f"h{i}.example.org" for i in range(6)]
        bodies = [
            (
                h,
                f"User-agent: sandcrawler\nDisallow: /d/{i}\nAllow: /d/{i}/open\n"
                f"User-agent: *\nDisallow: /\n",
            )
            for i, h in enumerate(hosts)
        ]
        robots_df = spark.createDataFrame(bodies, "host string, robots_txt string")
        rules = R.explode_rules(robots_df, agent="sandcrawler")

        urls = [
            (hosts[i % 6], p, j)
            for j, (i, p) in enumerate(
                (i, pat.format(i=i))
                for i in range(6)
                for pat in ("/d/{i}/x", "/d/{i}/open/x", "/d/9/x", "/other")
            )
        ]
        urls_df = spark.createDataFrame(urls, "host string, path string, uid long")
        got = {
            r["uid"]: r["allowed"]
            for r in R.robots_allowed(urls_df, rules).collect()
        }
        parsed = {
            h: R.parse_robots_txt(txt, "sandcrawler")[0] for h, txt in bodies
        }
        for host, path, uid in urls:
            assert got[uid] is R.robots_decision(parsed[host], path), (host, path)

    def test_rules_plan_is_python_free_after_parse(self, spark):
        """Decision join must not re-enter Python: once rules are a
        materialized table, robots_allowed is pure Catalyst."""
        rules = spark.createDataFrame(
            [("h", "/d", "^/d", False, 2)],
            "host string, pattern string, regex string, allow boolean, precedence int",
        )
        urls = spark.createDataFrame([("h", "/d/x")], "host string, path string")
        plan = R.robots_allowed(urls, rules)._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
