"""Tests: title slug kernel (C7/C8)."""

from __future__ import annotations

from sandcrawler_spark.functions.slug import title_slug


def test_title_slug_semantics():
    assert title_slug("The Rise and Fall of the Néw Wörld") == "theriseandfallofthenewworld"
    assert title_slug("  Multi   space\ttitle! ") == "multispacetitle"
    assert title_slug("short") is None          # < 8 chars
    assert title_slug("Abstract") is None       # denylist
    assert title_slug("Editorial") is None
    assert title_slug(None) is None
    # accents fold to base letters, punctuation vanishes
    assert title_slug("Čapek's Über-Analysis: Part #2") == "capeksuberanalysispart2"

