"""Tests: title slug kernel (C7/C8)."""

from __future__ import annotations

from sandcrawler_spark.functions.slug import similarity_ratio, title_slug


def test_title_slug_semantics():
    assert title_slug("The Rise and Fall of the Néw Wörld") == "theriseandfallofthenewworld"
    assert title_slug("  Multi   space\ttitle! ") == "multispacetitle"
    assert title_slug("short") is None          # < 8 chars
    assert title_slug("Abstract") is None       # denylist
    assert title_slug("Editorial") is None
    assert title_slug(None) is None
    # accents fold to base letters, punctuation vanishes
    assert title_slug("Čapek's Über-Analysis: Part #2") == "capeksuberanalysispart2"


def test_similarity_ratio():
    assert similarity_ratio("abc", "abc") == 1.0
    assert similarity_ratio("", "abc") == 0.0
    assert abs(similarity_ratio("kitten", "sitting") - (1 - 3 / 7)) < 1e-9
    assert similarity_ratio("abcd", "abce") == 0.75

