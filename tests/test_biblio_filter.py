"""Metadata quality gate (operators/biblio.py::filter_biblio_metadata)
vs the reference's filter_grobid_metadata.py rules, including the
faithfully-mirrored no-op title-prefix bug and the replace-all journal
prefix semantics."""

from __future__ import annotations

from sandcrawler_spark.operators.biblio import filter_biblio_metadata


def _run(spark, rows):
    df = spark.createDataFrame(
        rows, "id long, title string, authors array<string>, journal string"
    )
    return {r["id"]: r for r in filter_biblio_metadata(df).collect()}


def test_title_rules(spark):
    rows = [
        (1, "A Solid Scholarly Title: Methods and Results", ["A B"], None),
        (2, "Impact Factor: 2.114", ["A B"], None),        # denylist slug
        (3, "nr short", ["A B"], None),                    # slug<10 + nr prefix
        (4, "The Journal of Nope Studies", ["A B"], None), # journal-of prefix
        (5, "Int. J. of things and stuff", ["A B"], None), # int j rule
        (6, "Volume 2 Issue 3 of the set has results", ["A B"], None),
        (7, "Too: many: colons: here: yes indeed", ["A B"], None),
        (8, "Ver. 2. results dotted twice", ["A B"], None),
        (9, "One", ["A B"], None),                         # <2 words
        (10, "x " * 300, ["A B"], None),                   # >500 chars
        # reference BUG parity: the prefix-strip loop is a no-op, so
        # the "Title: " prefix survives on a kept row
        (11, "Title: Something Good And Long Enough", ["A B"], None),
        (12, None, ["A B"], None),
        (13, "A b c d e f g h i j k l m n useful title", ["A B"], None),
    ]
    out = _run(spark, rows)
    assert set(out) == {1, 11}
    assert out[11]["title"] == "Title: Something Good And Long Enough"


def test_author_rules(spark):
    rows = [
        (1, "A perfectly ordinary useful title", ["Jane Q Doe", "PhD"], None),
        (2, "A perfectly ordinary useful title", ["John 123 456"], None),
        # all authors scrubbed → EMPTY list but row KEPT (reference
        # never re-checks the filtered list, :155)
        (3, "A perfectly ordinary useful title", ["phd student"], None),
        # missing/empty authors on INPUT → dropped (:146-148)
        (4, "A perfectly ordinary useful title", [], None),
        (5, "A perfectly ordinary useful title", None, None),
        (6, "A perfectly ordinary useful title", ["X"], None),  # len<=1 scrub
    ]
    out = _run(spark, rows)
    assert set(out) == {1, 2, 3, 6}
    assert out[1]["authors"] == ["Jane Q Doe"]
    assert out[2]["authors"] == ["John"]
    assert out[3]["authors"] == []
    assert out[6]["authors"] == []


def test_journal_rules(spark):
    t = "A perfectly ordinary useful title"
    rows = [
        (1, t, ["A B"], "Journal of Tests e-ISSN"),
        (2, t, ["A B"], "xy"),                       # slug<4
        (3, t, ["A B"], "Research Article Fine Journal ISSN"),
        (4, t, ["A B"], None),
        (5, t, ["A B"], "Plain   Journal"),          # whitespace normalize
        (6, t, ["A B"], "J" * 200),                  # >150 chars
        (7, t, ["A B"], "editorial"),                # denylist slug
    ]
    out = _run(spark, rows)
    assert out[1]["journal"] == "Journal of Tests"
    assert out[2]["journal"] is None
    assert out[3]["journal"] == "Fine Journal"
    assert out[4]["journal"] is None
    assert out[5]["journal"] == "Plain Journal"
    assert out[6]["journal"] is None
    assert out[7]["journal"] is None


def test_title_denylist_extension(spark):
    rows = [(1, "A Solid Scholarly Title: Methods and Results", ["A B"], None)]
    assert 1 in _run(spark, rows)  # inline list: kept
