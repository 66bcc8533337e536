"""Span-sequence tests (SURVEY §5 rebuild plan c): per-document
interleave profile and offset-ordered text flattening."""

from __future__ import annotations

import pytest


def test_interleave_stats(spark):
    from sandcrawler_spark.operators.spans import interleave_stats

    rows = [
        # doc 1: text, image, text, image → 3 alternations, 2 media
        (1, "text", 0), (1, "image", 1), (1, "text", 2), (1, "image", 3),
        # doc 2: all text → 0 alternations, no media
        (2, "text", 0), (2, "text", 1),
        # doc 3: media-first run then text → 1 alternation
        (3, "audio", 0), (3, "image", 1), (3, "text", 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, kind string, offset int")
    got = {r["doc_id"]: r for r in interleave_stats(df).collect()}
    assert (got[1]["n_spans"], got[1]["n_media"], got[1]["alternations"]) == (4, 2, 3)
    assert got[1]["first_media_offset"] == 1
    assert (got[2]["n_media"], got[2]["alternations"]) == (0, 0)
    assert got[2]["first_media_offset"] is None
    # audio→image is a kind change (counts) even though both are media
    assert (got[3]["n_media"], got[3]["alternations"]) == (2, 2)
    assert got[3]["media_fraction"] == pytest.approx(2 / 3, abs=1e-6)


def test_flatten_text_offset_order_and_media_counts(spark):
    """flatten_text joins kind='text' spans in OFFSET order regardless
    of array position, counts media spans without touching them, and
    yields '' for a doc with no text spans."""
    from sandcrawler_spark.operators.spans import flatten_text

    rows = [
        ("d1", [
            {"kind": "text", "text": "world", "media_ref": None, "offset": 10},
            {"kind": "image", "text": None, "media_ref": "m1", "offset": 5},
            {"kind": "text", "text": "hello", "media_ref": None, "offset": 0},
        ]),
        ("d2", [
            {"kind": "audio", "text": None, "media_ref": "m2", "offset": 0},
        ]),
    ]
    schema = ("doc_id string, spans array<struct<kind:string,text:string,"
              "media_ref:string,offset:int>>")
    out = {r["doc_id"]: r for r in flatten_text(
        spark.createDataFrame(rows, schema)).collect()}
    assert out["d1"]["text"] == "hello world"
    assert out["d1"]["n_text_spans"] == 2 and out["d1"]["n_media_spans"] == 1
    assert out["d2"]["text"] == "" and out["d2"]["n_media_spans"] == 1
