"""HTML span producer goldens (reference html_extract_resources,
html_metadata.py:1034-1077): selector coverage, urljoin resolution,
first-occurrence resource dedup, document-order offsets — plus an
in-repo publisher page fixture, and Spark/pure-kernel span-sequence
equality."""

from __future__ import annotations

import os

from sandcrawler_spark.operators.html import extract_spans

GOLDEN_HTML = """
<html><head>
  <link rel="stylesheet" href="/static/site.css">
  <script src="//cdn.example.org/lib.js"></script>
  <style>body { color: red }</style>
</head><body>
  <h1>A Tale of Two Crawlers</h1>
  <p>First paragraph with an <a href="../papers/p1.pdf">inline link</a>.</p>
  <img src="fig1.png">
  <img src="fig1.png">
  <video src="/media/clip.mp4"></video>
  <iframe src="https://viewer.example.org/embed"></iframe>
  <script>ignored_text();</script>
  <p>Second paragraph.</p>
  <a href="../papers/p1.pdf">repeated link kept</a>
</body></html>
"""

BASE = "http://journal.example.org/articles/123/view"


def test_extract_spans_golden():
    spans = extract_spans(GOLDEN_HTML, BASE)
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)

    # selector set coverage, urljoin'd against the page URL
    assert [s["media_ref"] for s in by_kind["stylesheet"]] == [
        "http://journal.example.org/static/site.css"
    ]
    assert [s["media_ref"] for s in by_kind["script"]] == [
        "http://cdn.example.org/lib.js"  # protocol-relative inherits http
    ]
    # resource dedup is first-occurrence EXACT (two identical imgs -> 1)
    assert [s["media_ref"] for s in by_kind["image"]] == [
        "http://journal.example.org/articles/123/fig1.png"
    ]
    assert [s["media_ref"] for s in by_kind["media"]] == [
        "http://journal.example.org/media/clip.mp4"
    ]
    assert [s["media_ref"] for s in by_kind["subdocument"]] == [
        "https://viewer.example.org/embed"
    ]
    # anchors are outlinks and NOT deduped; refs stay raw (the frontier
    # resolves them against the parent at expansion time)
    assert [s["media_ref"] for s in by_kind["link"]] == [
        "../papers/p1.pdf",
        "../papers/p1.pdf",
    ]
    # script/style text is never a text span
    texts = [s["text"] for s in by_kind["text"]]
    assert "ignored_text();" not in " ".join(texts)
    assert "A Tale of Two Crawlers" in texts

    # offsets are dense document order
    assert [s["offset"] for s in spans] == list(range(len(spans)))
    # interleaving: the heading text precedes the inline link which
    # precedes the image
    order: dict = {}
    for s in spans:  # first occurrence wins (links repeat)
        order.setdefault((s["kind"], s.get("media_ref") or s.get("text")), s["offset"])
    assert (
        order[("text", "A Tale of Two Crawlers")]
        < order[("link", "../papers/p1.pdf")]
        < order[("image", "http://journal.example.org/articles/123/fig1.png")]
    )


def test_extract_spans_empty_and_broken():
    assert extract_spans(None) == []
    assert extract_spans("") == []
    # malformed HTML still yields what the tolerant parser can see
    spans = extract_spans("<p>ok<unclosed <a href='x'>", "http://h/")
    assert any(s["kind"] == "text" and s["text"] == "ok" for s in spans)


def test_publisher_fixture_spans():
    with open(
        os.path.join(os.path.dirname(__file__), "fixtures", "dlib_05vanhyning.html"),
        encoding="utf-8",
        errors="replace",
    ) as f:
        html = f.read()
    spans = extract_spans(html, "http://www.dlib.org/dlib/may17/vanhyning/05vanhyning.html")
    kinds = {s["kind"] for s in spans}
    assert "link" in kinds and "text" in kinds and "image" in kinds
    # resource refs must be absolute after urljoin
    for s in spans:
        if s["kind"] not in ("text", "link"):
            assert "://" in s["media_ref"], s
    # offsets dense + strictly ordered
    assert [s["offset"] for s in spans] == list(range(len(spans)))


def test_spark_udf_matches_kernel(spark):
    from sandcrawler_spark.operators.html import html_to_spans

    rows = [("d1", GOLDEN_HTML, BASE), ("d2", None, BASE), ("d3", "<p>x</p>", None)]
    df = spark.createDataFrame(rows, "doc_id string, html string, url string")
    got = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in html_to_spans(df, "doc_id", "html", "url").collect()
        if r["spans"] is not None
    }
    for doc_id, html, base in rows:
        if html is None:
            assert doc_id not in got or got[doc_id] == []
            continue
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in extract_spans(html, base)
        ]
        assert got[doc_id] == want, doc_id
