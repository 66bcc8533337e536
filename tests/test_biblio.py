"""Goldens for operators.biblio: the expectations of the reference's
``test_html_metadata.py`` (:8-203), re-asserted against our from-scratch
extractor over minimal in-repo publisher pages (``tests/fixtures/*.html``)
that carry the head meta tags and fulltext links those pages use."""

from __future__ import annotations

import datetime
import os

from sandcrawler_spark.operators.biblio import (
    extract_biblio,
    html_to_biblio,
    parse_release_date,
)

FILES = os.path.join(os.path.dirname(__file__), "fixtures")


def _load(name: str) -> str:
    with open(os.path.join(FILES, name)) as f:
        return f.read()


def test_biblio_plos():
    m = extract_biblio("http://example.org", _load("plos_one_article.html"))
    assert m["title"] == (
        "Assessment on reticuloendotheliosis virus infection in "
        "specific-pathogen-free chickens based on detection of yolk antibody"
    )
    assert m["doi"] == "10.1371/journal.pone.0213978"
    assert m["pdf_fulltext_url"] == (
        "https://journals.plos.org/plosone/article/file?"
        "id=10.1371/journal.pone.0213978&type=printable"
    )
    assert m["contrib_names"] == [
        "Yang Li", "Tuanjie Wang", "Lin Wang", "Mingjun Sun", "Zhizhong Cui",
        "Shuang Chang", "Yongping Wu", "Xiaodong Zhang", "Xiaohui Yu",
        "Tao Sun", "Peng Zhao",
    ]
    assert m["container_name"] == "PLOS ONE"
    assert m["container_abbrev"] == "PLOS ONE"
    assert m["release_date"] == datetime.date(2019, 4, 22)  # "Apr 22, 2019"
    assert m["first_page"] == "e0213978"
    assert m["issue"] == "4"
    assert m["volume"] == "14"
    assert m["container_issn"] == "1932-6203"
    assert m["publisher"] == "Public Library of Science"
    assert m["release_type"] == "article-journal"
    assert any(
        "Reticuloendotheliosis virus sequences within the genomes" in r
        for r in m["raw_references"]
    )


def test_biblio_elife():
    m = extract_biblio(
        "https://elifesciences.org/articles/44753", _load("elife_article.html")
    )
    assert m["title"] == "Parallel visual circuitry in a basal chordate"
    assert m["doi"] == "10.7554/eLife.44753"
    assert m["contrib_names"] == [
        "Matthew J Kourakis", "Cezar Borba", "Angela Zhang",
        "Erin Newman-Smith", "Priscilla Salas", "B Manjunath",
        "William C Smith",
    ]
    assert m["container_name"] == "eLife"
    assert m["release_date"] == datetime.date(2019, 4, 18)
    assert m["publisher"] == "eLife Sciences Publications Limited"
    # anchor-pattern path (a[data-download-type='pdf-article'])
    assert m["pdf_fulltext_url"] == (
        "https://elifesciences.org/download/aHR0cHM6Ly9jZG4uZWxpZmVzY2llbmNl"
        "cy5vcmcvYXJ0aWNsZXMvNDQ3NTMvZWxpZmUtNDQ3NTMtdjIucGRm/"
        "elife-44753-v2.pdf?_hash=CfyqOqVryCR4OjcMTfcdpeIWAGZznmh9jXksYKYChCw%3D"
    )


def test_biblio_peerj():
    m = extract_biblio("http://example.org", _load("peerj_oa_article.html"))
    assert m["title"] == (
        "The state of OA: a large-scale analysis of the prevalence and "
        "impact of Open Access articles"
    )
    assert m["doi"] == "10.7717/peerj.4375"
    assert m["contrib_names"] == [
        "Heather Piwowar", "Jason Priem", "Vincent Larivière",
        "Juan Pablo Alperin", "Lisa Matthias", "Bree Norlander",
        "Ashley Farley", "Jevin West", "Stefanie Haustein",
    ]
    assert m["container_name"] == "PeerJ"
    assert m["release_date"] == datetime.date(2018, 2, 13)
    assert m["xml_fulltext_url"] and ".xml" in m["xml_fulltext_url"]


def test_biblio_nature():
    m = extract_biblio("http://example.org", _load("nature_article.html"))
    assert m["title"] == (
        "More than 100 scientific journals have disappeared from the Internet"
    )
    assert m["doi"] == "10.1038/d41586-020-02610-z"
    assert m["contrib_names"] == ["Diana Kwon"]
    assert m["container_name"] == "Nature"
    assert m["release_date"] == datetime.date(2020, 9, 10)
    assert m["publisher"] == "Nature Publishing Group"


def test_biblio_ojs3():
    m = extract_biblio(
        "http://example.org", _load("first_monday_ojs3_landingpage.html")
    )
    assert m["title"] == "Surveillance, stigma & sociotechnical design for HIV"
    assert m["doi"] == "10.5210/fm.v25i10.10274"
    assert m["contrib_names"] == [
        "Calvin Liang", "Jevan Alexander Hutson", "Os Keyes",
    ]
    assert m["container_name"] == "First Monday"
    assert m["container_abbrev"] == "1"  # bad source metadata, pinned
    assert m["container_issn"] == "1396-0466"
    assert m["release_date"] == datetime.date(2020, 9, 10)  # "2020/09/10"
    assert m["lang"] == "en"
    assert m["release_type"] == "article-journal"
    assert m["html_fulltext_url"] == (
        "https://firstmonday.org/ojs/index.php/fm/article/view/10274/9729"
    )


def test_biblio_dlib():
    m = extract_biblio("http://example.org", _load("dlib_05vanhyning.html"))
    assert m["doi"] == "10.1045/may2017-vanhyning"
    assert m["release_date"] == datetime.date(2017, 5, 15)


def test_biblio_dc_case_insensitive():
    snippet = """
    <html><head>
      <meta name="DC.Citation.Issue" content="123"/>
    </head><body>Hi.</body></html>"""
    m = extract_biblio("http://example.org", snippet)
    assert m["issue"] == "123"


def test_biblio_edge_cases():
    # no <head> → None (reference returns None with a WARN)
    assert extract_biblio("http://x.org", "<body>hi</body>") is None
    assert extract_biblio("http://x.org", None) is None
    # doi: prefix strip (html_metadata.py:928-929)
    m = extract_biblio(
        "http://x.org",
        '<head><meta name="citation_doi" content="doi:10.1/a"></head>',
    )
    assert m["doi"] == "10.1/a"
    # raw-identifier promotion only when no direct doi (:931-941)
    m = extract_biblio(
        "http://x.org",
        '<head><meta name="dc.identifier" content="10.22/b"></head>',
    )
    assert m["doi"] == "10.22/b"
    # don't-link-to-self deferral: citation_pdf_url equal to the page
    # falls back to the next matching pattern, else self (:869-872)
    m = extract_biblio(
        "https://x.org/p.pdf",
        '<head><meta name="citation_pdf_url" content="https://x.org/p.pdf">'
        "</head>",
    )
    assert m["pdf_fulltext_url"] == "https://x.org/p.pdf"
    # skip lists (:760-770): doi.org links are never fulltext
    m = extract_biblio(
        "https://x.org/article",
        '<head><meta name="citation_pdf_url" content="https://doi.org/10.1/x">'
        "</head>",
    )
    assert "pdf_fulltext_url" not in m


def test_parse_release_date():
    d = datetime.date(2019, 4, 22)
    for raw in ["2019-04-22", "2019/04/22", "Apr 22, 2019", "April 22, 2019",
                "22 April 2019", "20190422", "2019-04-22T10:00:00Z"]:
        assert parse_release_date(raw) == d, raw
    assert parse_release_date("not a date") is None
    assert parse_release_date(None) is None
    assert parse_release_date("2019-13-45") is None


def test_html_to_biblio_spark(spark):
    rows = [
        (1, "https://j.example.org/a/1",
         '<html><head><meta name="citation_title" content="T one">'
         '<meta name="citation_doi" content="doi:10.1/one">'
         '<meta name="citation_author" content="A One">'
         '<meta name="citation_author" content="B One">'
         '<meta name="citation_publication_date" content="2020-01-02">'
         '<meta name="citation_pdf_url" content="pdf/one.pdf">'
         "</head></html>"),
        (2, "https://j.example.org/a/2", "<body>no head</body>"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, url string, html string")
    out = {
        r["doc_id"]: r
        for r in html_to_biblio(df, "doc_id", "html", "url").collect()
    }
    b1 = out[1]["biblio"]
    assert b1["title"] == "T one"
    assert b1["doi"] == "10.1/one"
    assert b1["contrib_names"] == ["A One", "B One"]
    assert b1["release_date"] == datetime.date(2020, 1, 2)
    assert b1["pdf_fulltext_url"] == "https://j.example.org/a/pdf/one.pdf"
    assert out[2]["biblio"]["title"] is None


def test_selector_tokenizer_edge_cases():
    """Attr values containing '.' (eprints.document_url) must not split
    the compound; classes/ids/attr-chains parse as CSS does."""
    from sandcrawler_spark.operators.biblio import _Compound

    c = _Compound("meta[name='eprints.document_url']")
    assert c.tag == "meta" and c.attrs == [("name", "eprints.document_url")]
    c = _Compound("a[target='_blank'].button--primary")
    assert c.attrs == [("target", "_blank")]
    assert c.classes == ["button--primary"]
    c = _Compound("a.file.pdf")
    assert c.tag == "a" and c.classes == ["file", "pdf"]

    m = extract_biblio(
        "http://r.example.org/x",
        "<html><head><meta name='eprints.document_url' "
        "content='http://r.example.org/files/1.pdf'></head></html>",
    )
    assert m["pdf_fulltext_url"] == "http://r.example.org/files/1.pdf"
