"""Goldens for the GROBID TEI / Crossref-refs operators (operators/tei.py):
an in-repo GROBID TEI fixture carrying the header and first citation of
the reference suite's 23b29ea…85.xml, the reference's own
clean_crossref_unstructured vectors (grobid.py:38-72), every branch of
should_parse_crossref_ref, and the per-work cap of crossref_refs_prep.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from sandcrawler_spark.operators import tei

FIXTURE = os.path.join(
    os.path.dirname(__file__), "fixtures", "grobid_railway_freight.tei.xml"
)


def test_tei_biblio_golden_fixture(spark):
    with open(FIXTURE) as f:
        xml_text = f.read()
    df = spark.createDataFrame(
        [("good", xml_text), ("bad", "<TEI><unclosed"), ("empty", None)],
        ["k", "tei_xml"],
    )
    rows = {r["k"]: r["biblio"] for r in tei.tei_biblio(df).collect()}
    good = rows["good"]
    assert good["status"] == "success"
    assert good["title"] == "DYNAMICS OF RAILWAY FREIGHT VEHICLES"
    assert good["authors"] == [
        "S Original Citation Iwnicki",
        "S Stichel",
        "A Orlova",
        "M Hecht",
    ]
    assert good["date"] == "2015"
    assert good["doi"] is None  # header biblStruct has no DOI idno
    assert good["grobid_version"] == "0.5.1-SNAPSHOT"
    assert good["grobid_timestamp"] == "2018-04-02T00:31+0000"
    assert good["language_code"] == "en"
    assert good["journal"].startswith("Dynamics of railway freight vehicles.")
    assert rows["bad"]["status"] == "bad-grobid-xml"
    assert rows["bad"]["title"] is None
    assert rows["empty"]["status"] == "bad-grobid-xml"


# the reference's own vectors (grobid.py:38-72)
CLEAN_VECTORS = [
    (
        "Qingyao Ai Keping Bi Cheng Luo Jiafeng Guo and W. Bruce Croft. "
        "2018. Unbiased Learning to Rank with Unbiased Propensity Estimation. "
        "(2018) 385–394.  Qingyao Ai Keping Bi Cheng Luo Jiafeng Guo and "
        "W. Bruce Croft. 2018. Unbiased Learning to Rank with Unbiased "
        "Propensity Estimation. (2018) 385–394.",
        "Qingyao Ai Keping Bi Cheng Luo Jiafeng Guo and W. Bruce Croft. "
        "2018. Unbiased Learning to Rank with Unbiased Propensity Estimation. "
        "(2018) 385–394.",
    ),
    (
        "J-B Champion, C.Collin, INSEE Premi&#232;re N&#176;1710 september "
        "2018 - National Institute of Statistics and Economic Studies",
        "J-B Champion, C.Collin, INSEE Première N°1710 september "
        "2018 - National Institute of Statistics and Economic Studies",
    ),
    (
        "https://graph500.org/.  https://graph500.org/.",
        "https://graph500.org/.",
    ),
    ("\xa0" * 15, ""),
    # marker-gating: '&copy;' alone is NOT unescaped (no &#/&amp;/&gt;/&lt;)
    ("Pub &copy; 2001", "Pub &copy; 2001"),
    # ... but is once an &amp; marker co-occurs
    ("Pub &copy; &amp; sons", "Pub © & sons"),
]


def test_clean_crossref_unstructured(spark):
    df = spark.createDataFrame([(i, r) for i, (r, _) in enumerate(CLEAN_VECTORS)], ["i", "raw"])
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", tei.clean_crossref_unstructured_col(F.col("raw")).alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(CLEAN_VECTORS):
        assert got[i] == want, i


# (DOI, unstructured, year, author, article_title, series_title,
#  volume_title, journal_title, volume, first_page) → expected
SHOULD_PARSE_VECTORS = [
    # has DOI → skip
    (("10.1/x", "a long unstructured citation", None, None, None, None, None, None, None, None), False),
    # unstructured ≤ 6 chars after strip → skip
    ((None, " short ", None, None, None, None, None, None, None, None), False),
    # year+author+article-title → structured enough
    ((None, "a long unstructured citation", "2001", "A", "T", None, None, None, None, None), False),
    # year+author+series-title
    ((None, "a long unstructured citation", "2001", "A", None, "S", None, None, None, None), False),
    # year+author+volume-title
    ((None, "a long unstructured citation", "2001", "A", None, None, "V", None, None, None), False),
    # year+author+journal-title
    ((None, "a long unstructured citation", "2001", "A", None, None, None, "J", None, None), False),
    # journal+volume+first-page
    ((None, "a long unstructured citation", None, None, None, None, None, "J", "12", "34"), False),
    # year+author but no title anywhere → parse
    ((None, "a long unstructured citation", "2001", "A", None, None, None, None, None, None), True),
    # unstructured only → parse
    ((None, "a long unstructured citation", None, None, None, None, None, None, None, None), True),
    # empty-string fields are falsy, like the reference's .get() truthiness
    (("", "a long unstructured citation", "", "", "", "", "", "", "", ""), True),
]

_REF_COLS = [
    "DOI", "unstructured", "year", "author", "article_title",
    "series_title", "volume_title", "journal_title", "volume", "first_page",
]


def test_should_parse_crossref_ref(spark):
    df = spark.createDataFrame(
        [(i, *v) for i, (v, _) in enumerate(SHOULD_PARSE_VECTORS)],
        ["i"] + _REF_COLS,
    )
    got = {
        r["i"]: r["p"]
        for r in df.select(
            "i",
            tei.should_parse_crossref_ref_col(*[F.col(c) for c in _REF_COLS]).alias("p"),
        ).collect()
    }
    for i, (_, want) in enumerate(SHOULD_PARSE_VECTORS):
        assert got[i] == want, i


def test_crossref_refs_prep_cap_and_filter(spark):
    rows = []
    # work A: 5 parseable refs (cap at 3 keeps positions 0,1,2), 1 with
    # DOI (dropped), 1 without unstructured (dropped)
    for pos in range(5):
        rows.append(("10.1/A", "2020-01-01", pos, f"k{pos}",
                     None, f"citation text number {pos}",
                     None, None, None, None, None, None, None, None))
    rows.append(("10.1/A", "2020-01-01", 5, "k5",
                 "10.9/ref", "already has a doi",
                 None, None, None, None, None, None, None, None))
    rows.append(("10.1/A", "2020-01-01", 6, "k6",
                 None, None,
                 None, None, None, None, None, None, None, None))
    # work B (mixed-case DOI): 1 parseable ref with a doubled string
    rows.append(("10.1/B.Mixed", "2021-06-01", 0, "kb",
                 None, "same ref.  same ref.",
                 None, None, None, None, None, None, None, None))
    schema = "work_doi string, indexed_ts string, position int, key string, " + ", ".join(
        f"{c} string" for c in _REF_COLS
    )
    df = spark.createDataFrame(rows, schema)
    out = tei.crossref_refs_prep(df, max_refs_per_work=3).collect()
    a = sorted([r for r in out if r["source_id"] == "10.1/a"], key=lambda r: r["position"])
    assert [r["key"] for r in a] == ["k0", "k1", "k2"]  # capped in order
    assert all(r["source"] == "crossref" for r in out)
    b = [r for r in out if r["source_id"] == "10.1/b.mixed"]
    assert len(b) == 1
    assert b[0]["clean_ref"] == "same ref."
    assert b[0]["source_ts"] == "2021-06-01"


def test_tei_body_words(spark):
    tei_ns = '<TEI xmlns="http://www.tei-c.org/ns/1.0">'
    vectors = [
        ("p", tei_ns + "<text><body><p>one two three</p><p>four</p></body></text></TEI>",
         "success", 4),
        # ElementTree quirk mirrored from the reference (ingest_html.py:68):
        # `if body:` is falsy for a childless element, so bare body text
        # counts zero words
        ("bare", tei_ns + "<text><body>bare text only</body></text></TEI>", "success", 0),
        ("nobody", tei_ns + "<text><p>no body at all</p></text></TEI>", "success", 0),
        ("broken", "<TEI><oops", "parse-error", None),
        ("empty", None, "empty-xml", None),
    ]
    df = spark.createDataFrame(
        [(k, x) for k, x, *_ in vectors], "k string, tei_xml string"
    )
    rows = {r["k"]: r["body"] for r in tei.tei_body_stats(df).collect()}
    for k, _, status, wc in vectors:
        assert rows[k]["status"] == status, k
        assert rows[k]["word_count"] == wc, k


def test_teixml2json_golden_fixture(spark):
    """tei_to_grobid_doc goldens, first pinned by running the
    reference's own grobid2json.py on its real GROBID fixture
    (differential run: zero field diffs, modulo the documented
    date-False → null divergence); the in-repo fixture carries the
    same header, first citation and citation count."""
    with open(FIXTURE) as f:
        xml_text = f.read()
    df = spark.createDataFrame(
        [("good", xml_text), ("bad", "<TEI><unclosed")], ["k", "tei_xml"]
    )
    rows = {r["k"]: r["doc"] for r in tei.tei_to_grobid_doc(df).collect()}
    assert rows["bad"]["status"] == "bad-tei"
    doc = rows["good"]
    assert doc["status"] == "ok"
    assert doc["title"] == "DYNAMICS OF RAILWAY FREIGHT VEHICLES"
    assert doc["date"] == "2015"
    assert doc["grobid_version"].startswith("0.")
    assert len(doc["authors"]) == 4
    assert doc["authors"][0]["surname"] == "Original Citation Iwnicki"
    assert doc["authors"][0]["given_name"] == "S"
    assert len(doc["citations"]) == 100
    c0 = doc["citations"][0]
    assert c0["index"] == 0 and c0["id"] == "b0"
    assert c0["title"].startswith("European freight vehicle running gear")
    assert c0["journal"] == "PartF, Journal of Rail and Rapid Transit"
    assert c0["authors"][0]["name"] == "M Hecht"
    assert c0["date"] == "2001" and c0["volume"] == "215"
    assert doc["abstract"].startswith(
        "This paper summarises the historical development"
    )
    assert doc["body"]  # encumbered fields present by default
    # --no-encumbered twin (remove_encumbered)
    clean = {
        r["k"]: r["doc"]
        for r in tei.tei_to_grobid_doc(df, encumbered=False).collect()
    }
    assert clean["good"]["abstract"] is None and clean["good"]["body"] is None
    assert clean["good"]["title"] == doc["title"]


def test_tei_to_release_chain(spark):
    """End-to-end: TEI XML → teixml2json doc → import-input projection
    → grobid_import_releases rows (the grobid2json →
    import_grobid_metadata pipeline as one plan)."""
    from sandcrawler_spark.operators.imports import grobid_import_releases

    xml = (
        '<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader>'
        "<encodingDesc><appInfo>"
        '<application version="0.9" when="2021-01-01T00:00:00Z"/>'
        "</appInfo></encodingDesc>"
        "<fileDesc><publicationStmt><publisher>PubCo</publisher>"
        "</publicationStmt><sourceDesc><biblStruct><analytic>"
        "<title>Chained Paper</title>"
        "<author><persName><forename>Ada</forename>"
        "<surname>Byron</surname></persName></author>"
        '<idno type="DOI">10.7/CHAIN</idno>'
        "</analytic><monogr><title>J Chain</title>"
        "<imprint>"
        '<date type="published" when="1999-12-31"/>'
        "</imprint></monogr></biblStruct></sourceDesc></fileDesc>"
        "<profileDesc><abstract><p>An abstract.</p></abstract></profileDesc>"
        "</teiHeader><text><back>"
        '<div type="references"><listBibl>'
        '<biblStruct xml:id="b0"><analytic><title>Cited One</title>'
        "<author><persName><forename>C</forename><surname>One</surname>"
        "</persName></author></analytic><monogr>"
        '<imprint><date type="published" when="2010-06" /></imprint>'
        '<biblScope unit="volume">7</biblScope></monogr>'
        '<ptr target="http://x.org/ref.Lastaccessed"/></biblStruct>'
        "</listBibl></div></back></text></TEI>"
    )
    df = spark.createDataFrame([(xml,)], ["tei_xml"])
    doc = tei.tei_to_grobid_doc(df)
    inp = tei.grobid_doc_to_import_input(doc)
    rows = grobid_import_releases(inp).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.title == "Chained Paper"
    assert r.contrib_names == ["Ada Byron"]
    assert r.extra_doi == "10.7/chain"
    assert r.extra_container_name == "J Chain"
    assert r.publisher == "PubCo"
    assert r.release_year == 1999
    assert str(r.release_date) == "1999-01-01"
    assert r.abstract_content == "An abstract."
    assert len(r.refs) == 1
    ref = r.refs[0]
    assert ref["key"] == "b0" and ref["title"] == "Cited One"
    assert ref["year"] == 2010 and ref["extra_volume"] == "7"
    assert ref["extra_url"] == "http://x.org/ref"  # .Lastaccessed corrected
    assert ref["extra_authors"] == ["C One"]
