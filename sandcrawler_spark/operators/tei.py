"""GROBID-output processing: TEI-XML header → biblio metadata, and the
Crossref reference-preparation pipeline.

Reference surface:

- ``python/sandcrawler/grobid.py:174-200`` (``GrobidClient.metadata``):
  parse the GROBID TEI-XML response and keep the biblio fields
  (title, authors, journal, date, doi) plus grobid_version /
  grobid_timestamp / language_code; an XML parse error turns the row
  into status 'bad-grobid-xml'. The reference delegates the parse to
  the ``grobid_tei_xml`` library (not in this container); here the
  header fields are extracted with stdlib ``xml.etree`` inside an
  Arrow-batched pandas UDF — golden-tested against the reference's
  real GROBID fixture
  (``python/tests/files/23b29ea…85.xml``). ``remove_encumbered()`` is
  N/A: only header metadata is read, never fulltext body.
- ``python/sandcrawler/grobid.py:17-37``
  (``clean_crossref_unstructured``): collapse an exact
  double-space-separated self-repetition, HTML-unescape only when one
  of the four entity markers is present, strip. The reference's
  ``raw.replace("  ", " ")`` on line 33 discards its result (a no-op);
  mirrored by simply not collapsing inner double spaces.
- ``python/sandcrawler/grobid.py:201-227``
  (``should_parse_crossref_ref``): skip refs that already carry a DOI,
  whose unstructured string is ≤ 6 chars after strip, or that have
  sufficient structured metadata (three alternative field
  combinations).
- ``python/sandcrawler/grobid.py:228-283`` (``crossref_refs``): from a
  Crossref work record, select the unstructured references that need
  GROBID parsing, cap at 2,000 per work preserving list order, clean
  each string, and emit rows keyed (source='crossref',
  source_id=lower(DOI), source_ts=indexed.date-time, key). The
  ``processCitationList`` HTTP hop itself is the external-service
  boundary (like wayback fetches) and is out of scope; this operator
  produces exactly the batch that call would consume.

Scale notes: the TEI parse is the only Python here (Arrow-batched, one
pass, no shuffle); cleaning and the should-parse predicate are pure
Catalyst; the 2,000-per-work cap is one keyed window (partial
top-k-able) — all linear, skew-free.
"""

from __future__ import annotations

import html as _html
import xml.etree.ElementTree as ET

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

_TEI_NS = "{http://www.tei-c.org/ns/1.0}"
_XML_NS = "{http://www.w3.org/XML/1998/namespace}"

TEI_BIBLIO_TYPE = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("journal", T.StringType()),
        T.StructField("date", T.StringType()),
        T.StructField("doi", T.StringType()),
        T.StructField("grobid_version", T.StringType()),
        T.StructField("grobid_timestamp", T.StringType()),
        T.StructField("language_code", T.StringType()),
    ]
)


def _parse_tei_header(xml_text: str | None) -> dict:
    bad = {
        "status": "bad-grobid-xml",
        "title": None,
        "authors": None,
        "journal": None,
        "date": None,
        "doi": None,
        "grobid_version": None,
        "grobid_timestamp": None,
        "language_code": None,
    }
    if not xml_text:
        return bad
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return bad
    header = root.find(f"{_TEI_NS}teiHeader")
    if header is None:
        return bad
    lang = header.get(f"{_XML_NS}lang")
    app = header.find(
        f"{_TEI_NS}encodingDesc/{_TEI_NS}appInfo/{_TEI_NS}application"
    )
    file_desc = header.find(f"{_TEI_NS}fileDesc")
    title_el = (
        file_desc.find(f"{_TEI_NS}titleStmt/{_TEI_NS}title")
        if file_desc is not None
        else None
    )
    date_el = (
        file_desc.find(f"{_TEI_NS}publicationStmt/{_TEI_NS}date")
        if file_desc is not None
        else None
    )
    bibl = (
        file_desc.find(f"{_TEI_NS}sourceDesc/{_TEI_NS}biblStruct")
        if file_desc is not None
        else None
    )
    authors: list[str] = []
    journal = None
    doi = None
    if bibl is not None:
        for pers in bibl.findall(
            f"{_TEI_NS}analytic/{_TEI_NS}author/{_TEI_NS}persName"
        ):
            parts = [
                (el.text or "").strip()
                for el in pers
                if el.tag in (f"{_TEI_NS}forename", f"{_TEI_NS}middlename", f"{_TEI_NS}surname")
            ]
            name = " ".join(p for p in parts if p)
            if name:
                authors.append(name)
        monogr_title = bibl.find(f"{_TEI_NS}monogr/{_TEI_NS}title")
        if monogr_title is not None and (monogr_title.text or "").strip():
            journal = monogr_title.text.strip()
        for idno in bibl.iter(f"{_TEI_NS}idno"):
            if (idno.get("type") or "").upper() == "DOI" and (idno.text or "").strip():
                doi = idno.text.strip()
                break
    date = None
    if date_el is not None:
        date = date_el.get("when") or (date_el.text or "").strip() or None
    return {
        "status": "success",
        "title": (title_el.text or "").strip() or None if title_el is not None else None,
        "authors": authors or None,
        "journal": journal,
        "date": date,
        "doi": doi,
        "grobid_version": app.get("version") if app is not None else None,
        "grobid_timestamp": app.get("when") if app is not None else None,
        "language_code": lang,
    }


@F.pandas_udf(TEI_BIBLIO_TYPE)
def parse_tei_biblio_udf(xml_text: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_parse_tei_header(x) for x in xml_text])


def tei_biblio(df: DataFrame) -> DataFrame:
    """grobid.py:174-200 over a DataFrame of TEI-XML strings (``tei_xml``): adds a
    ``biblio`` struct column (status='bad-grobid-xml' on parse error,
    field layout per to_legacy_dict's biblio subset)."""
    return df.withColumn("biblio", parse_tei_biblio_udf(F.col("tei_xml")))


_ENTITY_MARKERS = ["&#", "&amp;", "&gt;", "&lt;"]


@F.pandas_udf(T.StringType())
def _unescape_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: _html.unescape(x) if isinstance(x, str) else x)


def clean_crossref_unstructured_col(raw: Column) -> Column:
    """grobid.py:17-37 as column logic. Doubling-detect and strip stay
    in Catalyst; the (marker-gated) HTML unescape is the one
    vectorized-Python hop. Python's str.strip() removes all unicode
    whitespace (the reference's all-NBSP vector collapses to '');
    mirrored with a \\s|\\p{Z} regex trim."""
    subs = F.split(raw, "  ", -1)
    two = F.size(subs) == 2
    halved = F.when(
        two & (F.try_element_at(subs, F.lit(1)) == F.try_element_at(subs, F.lit(2))),
        F.try_element_at(subs, F.lit(1)),
    ).otherwise(F.array_join(subs, " "))
    marker = F.lit(False)
    for m in _ENTITY_MARKERS:
        marker = marker | halved.contains(m)
    unescaped = F.when(marker, _unescape_udf(halved)).otherwise(halved)
    return F.regexp_replace(unescaped, r"(^[\s\p{Z}]+)|([\s\p{Z}]+$)", "")


def _present(c: Column) -> Column:
    """Python truthiness of an optional string field."""
    return c.isNotNull() & (c != "")


def should_parse_crossref_ref_col(
    doi: Column,
    unstructured: Column,
    year: Column,
    author: Column,
    article_title: Column,
    series_title: Column,
    volume_title: Column,
    journal_title: Column,
    volume: Column,
    first_page: Column,
) -> Column:
    """grobid.py:201-227 as a when-chain predicate (True = send the
    ref's unstructured string to GROBID citation parsing)."""
    has_struct = (
        (
            _present(year)
            & _present(author)
            & (_present(article_title) | _present(series_title) | _present(volume_title))
        )
        | (_present(year) & _present(author) & _present(journal_title))
        | (_present(journal_title) & _present(volume) & _present(first_page))
    )
    return (
        ~_present(doi)
        & (F.length(F.trim(F.coalesce(unstructured, F.lit("")))) > 6)
        & ~has_struct
    )


def crossref_refs_prep(
    refs: DataFrame,
    max_refs_per_work: int = 2000,
) -> DataFrame:
    """grobid.py:228-283 minus the processCitationList HTTP hop: from a
    table of one row per (``work_doi``, ``indexed_ts``, position, key,
    ref fields), emit the batch that would be sent to GROBID —
    (source, source_id, source_ts, key, position, clean_ref) — with
    unstructured-missing and should-not-parse refs dropped and the
    2,000-per-work cap applied in list order (``refs`` must carry an
    integer ``position`` column; the reference truncates the Python
    list, i.e. keeps the first 2,000). The work-level DOI column must
    not be named ``doi`` — the per-ref field is ``DOI`` and Spark
    resolves names case-insensitively."""
    keep = should_parse_crossref_ref_col(
        F.col("DOI"),
        F.col("unstructured"),
        F.col("year"),
        F.col("author"),
        F.col("article_title"),
        F.col("series_title"),
        F.col("volume_title"),
        F.col("journal_title"),
        F.col("volume"),
        F.col("first_page"),
    )
    w = Window.partitionBy("work_doi").orderBy(F.col("position"))
    return (
        refs.filter(_present(F.col("unstructured")) & keep)
        .withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= max_refs_per_work)
        .select(
            F.lit("crossref").alias("source"),
            F.lower(F.col("work_doi")).alias("source_id"),
            F.col("indexed_ts").alias("source_ts"),
            F.col("key"),
            F.col("position"),
            clean_crossref_unstructured_col(F.col("unstructured")).alias("clean_ref"),
        )
    )


TEI_BODY_TYPE = T.StructType(
    [
        T.StructField("status", T.StringType()),
        T.StructField("word_count", T.IntegerType()),
    ]
)


def _tei_body_words(xml_text: str | None) -> dict:
    """teixml_body_text + the word count taken on it
    (ingest_html.py:50-51,64-72). Mirrors two reference behaviors
    exactly: a parse failure is an error status, and the ``if body:``
    truthiness test — an ElementTree Element with TEXT but no child
    elements is FALSY, so a childless body yields word_count 0 (the
    reference inherits this stdlib quirk; trafilatura bodies always
    have <p> children so it is latent there)."""
    if not xml_text:
        return {"status": "empty-xml", "word_count": None}
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return {"status": "parse-error", "word_count": None}
    body = root.find(f".//{_TEI_NS}body")
    if body:
        text = " ".join(body.itertext())
    else:
        text = ""
    return {"status": "success", "word_count": len(text.split())}


@F.pandas_udf(TEI_BODY_TYPE)
def tei_body_words_udf(xml_text: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_tei_body_words(x) for x in xml_text])


def tei_body_stats(df: DataFrame) -> DataFrame:
    """html_extract_body_teixml's downstream half over a DataFrame of
    TEI-XML strings (``tei_xml``; the trafilatura HTML→TEI conversion itself is an
    external library, out of scope like the media codecs): adds a
    ``body`` struct with (status, word_count) — the word_count that
    feeds html_guess_scope (ingest_html.py:414)."""
    return df.withColumn("body", tei_body_words_udf(F.col("tei_xml")))


def _tei_affiliations(xml_text: str | None) -> list[str] | None:
    """Raw affiliation strings from TEI header authors
    (grobid_affiliations.py:41-52): the reference parses the TEI, takes
    each author's structured affiliation, and keeps the unique ones
    (json.dumps set-dedup). Here the per-author <affiliation> element
    under analytic authors is flattened to its whitespace-normalized
    text (the "raw affiliation string" the script exists to harvest);
    uniqueness is preserved, output sorted (the reference's set order
    is hash-randomized — a sorted list is the deterministic
    equivalent)."""
    if not xml_text:
        return None
    try:
        root = ET.fromstring(xml_text)
    except ET.ParseError:
        return None
    affs: set[str] = set()
    for author in root.findall(
        f"{_TEI_NS}teiHeader/{_TEI_NS}fileDesc/{_TEI_NS}sourceDesc/"
        f"{_TEI_NS}biblStruct/{_TEI_NS}analytic/{_TEI_NS}author"
    ):
        aff = author.find(f"{_TEI_NS}affiliation")
        if aff is None:
            continue
        text = " ".join(" ".join(aff.itertext()).split())
        if text:
            affs.add(text)
    return sorted(affs) or None


@F.pandas_udf(T.ArrayType(T.StringType()))
def tei_affiliations_udf(xml_text: pd.Series) -> pd.Series:
    return xml_text.map(_tei_affiliations)


def tei_affiliations(
    df: DataFrame, xml_col: str = "tei_xml", id_col: str = "sha1hex"
) -> DataFrame:
    """grobid_affiliations.py end-to-end over a DataFrame of
    (sha1hex, tei_xml): one (id, affiliations) row per document that
    has at least one author affiliation — documents with none are
    dropped, exactly like the reference's ``if affiliations:`` print
    gate (:49-53). Arrow-batched single pass, no shuffle."""
    out = df.select(
        F.col(id_col).alias("sha1hex"),
        tei_affiliations_udf(F.col(xml_col)).alias("affiliations"),
    )
    return out.where(F.size("affiliations") > 0)


_S = T.StringType()
_GROBID_PERSON = T.StructType(
    [T.StructField(n, _S) for n in ("name", "given_name", "surname")]
)
GROBID_DOC_TYPE = T.StructType(
    [
        T.StructField("status", _S),
        T.StructField("grobid_version", _S),
        T.StructField("grobid_timestamp", _S),
        T.StructField("title", _S),
        T.StructField("authors", T.ArrayType(_GROBID_PERSON)),
        T.StructField(
            "journal",
            T.StructType(
                [
                    T.StructField(n, _S)
                    for n in ("name", "publisher", "issn", "eissn", "volume", "issue")
                ]
            ),
        ),
        T.StructField("date", _S),
        T.StructField("fatcat_release", _S),
        T.StructField("doi", _S),
        T.StructField(
            "citations",
            T.ArrayType(
                T.StructType(
                    [T.StructField("index", T.IntegerType())]
                    + [T.StructField(n, _S) for n in ("id", "title", "journal")]
                    + [T.StructField("authors", T.ArrayType(_GROBID_PERSON))]
                    + [
                        T.StructField(n, _S)
                        for n in ("publisher", "date", "volume", "issue", "url")
                    ]
                )
            ),
        ),
        T.StructField("abstract", _S),
        T.StructField("body", _S),
        T.StructField("acknowledgement", _S),
        T.StructField("annex", _S),
    ]
)

_NS = "http://www.tei-c.org/ns/1.0"


def _g2j_authors(elem) -> list[dict]:
    """grobid2json.py:33-40."""
    names = []
    for e in elem.findall(f".//{{{_NS}}}author/{{{_NS}}}persName"):
        given = e.findtext(f"./{{{_NS}}}forename") or None
        surname = e.findtext(f"./{{{_NS}}}surname") or None
        full = f"{given or ''} {surname or ''}".strip()
        names.append({"name": full, "given_name": given, "surname": surname})
    return names


def _g2j_text_or_none(root, xpath: str) -> str | None:
    """The reference's ``(el or None) and " ".join(el.itertext())``
    (grobid2json.py:124-132) — a CHILDLESS element is falsy in
    ElementTree, so text directly inside it is dropped; mirrored."""
    el = root.find(xpath)
    if el is None or len(el) == 0:
        return None
    return " ".join(el.itertext()).strip()


def _teixml2json(xml_text: str | None, encumbered: bool = True) -> dict:
    """grobid2json.py:87-134 (``teixml2json``) — the full-TEI dump →
    grobid-JSON document, the producer whose output
    ``import_grobid_metadata.py`` consumes. The reference raises on
    malformed TEI; here that's a 'bad-tei' status row. One deliberate
    typed-column divergence, documented: the reference assigns
    ``ref['date'] = (date != None) and date.attrib.get('when')`` which
    serializes a literal JSON ``false`` when the date element is
    absent; a string column has no false, so absent → null."""
    bad = {f.name: None for f in GROBID_DOC_TYPE.fields}
    bad["status"] = "bad-tei"
    if not xml_text:
        return bad
    try:
        tei = ET.fromstring(xml_text)
    except ET.ParseError:
        return bad
    header = tei.find(f".//{{{_NS}}}teiHeader")
    if header is None:
        return bad
    apps = header.findall(f".//{{{_NS}}}appInfo/{{{_NS}}}application")
    if not apps:  # reference: findall(...)[0] IndexError (:104)
        return bad
    info: dict = {"status": "ok"}
    info["grobid_version"] = apps[0].attrib.get("version")
    info["grobid_timestamp"] = apps[0].attrib.get("when")
    info["title"] = header.findtext(f".//{{{_NS}}}analytic/{{{_NS}}}title")
    bibl = header.find(f".//{{{_NS}}}sourceDesc/{{{_NS}}}biblStruct")
    info["authors"] = _g2j_authors(bibl) if bibl is not None else []
    journal = {  # grobid2json.py:43-53
        "name": header.findtext(f".//{{{_NS}}}monogr/{{{_NS}}}title"),
        "publisher": header.findtext(
            f".//{{{_NS}}}publicationStmt/{{{_NS}}}publisher"
        )
        or None,
        "issn": header.findtext(f'.//{{{_NS}}}idno[@type="ISSN"]'),
        "eissn": header.findtext(f'.//{{{_NS}}}idno[@type="eISSN"]'),
        "volume": header.findtext(f'.//{{{_NS}}}biblScope[@unit="volume"]'),
        "issue": header.findtext(f'.//{{{_NS}}}biblScope[@unit="issue"]'),
    }
    info["journal"] = journal
    date = header.find(f'.//{{{_NS}}}date[@type="published"]')
    info["date"] = date.attrib.get("when") if date is not None else None
    info["fatcat_release"] = header.findtext(f'.//{{{_NS}}}idno[@type="fatcat"]')
    doi = header.findtext(f'.//{{{_NS}}}idno[@type="DOI"]')
    info["doi"] = doi.lower() if doi else doi
    refs = []
    for i, bs in enumerate(
        tei.findall(f".//{{{_NS}}}listBibl/{{{_NS}}}biblStruct")
    ):
        # grobid2json.py:56-84 (biblio_info) incl. the title/journal
        # swap and the '.Lastaccessed' URL hand-correction
        ref: dict = {"index": i}
        ref["id"] = bs.attrib.get("{http://www.w3.org/XML/1998/namespace}id")
        ref["title"] = bs.findtext(f".//{{{_NS}}}analytic/{{{_NS}}}title")
        other_title = bs.findtext(f".//{{{_NS}}}monogr/{{{_NS}}}title")
        ref["journal"] = None
        if other_title:
            if ref["title"]:
                ref["journal"] = other_title
            else:
                ref["title"] = other_title
        ref["authors"] = _g2j_authors(bs)
        ref["publisher"] = (
            bs.findtext(f".//{{{_NS}}}publicationStmt/{{{_NS}}}publisher") or None
        )
        rdate = bs.find(f'.//{{{_NS}}}date[@type="published"]')
        ref["date"] = rdate.attrib.get("when") if rdate is not None else None
        ref["volume"] = bs.findtext(f'.//{{{_NS}}}biblScope[@unit="volume"]')
        ref["issue"] = bs.findtext(f'.//{{{_NS}}}biblScope[@unit="issue"]')
        ptr = bs.find(f".//{{{_NS}}}ptr[@target]")
        url = ptr.attrib["target"] if ptr is not None else None
        if url and url.endswith(".Lastaccessed"):
            url = url.replace(".Lastaccessed", "")
        ref["url"] = url
        refs.append(ref)
    info["citations"] = refs
    if encumbered:  # grobid2json.py:124-132, remove_encumbered's gate
        info["abstract"] = _g2j_text_or_none(
            tei, f".//{{{_NS}}}profileDesc/{{{_NS}}}abstract"
        )
        info["body"] = _g2j_text_or_none(tei, f".//{{{_NS}}}text/{{{_NS}}}body")
        info["acknowledgement"] = _g2j_text_or_none(
            tei, f'.//{{{_NS}}}back/{{{_NS}}}div[@type="acknowledgement"]'
        )
        info["annex"] = _g2j_text_or_none(
            tei, f'.//{{{_NS}}}back/{{{_NS}}}div[@type="annex"]'
        )
    else:
        info["abstract"] = info["body"] = None
        info["acknowledgement"] = info["annex"] = None
    return info


def tei_to_grobid_doc(df: DataFrame, encumbered: bool = True) -> DataFrame:
    """Full TEI → grobid-JSON document column (grobid2json.py's
    teixml2json as an Arrow-batched pass over ``tei_xml``): adds ``doc`` struct with
    header metadata, journal info, the indexed citation list, and —
    unless ``encumbered=False`` (the --no-encumbered flag /
    remove_encumbered) — abstract/body/acknowledgement/annex. The
    output struct is exactly the shape
    ``imports.grobid_import_releases`` consumes (after the
    ``grobid_doc_to_import_input`` projection)."""

    @F.pandas_udf(GROBID_DOC_TYPE)
    def parse(xml_text: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            [_teixml2json(x, encumbered=encumbered) for x in xml_text]
        )

    return df.withColumn("doc", parse(F.col("tei_xml")))


def grobid_doc_to_import_input(df: DataFrame) -> DataFrame:
    """Pure-Catalyst projection from the grobid-JSON ``doc`` struct to
    the flat input contract of ``imports.grobid_import_releases``
    (title/abstract/authors/date/doi/journal/citations): author
    structs flatten to their full names, the bare-year release date
    takes the leading 4 digits of the TEI 'when' attribute (the
    reference's date is already a year int in the dumps it imports)."""
    d = F.col("doc")
    return df.where(d["status"] == "ok").select(
        d["title"].alias("title"),
        d["abstract"].alias("abstract"),
        F.transform(d["authors"], lambda a: a["name"]).alias("authors"),
        F.substring(d["date"], 1, 4).try_cast("int").alias("date"),
        d["doi"].alias("doi"),
        F.struct(
            d["journal"]["name"].alias("name"),
            d["journal"]["publisher"].alias("publisher"),
            d["journal"]["volume"].alias("volume"),
            d["journal"]["issue"].alias("issue"),
        ).alias("journal"),
        F.transform(
            d["citations"],
            lambda c: F.struct(
                c["id"].alias("id"),
                c["title"].alias("title"),
                c["date"].alias("date"),
                c["volume"].alias("volume"),
                c["url"].alias("url"),
                c["issue"].alias("issue"),
                c["publisher"].alias("publisher"),
                F.transform(
                    c["authors"], lambda a: F.struct(a["name"].alias("name"))
                ).alias("authors"),
            ),
        ).alias("citations"),
    )
