"""HTML biblio-metadata extraction: the producer feeding the fuzzy-match
chain (J5 slug join + C9 author check + W4 cutoff).

Reference semantics (``python/sandcrawler/html_metadata.py``):

- ``html_extract_biblio`` (:886-955): for each biblio field, try a
  priority-ordered list of ``<head>`` meta-tag selectors and keep the
  first non-empty ``content`` (``HEAD_META_PATTERNS`` :23-158); list
  fields (authors, references, identifiers) collect ALL matches of the
  first selector that matches anything (``HEAD_META_LIST_PATTERNS``
  :160-179). Post-processing: strip a ``doi:`` prefix (:928-929),
  promote DOIs/ISBNs out of raw identifiers (:931-941), parse the raw
  date (:943-947), map raw release types (:949-953 via
  ``RELEASE_TYPE_MAP`` :249-252).
- ``html_extract_fulltext_url`` (:821-883): first pattern (in priority
  order) whose CSS selector matches an element in document order wins;
  honors ``in_doc_url`` / ``in_fulltext_url`` substring guards, the
  ``content=...URL=`` meta-refresh hack (:845-847), urljoin against the
  page URL (:852), the skip substring/prefix lists (:760-770), the
  don't-link-to-self deferral via ``url_fuzzy_equal`` (:869-872), and
  the dagstuhl trailing-slash quirk (:875-877). Pattern tables:
  ``PDF_FULLTEXT_PATTERNS`` :287-758, ``XML_FULLTEXT_PATTERNS``
  :181-232, ``HTML_FULLTEXT_PATTERNS`` :234-247 (first three entries;
  the publisher-specific tail is transcribed too),
  ``COMPONENT_FULLTEXT_PATTERNS`` (pensoft/dataverse).
- CSS attribute-value matching is case-insensitive in the reference's
  selector engine (selectolax/lexbor; pinned by its
  ``test_html_metadata_dc_case`` golden) — reproduced here.

Deliberate, documented divergences (environment: selectolax /
dateparser / pydantic are not in this container):

- The selector engine is a purpose-built matcher over a stdlib
  ``html.parser`` element stream. It supports compound selectors
  (``tag``, ``#id``, ``.class``, ``[attr='val']``, ``[attr]``) and
  descendant chains; the CSS child combinator ``>`` is treated as
  descendant (over-matches in rare nestings), and the single
  adjacent-sibling pattern (``img[...] + a``, aed.org.cn) is skipped.
- Date parsing handles the concrete formats observed in scholarly meta
  tags (ISO, slashed, ``Mon DD, YYYY``, ``DD Month YYYY``, bare year,
  14-digit timestamps) instead of dateparser's NLP fallback; an
  unrecognized format yields a null ``release_date`` (the reference
  would sometimes still fuzzy-parse it).
- The reference drops the extracted ``isbn`` on the floor (its
  ``BiblioMetadata`` model has only ``isbn13``, so pydantic discards
  the ``isbn`` key); we keep that behavior — no isbn column.

Spark form: one Arrow-batched pandas UDF returning a biblio struct —
HTML parsing is inherently per-row Python, so the batch boundary is the
right place for it; everything downstream (slug join, author check)
stays Catalyst-side.
"""

from __future__ import annotations

import datetime
import re
from html.parser import HTMLParser
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sandcrawler_spark.functions.urlkeys import url_fuzzy_equal

# --------------------------------------------------------------------------
# pattern tables (data transcribed from html_metadata.py; see module doc)
# --------------------------------------------------------------------------

# field -> priority-ordered (attr, value, extra-conditions) meta selectors.
# "n:" = meta[name=...], "p:" = meta[property=...], "i:" = meta[itemprop=...],
# "#:" = meta[id=...]; "|scheme=doi" appends an attribute-equality condition.
# html_metadata.py:23-158 (HEAD_META_PATTERNS).
_HEAD_META: dict[str, list[str]] = {
    "title": [
        "n:citation_title", "n:eprints.title", "n:prism.title",
        "n:bepress_citation_title", "n:og:title", "n:dcterms.title",
        "n:dc.title",
    ],
    "subtitle": ["n:prism.subtitle"],
    "doi": [
        "n:citation_doi", "n:doi", "#:doi", "n:prism.doi",
        "n:bepress_citation_doi", "n:dc.identifier.doi",
        "n:dc.identifier|scheme=doi",
    ],
    "pmid": ["n:citation_pmid"],
    "abstract": [
        "n:citation_abstract", "n:bepress_citation_abstract",
        "n:eprints.abstract", "n:dcterms.abstract", "n:prism.teaser",
        "n:dc.description", "n:og:description",
    ],
    "container_name": [
        "n:citation_journal_title", "n:bepress_citation_journal_title",
        "n:citation_conference_title", "n:bepress_citation_conference_title",
        "n:prism.publicationName", "n:eprints.publication",
        "n:dc.relation.ispartof", "n:dc.source", "p:og:site_name",
    ],
    "container_abbrev": ["n:citation_journal_abbrev"],
    "raw_date": [
        "n:citation_publication_date", "n:bepress_citation_publication_date",
        "n:prism.publicationDate", "n:citation_date",
        "n:bepress_citation_date", "n:citation_online_date",
        "n:bepress_citation_online_date", "i:datePublished",
        "n:article:published", "n:eprints.datestamp", "n:eprints.date",
        "n:dc.date.created", "n:dc.issued", "n:dcterms.date", "n:dc.date",
    ],
    "release_year": ["i:citation_year", "i:prism:copyrightYear"],
    "first_page": [
        "n:citation_firstpage", "n:bepress_citation_firstpage",
        "n:prism.startingPage", "n:dc.citation.spage",
    ],
    "last_page": [
        "n:citation_lastpage", "n:bepress_citation_lastpage",
        "n:prism.endingPage", "n:dc.citation.epage",
    ],
    "issue": [
        "n:citation_issue", "n:bepress_citation_issue",
        "n:prism.issueIdentifier", "n:dc.citation.issue",
    ],
    "volume": [
        "n:citation_volume", "n:bepress_citation_volume", "n:prism.volume",
        "n:dc.citation.volume",
    ],
    "number": [
        "n:citation_technical_report_number",
        "n:bepress_citation_technical_report_number", "n:citation_number",
        "n:bepress_citation_number", "n:prism.number",
    ],
    "container_issn": [
        "n:citation_issn", "n:bepress_citation_issn", "n:prism.issn",
        "n:prism.eissn", "n:eprints.issn", "n:dc.source.issn",
    ],
    "isbn": ["n:citation_isbn", "n:bepress_citation_isbn", "n:prism.isbn"],
    "publisher": [
        "n:citation_publisher", "n:bepress_citation_publisher",
        "n:eprints.publisher", "n:citation_technical_report_institution",
        "n:dcterms.publisher", "n:dc.publisher",
    ],
    "raw_release_type": [
        "n:citation_article_type", "n:bepress_citation_article_type",
        "n:prism.contentType", "n:eprints.type", "n:dc.type",
    ],
    "lang": [
        "n:citation_language", "n:bepress_citation_language",
        "n:dcterms.language", "n:dc.language", "n:og:locale",
    ],
}

# html_metadata.py:160-179 (HEAD_META_LIST_PATTERNS)
_HEAD_META_LIST: dict[str, list[str]] = {
    "contrib_names": [
        "n:citation_author", "n:bepress_citation_author",
        "n:eprints.creators_name", "n:dcterms.creator", "n:article:author",
        "n:dc.creator", "n:dc.contributor",
    ],
    "raw_references": ["n:citation_reference"],
    "raw_identifiers": [
        "n:eprints.id_number", "n:dcterms.identifier", "n:dc.identifier",
    ],
}

# Fulltext pattern tuples: (in_doc_url, selector, attr, in_fulltext_url).
# attr "@body" = element text (use_body). Priority order preserved.
# html_metadata.py:287-758 (PDF), :181-232 (XML), :234-247 (HTML),
# COMPONENT_FULLTEXT_PATTERNS. The aed.org.cn adjacent-sibling pattern
# is omitted (see module doc).
_PDF_PATTERNS: list[tuple] = [
    (None, "head meta[name='citation_pdf_url']", "content", None),
    (None, "head meta[name='bepress_citation_pdf_url']", "content", None),
    ("journals.lww.com", "head meta[name='wkhealth_pdf_url']", "content", None),
    (None, "head meta[property='citation_pdf_url']", "content", None),
    (None, "head meta[name='eprints.document_url']", "content", None),
    ("/doi/10.", "a.show-pdf", "href", "/doi/pdf/"),
    ("/doi/10.", "a[title='PDF']", "href", "/doi/pdf/"),
    ("/view/", "a#pdfDownloadLink", "href", None),
    (None, "a.show-pdf", "href", "/pdf/"),
    ("://elifesciences.org/articles/", "a[data-download-type='pdf-article']",
     "href", "/download/"),
    ("://www.jcancer.org/", ".divboxright a.text-button", "href", ".pdf"),
    ("://www.tandfonline.com/doi/full/10.", "a.show-pdf", "href", "/pdf/"),
    ("article_id=", "a.file.pdf", "href", "download.php"),
    ("/content/10.", "a.pdf[title='Download']", "href", "pdf"),
    (None, "embed[type='application/pdf']", "src", None),
    ("/archive-detail/", ".contact-list a.download-pdf", "href", ".pdf"),
    ("degruyter.com/document/", "a.downloadPdf", "href", "/pdf"),
    ("repositorio.unicamp.br/handle/", "table.panel-body a[target='_blank']",
     "href", "/bitstream/"),
    ("dlc.library.columbia.edu/durst/",
     "dd.blacklight-lib_non_item_in_context_url_ssm a[href]", "href", None),
    ("fldeploc.dep.state.fl.us/geodb_query/fgs_doi", "p a[href]", "href",
     "pdf"),
    ("preprints.jmir.org/preprint/", "a.pdf-download-button", "href", None),
    ("bloomsburycollections.com/", "li.download-item a[href]", "href", "pdf"),
    ("emerald.com/insight/content/", "a.intent_pdf_link", "href", "pdf"),
    ("ingentaconnect.com/content/", "a.pdf[data-popup]", "data-popup", "pdf"),
    ("library.wur.nl/", "a.wl_full_text_restricted", "href", "pdf"),
    ("/dlibra/", "iframe#js-main-frame", "src", "pdf"),
    ("/handle/", "table.misc table.inner tr.b a", "href", "pdf"),
    ("/publications/", ".publication-sidebar li.open-access a.document-link",
     "href", "pdf"),
    ("//hal", ".widget-openaccess .widget-content a", "href", None),
    ("/record/", "#detailedrecordminipanelfile a", "href", "pdf"),
    ("/available/", "table.file-table a", "href", "pdf"),
    ("/islandora/", "a.islandora-pdf-link", "href", "pdf"),
    ("/receive/", ".mir-preview noscript a", "href", "pdf"),
    ("/registro.do", ".resumen_bib a[data-analytics='media']", "href",
     "imagenes"),
    ("/view", ".documentContent #content a", "href", "/at_download/"),
    ("isca-speech.org/", ".w3-container a", "href", "pdf"),
    ("://repository.dri.ie/", "#dri_download_assets > div > a", "href",
     "/download"),
    ("frontiersin.org/", "a.download-files-pdf", "href", "pdf"),
    ("cureus.com/", ".small-medium-pdf a.pdf-download-button", "href", "pdf"),
    ("e-manuscripta.ch/", "#titleinfoPdfDownload a.resourceLink", "href",
     "pdf"),
    ("journals.uchicago.edu", "nav.article__navbar a.ctrl--pdf", "href",
     "pdf"),
    ("integrityresjournals.org", "a[target='_blank'].btn-danger", "href",
     "/article-full-text-pdf/"),
    ("/view/", "body.pkp_page_article a.download", "href", "/download/"),
    ("/article/view/", "a.pdf", "href", "/article/"),
    ("scitemed.com/article/", "li.tab_pdf_btn a", "href", ".pdf"),
    ("://doaj.org/article/",
     "section.col-md-8 a[target='_blank'].button--primary", "href", None),
    ("/jvi.aspx",
     "div.siteMainWrapper div.siteArticleShare a[target='_blank'].list-group-item",
     "href", "download_fulltext"),
    (None, "body embed[alt='pdf']", "src", None),
    ("/view/", "frameset frame", "src", "viewPDFInterstitial"),
    ("viewPDFInterstitial", "head meta[http-equiv='refresh']", "content",
     "://"),
    ("dlib.si/details/", "body #FilesBox a", "href", "PDF"),
    ("filclass.ru", "main .pdf-article a.pdficon", "href", "pdf"),
    ("cdnsciencepub.com", "article .info-panel a.btn--pdf", "href", "pdf"),
    ("grrjournal.com", ".ereaders-main-section a[download]", "href", "pdf"),
    ("/view/", "#articleFullText a.remote_pdf", "href", "pdf"),
    ("worldscientific.com/doi/abs/", "article.container .single__download a",
     "href", "/reader/"),
    ("worldscientific.com/doi/", "noscript a[target='_blank']", "href",
     "/pdf/"),
    (None, ".container .view-content .download-article a", "href", "pdf"),
    (None, "body a.download-pdf", "href", "pdf"),
    ("/view/", "body .entry_details a.pdf", "href", "/view/"),
    ("/view/", "body header a.download", "href", "/download/"),
]

_XML_PATTERNS: list[tuple] = [
    (None, "meta[name='citation_xml_url']", "content", None),
    (None, "meta[name='fulltext_xml']", "content", None),
    (None, "link[rel='alternate'][type='application/xml']", "href", None),
    (None, "link[rel='alternate'][type='text/xml']", "href", None),
    ("scielo", "a[target='xml']", "href", "articleXML"),
    ("/view/", "a[class='obj_galley_link']", "href", "viewXML"),
    (None, "a[title='XML']", "href", "/download/xml/"),
    (None, "a[title='xml']", "href", ".xml"),
]

_HTML_PATTERNS: list[tuple] = [
    (None, "meta[name='citation_fulltext_html_url']", "content", None),
    (None, "link[rel='alternate'][type='text/html']", "href", None),
    ("/article/view/", "iframe[name='htmlFrame']", "src", "inline=1"),
    ("dovepress.com", "a[id='view-full-text']", "href", "-fulltext-"),
    ("://doaj.org/article/",
     "section.col-md-8 a[target='_blank'].button--primary", "href", None),
]

_COMPONENT_PATTERNS: list[tuple] = [
    ("pensoft.net/article/",
     ".Main-Content .figure a.P-Article-Preview-Picture-Download-Small",
     "href", "/download/fig/"),
    ("/file.xhtml?persistentId", "div.form-group code", "@body",
     "/access/datafile/"),
]

# html_metadata.py:760-770
_URL_SKIP_SUBSTR = (
    "://onlinelibrary.wiley.com/doi/pdf/", "://doi.org/", "://dx.doi.org/",
    "{'embed': '",
)
_URL_SKIP_PREFIX = ("javascript:", "about:")

# html_metadata.py:249-252
_RELEASE_TYPE_MAP = {
    "research article": "article-journal",
    "text.serial.journal": "article-journal",
}

# tags collected as body-text carriers for "@body" patterns
_BODY_TEXT_TAGS = {"code"}
_VOID_TAGS = {
    "area", "base", "br", "col", "embed", "hr", "img", "input", "link",
    "meta", "param", "source", "track", "wbr", "frame",
}


# --------------------------------------------------------------------------
# mini selector engine
# --------------------------------------------------------------------------

class _Compound:
    """One compound selector: tag + #id + .classes + [attr(='val')]."""

    __slots__ = ("tag", "id", "classes", "attrs")

    # brackets first (their contents may hold '.', '#'), then .class /
    # #id / bare tag segments
    _TOKEN_RE = re.compile(r"\[([^\]]*)\]|([.#]?)([^.#\[]+)")

    def __init__(self, token: str) -> None:
        self.tag: str | None = None
        self.id: str | None = None
        self.classes: list[str] = []
        self.attrs: list[tuple[str, str | None]] = []
        for m in self._TOKEN_RE.finditer(token):
            if m.group(1) is not None:
                val = m.group(1)
                if "=" in val:
                    k, v = val.split("=", 1)
                    self.attrs.append((k.lower(), v.strip("'\"").lower()))
                else:
                    self.attrs.append((val.lower(), None))
            elif m.group(2) == ".":
                self.classes.append(m.group(3).lower())
            elif m.group(2) == "#":
                self.id = m.group(3).lower()
            else:
                self.tag = m.group(3).lower()

    def matches(self, el: "_El") -> bool:
        if self.tag and el.tag != self.tag:
            return False
        if self.id and el.id != self.id:
            return False
        for c in self.classes:
            if c not in el.classes:
                return False
        for k, v in self.attrs:
            if k not in el.attrs:
                return False
            if v is not None and (el.attrs[k] or "").lower() != v:
                return False
        return True


def _parse_selector(sel: str) -> list[_Compound] | None:
    """Selector string -> descendant chain of compounds; None if the
    selector uses unsupported syntax (adjacent sibling)."""
    if "+" in sel:
        return None
    toks = [t for t in sel.replace(">", " ").split() if t]
    return [_Compound(t) for t in toks]


_SEL_CACHE: dict[str, list[_Compound] | None] = {}


def _sel(sel: str) -> list[_Compound] | None:
    out = _SEL_CACHE.get(sel)
    if out is None and sel not in _SEL_CACHE:
        out = _SEL_CACHE[sel] = _parse_selector(sel)
    return out


class _El:
    __slots__ = ("tag", "attrs", "classes", "id", "ancestors", "in_head",
                 "text")

    def __init__(self, tag: str, attrs: dict, ancestors: tuple) -> None:
        self.tag = tag
        self.attrs = attrs
        self.classes = set((attrs.get("class") or "").lower().split())
        self.id = (attrs.get("id") or "").lower() or None
        self.ancestors = ancestors  # outermost-first tuple of _El
        self.in_head = any(a.tag == "head" for a in ancestors) or tag == "head"
        self.text: list[str] | None = (
            [] if tag in _BODY_TEXT_TAGS else None
        )


class _DocParser(HTMLParser):
    """Single pass: element stream in document order, with ancestor
    snapshots for descendant-selector matching."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.elements: list[_El] = []
        self._stack: list[_El] = []

    def _open(self, tag: str, attrs) -> _El:
        a = {}
        for k, v in attrs:
            a.setdefault(k.lower(), v if v is not None else "")
        el = _El(tag, a, tuple(self._stack))
        self.elements.append(el)
        return el

    def handle_starttag(self, tag: str, attrs) -> None:
        el = self._open(tag, attrs)
        if tag not in _VOID_TAGS:
            self._stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        self._open(tag, attrs)

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self._stack) - 1, -1, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data: str) -> None:
        for el in self._stack:
            if el.text is not None:
                el.text.append(data)


def _css_first(elements: list[_El], chain: list[_Compound],
               head_only: bool = False) -> _El | None:
    last = chain[-1]
    for el in elements:
        if head_only and not el.in_head:
            continue
        if not last.matches(el):
            continue
        # ancestors must match the leading compounds in order
        ai = 0
        ok = True
        for comp in chain[:-1]:
            while ai < len(el.ancestors) and not comp.matches(
                el.ancestors[ai]
            ):
                ai += 1
            if ai >= len(el.ancestors):
                ok = False
                break
            ai += 1
        if ok:
            return el
    return None


def _css_all(elements: list[_El], chain: list[_Compound],
             head_only: bool = False) -> list[_El]:
    out = []
    last = chain[-1]
    for el in elements:
        if head_only and not el.in_head:
            continue
        if last.matches(el):
            if len(chain) == 1:
                out.append(el)
            else:
                ai = 0
                ok = True
                for comp in chain[:-1]:
                    while ai < len(el.ancestors) and not comp.matches(
                        el.ancestors[ai]
                    ):
                        ai += 1
                    if ai >= len(el.ancestors):
                        ok = False
                        break
                    ai += 1
                if ok:
                    out.append(el)
    return out


# --------------------------------------------------------------------------
# head-meta extraction
# --------------------------------------------------------------------------

def _meta_chain(spec: str) -> list[_Compound]:
    """'n:citation_title|scheme=doi' -> compiled meta compound."""
    spec, _, extra = spec.partition("|")
    kind, _, val = spec.partition(":")
    attr = {"n": "name", "p": "property", "i": "itemprop", "#": "id"}[kind]
    c = _Compound("meta")
    c.attrs.append((attr, val.lower()))
    if extra:
        k, v = extra.split("=", 1)
        c.attrs.append((k.lower(), v.lower()))
    return [c]


_META_CHAINS: dict[str, list[_Compound]] = {}


def _compiled_meta(spec: str) -> list[_Compound]:
    out = _META_CHAINS.get(spec)
    if out is None:
        out = _META_CHAINS[spec] = _meta_chain(spec)
    return out


_MONTHS = {
    m.lower(): i + 1
    for i, m in enumerate(
        ["January", "February", "March", "April", "May", "June", "July",
         "August", "September", "October", "November", "December"]
    )
}
for _m, _i in list(_MONTHS.items()):
    _MONTHS[_m[:3]] = _i


def parse_release_date(raw: str | None) -> datetime.date | None:
    """Deterministic stand-in for dateparser.parse(...).date()
    (html_metadata.py:943-947); see module doc for coverage."""
    if not raw:
        return None
    s = raw.strip()
    m = re.match(r"^(\d{4})[-/\.](\d{1,2})[-/\.](\d{1,2})", s)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
    else:
        m = re.match(r"^(\d{1,2})[-/\.](\d{1,2})[-/\.](\d{4})$", s)
        if m:
            d, mo, y = int(m.group(1)), int(m.group(2)), int(m.group(3))
        else:
            m = re.match(r"^([A-Za-z]+)\.?\s+(\d{1,2}),?\s+(\d{4})$", s)
            if m and m.group(1).lower() in _MONTHS:
                mo, d, y = _MONTHS[m.group(1).lower()], int(m.group(2)), \
                    int(m.group(3))
            else:
                m = re.match(r"^(\d{1,2})\.?\s+([A-Za-z]+)\.?\s+(\d{4})$", s)
                if m and m.group(2).lower() in _MONTHS:
                    d, mo, y = int(m.group(1)), _MONTHS[m.group(2).lower()], \
                        int(m.group(3))
                else:
                    m = re.match(r"^(\d{4})(\d{2})(\d{2})", s)
                    if m and len(s) in (8, 14) and s.isdigit():
                        y, mo, d = int(m.group(1)), int(m.group(2)), \
                            int(m.group(3))
                    else:
                        return None
    try:
        return datetime.date(y, mo, d)
    except ValueError:
        return None


def _extract_fulltext_url(doc_url: str, elements: list[_El],
                          patterns: list[tuple]) -> str | None:
    """html_extract_fulltext_url (html_metadata.py:821-883)."""
    self_doc_url: str | None = None
    for in_doc, sel, attr, in_ft in patterns:
        if in_doc and in_doc not in doc_url:
            continue
        chain = _sel(sel)
        if chain is None:
            continue
        head_only = False
        if chain and chain[0].tag == "head":
            chain = chain[1:]
            head_only = True
        if not chain:
            continue
        el = _css_first(elements, chain, head_only=head_only)
        if el is None:
            continue
        if attr == "@body":
            val = " ".join("".join(el.text or []).split())
            if "://" not in val:
                continue
        else:
            val = el.attrs.get(attr)
            if val and attr == "content" and "URL=" in val:
                val = val.split("URL=")[1]
        if not val:
            continue
        val = urljoin(doc_url, val)
        if in_ft and in_ft not in val:
            continue
        low = val.lower()
        if any(p in low for p in _URL_SKIP_SUBSTR):
            continue
        if any(low.startswith(p) for p in _URL_SKIP_PREFIX):
            continue
        if url_fuzzy_equal(doc_url, val):
            # don't link to self, unless no other options
            self_doc_url = self_doc_url or val
            continue
        if "drops.dagstuhl.de" in doc_url and val.endswith(".pdf/"):
            val = val[:-1]
        return val
    return self_doc_url


def extract_biblio(doc_url: str, html: str | None) -> dict | None:
    """Pure kernel: html_extract_biblio (html_metadata.py:886-955).
    Returns a flat dict of biblio fields, or None for a page with no
    <head> (or unparseable HTML)."""
    if not html:
        return None
    p = _DocParser()
    try:
        p.feed(html)
        p.close()
    except Exception:
        return None
    elements = p.elements
    if not any(e.tag == "head" for e in elements):
        return None

    meta: dict = {}
    for field, specs in _HEAD_META.items():
        for spec in specs:
            el = _css_first(elements, _compiled_meta(spec), head_only=True)
            if el is not None and el.attrs.get("content"):
                meta[field] = el.attrs["content"]
                break
    for field, specs in _HEAD_META_LIST.items():
        for spec in specs:
            els = _css_all(elements, _compiled_meta(spec), head_only=True)
            if els:
                vals = [e.attrs["content"] for e in els
                        if e.attrs.get("content")]
                if vals:
                    meta[field] = vals
                break

    for key, pats in (
        ("pdf_fulltext_url", _PDF_PATTERNS),
        ("xml_fulltext_url", _XML_PATTERNS),
        ("html_fulltext_url", _HTML_PATTERNS),
        ("component_url", _COMPONENT_PATTERNS),
    ):
        url = _extract_fulltext_url(doc_url, elements, pats)
        if url:
            meta[key] = url

    if meta.get("doi", "").startswith("doi:"):
        meta["doi"] = meta["doi"][4:]

    for ident in meta.pop("raw_identifiers", []):
        if ident.startswith("doi:10."):
            meta.setdefault("doi", ident.replace("doi:", ""))
        elif ident.startswith("10.") and "/" in ident:
            meta.setdefault("doi", ident)
        # note: 'isbn:' identifiers are promoted to an 'isbn' key in the
        # reference and then silently dropped by its pydantic model;
        # reproduced by dropping them here.

    meta.pop("isbn", None)

    raw_date = meta.pop("raw_date", None)
    if raw_date:
        parsed = parse_release_date(raw_date)
        if parsed:
            meta["release_date"] = parsed

    raw_release_type = meta.pop("raw_release_type", None)
    if raw_release_type:
        rt = _RELEASE_TYPE_MAP.get(raw_release_type.lower().strip())
        if rt:
            meta["release_type"] = rt

    ry = meta.get("release_year")
    if ry is not None:
        try:
            meta["release_year"] = int(str(ry).strip())
        except ValueError:
            meta.pop("release_year")

    return meta


# --------------------------------------------------------------------------
# Spark form
# --------------------------------------------------------------------------

_STR_FIELDS = [
    "title", "subtitle", "doi", "pmid", "abstract", "container_name",
    "container_abbrev", "first_page", "last_page", "issue", "volume",
    "number", "container_issn", "publisher", "release_type", "lang",
    "pdf_fulltext_url", "xml_fulltext_url", "html_fulltext_url",
    "component_url",
]

BIBLIO_TYPE = T.StructType(
    [T.StructField(f, T.StringType()) for f in _STR_FIELDS]
    + [
        T.StructField("release_date", T.DateType()),
        T.StructField("release_year", T.IntegerType()),
        T.StructField("contrib_names", T.ArrayType(T.StringType())),
        T.StructField("raw_references", T.ArrayType(T.StringType())),
    ]
)


@F.pandas_udf(BIBLIO_TYPE)
def extract_biblio_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    rows = []
    empty = {f.name: None for f in BIBLIO_TYPE.fields}
    for u, h in zip(url, html):
        meta = extract_biblio(u or "", h)
        if meta is None:
            rows.append(dict(empty))
        else:
            rows.append({**empty, **{k: v for k, v in meta.items()
                                     if k in empty}})
    return pd.DataFrame(rows, columns=[f.name for f in BIBLIO_TYPE.fields])


def html_to_biblio(df: DataFrame, id_col: str, html_col: str,
                   url_col: str) -> DataFrame:
    """(id, html, url) -> (id, biblio struct). Arrow-batched; scales by
    partition count, no shuffle (narrow map)."""
    return df.select(
        F.col(id_col),
        extract_biblio_udf(F.col(url_col), F.col(html_col)).alias("biblio"),
    )


# --------------------------------------------------------------------------
# metadata quality gate (reference: python/scripts/filter_grobid_metadata.py)
# --------------------------------------------------------------------------

# the 9 inline denylist literals from filter_grobid_metadata.py:9-21;
# the reference extends these with python/title_slug_denylist.txt (554
# data rows) — that file is corpus DATA, so it is not vendored here and
# filter_biblio_metadata applies only the inline literals.
TITLE_DENYLIST_INLINE = (
    "editorial",
    "advertisement",
    "bookreviews",
    "reviews",
    "nr",
    "abstractoriginalarticle",
    "originalarticle",
    "impactfactor",
    "articlenumber",
)

NAME_DENYLIST = ("phd", "phdstudent")  # filter_grobid_metadata.py:24-28

_JOURNAL_PREFIXES = (
    "/ ", "~ ", "& ", "© ",
    "Original Research Article ", "Original Article ",
    "Research Article ", "Available online www.jocpr.com ",
)
_JOURNAL_SUFFIXES = (
    " Available online at www.sciarena.com", " Original Article",
    " Available online at", " ISSN", " ISSUE",
)


def _ascii_slug(col):
    """``tokenize(s, remove_whitespace=True)``
    (filter_grobid_metadata.py:30-40): keep alphabetic chars, lowercase,
    drop whitespace, then ASCII-encode with replacement and strip the
    '?' placeholders — the net effect is "ASCII letters only", which is
    one Catalyst regexp_replace."""
    return F.regexp_replace(F.lower(col), "[^a-z]", "")


def filter_biblio_metadata(df: DataFrame) -> DataFrame:
    """The reference's GROBID-metadata quality gate
    (``python/scripts/filter_grobid_metadata.py:46-160``) as one pure
    Catalyst projection + filter — the stage between metadata
    extraction and the fuzzy-match chain that drops junk titles
    ("Impact Factor: 2.114", ISSN banners, spaced-out letterings),
    scrubs author names, and normalizes journal names.

    Rows are KEPT iff (a) title and authors are present on input
    (``filter_metadata`` :146-148) and (b) the title survives
    ``filter_title`` (:46-89). Authors/journal are cleaned in place;
    a row whose authors all get scrubbed keeps its (empty) list,
    exactly like the reference (:155 filters the list but never
    re-checks it).

    Faithfully mirrored reference BUG: the title prefix-strip loop
    (:60-62) discards its ``str.replace`` result, so "Title: " /
    "Original Article: " prefixes are NOT stripped — reproduced here
    as a no-op (with this note instead of code) for byte parity.

    Scale: pure projection/filter — no shuffle, no Python; the
    inline denylist rides the plan as an ``isin`` literal set. 100-TB
    verdict: scan-rate bound.
    """
    t = F.trim(F.col("title"))
    slug = _ascii_slug(t)
    words = F.split(t, r"\s+")
    single = F.size(F.filter(words, lambda w: F.length(w) == 1))
    title_ok = (
        F.col("title").isNotNull()
        & (F.length(t) <= 500)
        & (F.length(slug) >= 10)
        & ~slug.isin(*TITLE_DENYLIST_INLINE)
        & ~slug.startswith("nr")
        & ~F.replace(F.lower(t), F.lit("."), F.lit("")).startswith("int j ")
        & ~t.startswith("The Journal of ")
        & ~(slug.contains("volume") & slug.contains("issue"))
        & ~slug.contains("downloadedfrom")
        & ~slug.startswith("issn")
        & (F.size(words) <= 50) & (F.size(words) >= 2)
        & (single <= 12)
        & (F.regexp_count(t, F.lit(r":")) <= 3)
        & (F.regexp_count(t, F.lit(r"\|")) <= 1)
        & (F.regexp_count(t, F.lit(r"\.")) <= 1)
    )

    # authors: drop denylisted full names, keep only tokens containing
    # an ASCII letter, re-join, require len > 1  (:92-100)
    def _clean_name(n):
        joined = F.array_join(
            F.filter(F.split(F.trim(n), r"\s+"), lambda w: w.rlike("[a-zA-Z]")),
            " ",
        )
        return F.when(
            F.replace(F.lower(F.trim(n)), F.lit(" "), F.lit("")).isin(*NAME_DENYLIST),
            F.lit(None).cast("string"),
        ).otherwise(joined)

    authors_clean = F.filter(
        F.transform(F.col("authors"), _clean_name),
        lambda n: n.isNotNull() & (F.length(n) > 1),
    )

    # journal: e-ISSN/p-ISSN scrub → slug/deny/len gates → sequential
    # prefix/suffix replace-all (the reference uses str.replace, which
    # hits ALL occurrences — mirrored via F.replace) → banner/length
    # gates → whitespace normalization  (:107-140)
    j = F.replace(
        F.replace(F.col("journal"), F.lit(" e-ISSN"), F.lit("")),
        F.lit(" p-ISSN"), F.lit(""),
    )
    jslug = _ascii_slug(j)
    bad_j = (
        F.col("journal").isNull()
        | jslug.isin(*TITLE_DENYLIST_INLINE)
        | (F.length(jslug) < 4)
        | (j == "N.º")
    )
    # sequential conditional replaces MUST be folded via F.aggregate
    # (one higher-order expression, evaluated iteratively): a python
    # loop of when(...).otherwise(j) duplicates the whole accumulated
    # tree per step — 13 steps ≈ 2^13 expression copies, which stalls
    # Catalyst optimization outright (measured: a 11-row job spun the
    # JVM for >10 min before this fold)
    j = F.aggregate(
        F.array(*[F.lit(p) for p in _JOURNAL_PREFIXES]),
        j,
        lambda acc, p: F.when(acc.startswith(p), F.replace(acc, p, F.lit("")))
        .otherwise(acc),
    )
    j = F.aggregate(
        F.array(*[F.lit(s) for s in _JOURNAL_SUFFIXES]),
        j,
        lambda acc, s: F.when(acc.endswith(s), F.replace(acc, s, F.lit("")))
        .otherwise(acc),
    )
    bad_j = bad_j | j.contains("====================") | (F.length(j) > 150)
    journal_clean = F.when(bad_j, F.lit(None).cast("string")).otherwise(
        F.array_join(F.filter(F.split(j, r"\s+"), lambda w: w != ""), " ")
    )

    return (
        df.filter(
            F.col("title").isNotNull()
            & F.col("authors").isNotNull()
            & (F.size("authors") > 0)
        )
        .filter(title_ok)
        .withColumn("title", t)
        .withColumn("authors", authors_clean)
        .withColumn("journal", journal_clean)
    )
