"""Publisher-specific fulltext-URL tricks — the reference's
``extract_fulltext_url`` (``python/sandcrawler/html.py:17-343``), the
landing-page → PDF/next-hop URL heuristics ``ingest_file.py`` tries
BEFORE the generic html_biblio selector path (whose port lives in
``operators/biblio.py``). ~25 publisher arms, each of the same shape:
a URL-substring guard, then either a URL rewrite, a body-substring
gate, or a body regex/element extraction.

Spark-first: the whole ladder is ONE priority-ordered
``F.coalesce(F.when(...))`` chain over (url, html) — pure Catalyst
(regexp_extract / replace / split / contains / get_json_object), no
Python, no shuffle, codegen-friendly. The reference's BeautifulSoup
element lookups (iframe src, input[name=redirectURL], a#pdfDown,
script#app-data, OJS galley links) are modeled as anchored regexes
over the raw HTML in the markup shapes the reference's own inline
examples document — the same approach ``operators/scope.py`` takes for
html_guess_platform. Entity decoding where the reference relies on
bs4's (&amp; / &#xA; in the CNKI href) is explicit regexp_replace.

Mirrored exactly, in reference order, first match wins (every arm
returns; guard-but-no-match arms fall THROUGH, like the reference's
``if m:`` blocks):

researchsquare (:51-59), elsevier linkinghub (:61-72), sciencedirect
JSON munge (:74-101), sciencedirect bounce (:103-111), ieeexplore
document (:113-120) and stamp iframe (:121-127), ovid (:129-138), OSF
domain family (:140-171), wiley pdfdirect (:173-179), arxiv /abs→/pdf
(:181-184), americanarchivist direct + href (:186-202), protocols.io
(:204-208), degruyter (:210-214), ahajournals (:227-235), ehp.niehs
(:237-247, the reference's "nigh" typo in the technique string kept),
cogentoa (:249-255), chemrxiv/figshare app-data JSON (:257-268), CNKI
pdfDown href (:270-281), RWTH record (:283-288), physchemaspects
(:290-296), OJS galley (:298-304), e-periodica (:306-310), jmir
(:312-316), Google Drive (:318-327), docs.google viewer (:329-334),
and the generic url+".pdf"-in-body guess (:336-341). The
journals.lww.com arm is dead code in the reference (``and False``,
:216-225) and is omitted here with this note.

Divergences, all documented: (1) bs4 ``soup.find`` scans any attribute
order; the regex stand-ins anchor the attribute orders shown in the
reference's own inline HTML examples. (2) ``urllib.parse.unquote``
(linkinghub) is Spark ``try_url_decode``, which additionally maps '+'
to space — callers with literal '+' in redirect URLs would differ.
(3) americanarchivist/physchemaspects take the FIRST matching anchor;
the reference's find_all loop does too (it returns inside the loop).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

OSF_DOMAINS = [
    "://osf.io/",
    "://biohackrxiv.org/",
    "://psyarxiv.com/",
    "://arabixiv.org/",
    "://engrxiv.org/",
    "://edarxiv.org//",
    "://ecsarxiv.org/",
    "://ecoevorxiv.org/",
    "://frenxiv.org/",
    "://indiarxiv.org/",
    "://mindrxiv.org/",
    "://mediarxiv.org/",
    "://paleorxiv.org/",
    "://thesiscommons.org/",
]

_RESULT_FIELDS = ("pdf_url", "next_url", "release_stage", "technique")


def _r(pdf_url=None, next_url=None, release_stage=None, technique=None) -> Column:
    n = F.lit(None).cast("string")
    return F.struct(
        (pdf_url if pdf_url is not None else n).alias("pdf_url"),
        (next_url if next_url is not None else n).alias("next_url"),
        (F.lit(release_stage) if release_stage else n).alias("release_stage"),
        (F.lit(technique) if technique else n).alias("technique"),
    )


def fulltext_url_tricks(df: DataFrame) -> DataFrame:
    """Adds (pdf_url, next_url, release_stage, technique) columns to a
    (url, html) frame; all null when no arm fires (the reference's
    empty dict)."""
    u = F.col("url")
    h = F.col("html")
    host = F.regexp_extract(u, r"^(.*?://[^/]*)", 1)

    def ext(pat: str, src: Column = None) -> Column:
        return F.regexp_extract(h if src is None else src, pat, 1)

    def attr(pat: str) -> Column:
        """Attribute-value extract with bs4's entity decoding made
        explicit for the entities the publisher arms actually carry
        (&amp; — the CNKI arm additionally strips &#xA; itself)."""
        return F.replace(ext(pat), F.lit("&amp;"), F.lit("&"))

    def has(sub: str) -> Column:
        return u.contains(sub)

    arms: list[tuple[Column, Column]] = []

    # research square (html.py:51-59)
    rs = ext(r'"url":"(https://assets.researchsquare.com/files/.{1,50}/v\d+/Manuscript.pdf)"')
    arms.append((
        has("researchsquare.com/article/") & (rs != ""),
        _r(pdf_url=rs, release_stage="manuscript", technique="publisher"),
    ))

    # elsevier linkinghub (:61-72) — input[name=redirectURL] value
    lh = attr(r'<input type="hidden" name="redirectURL" value="([^"]*)"')
    lh_url = F.element_at(F.split(F.try_url_decode(lh), r"\?via"), 1)
    arms.append((
        has("://linkinghub.elsevier.com/retrieve/pii/") & lh.contains("http"),
        _r(next_url=lh_url, technique="elsevier-linkinghub"),
    ))

    # sciencedirect JSON munge (:74-101)
    sd_json = ext(r'<script type="application/json" data-iso-key="_0">(.*?)</script>')
    sd_ext = F.get_json_object(sd_json, "$.article.pdfDownload.urlMetadata.pdfExtension")
    sd_md5 = F.get_json_object(sd_json, "$.article.pdfDownload.urlMetadata.queryParams.md5")
    sd_pid = F.get_json_object(sd_json, "$.article.pdfDownload.urlMetadata.queryParams.pid")
    arms.append((
        has("sciencedirect.com/science/article/pii/")
        & ~u.endswith(".pdf")
        & sd_ext.isNotNull() & sd_md5.isNotNull() & sd_pid.isNotNull(),
        _r(
            pdf_url=F.concat(u, sd_ext, F.lit("?md5="), sd_md5, F.lit("&pid="), sd_pid),
            technique="sciencedirect-munge-json",
        ),
    ))

    # sciencedirect PDF bounce page (:103-111)
    sd_bounce = ext(r"window.location = '(http.*)';")
    arms.append((
        has("://www.sciencedirect.com/") & u.endswith(".pdf") & (sd_bounce != ""),
        _r(pdf_url=sd_bounce, technique="sciencedirect-bounce"),
    ))

    # ieeexplore document (:113-120)
    ieee = ext(r'"pdfPath":"(/.*?\.pdf)"')
    arms.append((
        has("://ieeexplore.ieee.org/document/") & (ieee != ""),
        _r(pdf_url=F.concat(host, ieee), release_stage="published", technique="ieeexplore"),
    ))

    # ieeexplore stamp iframe (:121-127) — first iframe, src must have .pdf
    ifr = attr(r'<iframe[^>]*\bsrc="([^"]*)"')
    arms.append((
        has("://ieeexplore.ieee.org/stamp/stamp.jsp?arnumber") & ifr.contains(".pdf"),
        _r(pdf_url=ifr, technique="iframe"),
    ))

    # ovid (:129-138)
    ovid = ext(r'journalURL = "(http.*)";')
    arms.append((
        has("://insights.ovid.com/crossref") & (ovid != ""),
        _r(next_url=ovid, technique="ovid"),
    ))

    # OSF family (:140-171)
    osf_dom = F.lit(False)
    for d in OSF_DOMAINS:
        osf_dom = osf_dom | has(d)
    n_seg = F.size(F.split(u, "/"))
    arms.append((
        osf_dom
        & (n_seg.isin(4, 5) | has("/preprints/"))
        & ~has("/download"),
        _r(
            next_url=F.when(u.endswith("/"), F.concat(u, F.lit("download")))
            .otherwise(F.concat(u, F.lit("/download"))),
            technique="osf-by-url",
        ),
    ))

    # wiley (:173-179)
    arms.append((
        has("://onlinelibrary.wiley.com/doi/pdf/") & h.contains("/doi/pdfdirect/"),
        _r(
            next_url=F.replace(u, F.lit("/doi/pdf/"), F.lit("/doi/pdfdirect/")),
            technique="wiley-pdfdirect",
        ),
    ))

    # arxiv (:181-184)
    arms.append((
        has("://arxiv.org/abs/"),
        _r(pdf_url=F.replace(u, F.lit("/abs/"), F.lit("/pdf/")), technique="arxiv-url"),
    ))

    # american archivist (:186-202): direct guess, then target=_blank href
    arms.append((
        has("://americanarchivist.org/doi/") & ~has("/doi/pdf") & has("/doi/10."),
        _r(
            pdf_url=F.replace(u, F.lit("/doi/10."), F.lit("/doi/pdf/10.")),
            technique="archivist-url",
        ),
    ))
    aa_href = attr(r'<a href="([^"]*/doi/pdf/[^"]*)" target="_blank"')
    aa_guard = has("://americanarchivist.org/doi/") & ~has("/doi/pdf")
    arms.append((
        aa_guard & aa_href.startswith("http"),
        _r(pdf_url=aa_href, technique="publisher-href"),
    ))
    arms.append((
        aa_guard & aa_href.startswith("/"),
        _r(pdf_url=F.concat(host, aa_href), technique="publisher-href"),
    ))

    # protocols.io (:204-208)
    arms.append((
        has("://www.protocols.io/view/") & ~u.endswith(".pdf"),
        _r(pdf_url=F.concat(u, F.lit(".pdf")), technique="protocolsio-url"),
    ))

    # degruyter (:210-214)
    arms.append((
        has("://www.degruyter.com/view/") & u.endswith(".xml"),
        _r(
            pdf_url=F.replace(
                F.replace(u, F.lit("/view/"), F.lit("/downloadpdf/")),
                F.lit(".xml"), F.lit(".pdf"),
            ),
            technique="degruyter-url",
        ),
    ))

    # ahajournals (:227-235)
    arms.append((
        has("://www.ahajournals.org/doi/") & ~has("/doi/pdf/") & h.contains("/doi/pdf/10."),
        _r(
            pdf_url=F.concat(
                F.replace(u, F.lit("/doi/10."), F.lit("/doi/pdf/10.")),
                F.lit("?download=true"),
            ),
            technique="ahajournals-url",
        ),
    ))

    # ehp.niehs.nih.gov (:237-247) — technique typo kept verbatim
    arms.append((
        has("://ehp.niehs.nih.gov/doi/") & h.contains("/doi/pdf/10."),
        _r(
            pdf_url=F.replace(
                F.replace(u, F.lit("/doi/full/10."), F.lit("/doi/pdf/10.")),
                F.lit("/doi/10."), F.lit("/doi/pdf/10."),
            ),
            technique="ehp.niehs.nigh.gov-url",
        ),
    ))

    # cogentoa (:249-255)
    arms.append((
        has("://www.cogentoa.com/article/") & ~has(".pdf"),
        _r(pdf_url=F.concat(u, F.lit(".pdf")), technique="cogentoa-url"),
    ))

    # chemrxiv / figshare app-data JSON (:257-268)
    fs_json = ext(r'<script id="app-data" type="text/json">(.*?)</script>')
    fs_url = F.get_json_object(fs_json, "$.article.exportPdfDownloadUrl")
    arms.append((
        (has("://chemrxiv.org/articles/") | has(".figshare.org/articles/"))
        & fs_url.startswith("http"),
        _r(pdf_url=fs_url, technique="figshare-json"),
    ))

    # CNKI pdfDown href (:270-281) — bs4 entity-decode made explicit
    cnki_raw = attr(r'<a[^>]*\bid="pdfDown"[^>]*\bhref="([^"]*)"')
    cnki = F.trim(
        F.replace(
            F.replace(cnki_raw, F.lit("&#xA;"), F.lit("")),
            F.lit("&amp;"), F.lit("&"),
        )
    )
    arms.append((
        has("://en.gzbd.cnki.net/KCMS/detail/detail.aspx") & (cnki_raw != ""),
        _r(
            pdf_url=F.when(cnki.startswith("http"), cnki).otherwise(F.concat(host, cnki)),
            technique="cnki-href",
        ),
    ))

    # RWTH Aachen (:283-288)
    rwth_id = F.element_at(F.split(u, "/"), -1)
    rwth_url = F.concat(u, F.lit("/files/"), rwth_id, F.lit(".pdf"))
    arms.append((
        has("://publications.rwth-aachen.de/record/")
        & rwth_id.rlike(r"^[0-9]+$")
        & h.contains(rwth_url),
        _r(pdf_url=rwth_url, technique="rwth-aachen-url"),
    ))

    # physchemaspects (:290-296) — anchor whose text is the exact label
    pca = attr(r'<a href="([^"]*)"[^>]*>download PDF file</a>')
    arms.append((
        has("://physchemaspects.ru/") & (pca != ""),
        _r(
            pdf_url=F.when(pca.startswith("/"), F.concat(host, pca)).otherwise(pca),
            technique="physchemaspects-href",
        ),
    ))

    # OJS galley (:298-304)
    gen = F.trim(ext(r'<meta name="generator" content="([^"]*)"'))
    ojs_href = attr(r'<a[^>]*\bclass="obj_galley_link file"[^>]*\bhref="([^"]*)"')
    ojs_text = ext(r'<a[^>]*\bclass="obj_galley_link file"[^>]*>([^<]*)</a>')
    arms.append((
        gen.startswith("Open Journal Systems")
        & (ojs_href != "")
        & F.lower(ojs_text).contains("pdf"),
        _r(
            pdf_url=F.when(ojs_href.startswith("/"), F.concat(host, ojs_href)).otherwise(ojs_href),
            technique="ojs-galley-href",
        ),
    ))

    # e-periodica (:306-310)
    ep_url = F.element_at(
        F.split(F.replace(u, F.lit("digbib/view"), F.lit("cntmng")), "#"), 1
    )
    arms.append((
        has("://www.e-periodica.ch/digbib/view") & h.contains(ep_url),
        _r(pdf_url=ep_url, technique="href-eperiodica"),
    ))

    # jmir (:312-316)
    arms.append((
        has(".jmir.org/") & ~has("/pdf") & u.endswith("/"),
        _r(pdf_url=F.concat(u, F.lit("pdf")), technique="jmir-url"),
    ))

    # Google Drive (:318-327) — F.get is OOB-null-safe (ANSI mode)
    gd_id = F.get(F.split(u, "/"), 5)
    arms.append((
        has("drive.google.com/file/d/") & has("/view") & (F.length(gd_id) > 10),
        _r(
            pdf_url=F.concat(F.lit("https://drive.google.com/uc?export=download&id="), gd_id),
            technique="google-drive",
        ),
    ))

    # docs.google viewer (:329-334)
    dg = F.try_element_at(F.split(u, r"\?url="), F.lit(2))
    arms.append((
        has("docs.google.com/viewer?url=") & dg.isNotNull() & (dg != ""),
        _r(pdf_url=dg, technique="docs.google.com viewer"),
    ))

    # generic guess (:336-341)
    guess = F.concat(u, F.lit(".pdf"))
    arms.append((
        ~has(".pdf") & h.contains(guess),
        _r(pdf_url=guess, technique="guess-url-plus-pdf"),
    ))

    result = F.coalesce(*[F.when(cond, res) for cond, res in arms], _r())
    out = df.withColumn("_ft", result)
    for f in _RESULT_FIELDS:
        out = out.withColumn(f, F.col(f"_ft.{f}"))
    return out.drop("_ft")


# ingest_file.py:166-180 — loginwall/paywall URL substrings; hitting one
# with no extractable fulltext link is 'blocked-wall', not 'no-pdf-link'
WALL_BLOCKLIST = [
    "://profile.thieme.de/HTML/sso/ejournals/login.htm",
    "://login.bepress.com/",
    "?SAMLRequest=",
    "://osapublishing.org/captcha/",
    "/password-login",
    "://gateway.isiknowledge.com/",
    "/login?TARGET=",
    "jstage.jst.go.jp/sblogin",
    "://acw.elsevier.com/SSOCore",
    "://acw.sciencedirect.com/SSOCore",
    "/login?source=",
]


def pdf_hop_decision(df: DataFrame, biblio_pdf_col: str | None = None) -> DataFrame:
    """The pdf-ingest next-hop decision on a (url, html, hops) resource
    (``ingest_file.py:772-809``): html_biblio's pdf_fulltext_url wins
    when present (technique ``html_biblio``, :775-779), else the
    :func:`fulltext_url_tricks` ladder; nothing found → ``blocked-wall``
    if the terminal URL carries a wall substring (:786-789), else
    ``no-pdf-link`` (:791-792); a found link is cleaned
    (misc.py clean_url → the repo's ``canonical_url_udf``, the same
    kernel the frontier uses) and checked against the hop chain
    (``link-loop``, :804-806); otherwise status ``next-hop`` with the
    link appended to ``hops`` (:808) — ready to join back into the
    frontier as the next round's fetch.

    Adds: ``hop_status``, ``hop_next_url`` (cleaned; null unless a link
    was found), ``hop_technique``, ``hops_out`` (appended only on
    next-hop). One scan; the only Python is the URL-clean pandas UDF.
    """
    from sandcrawler_spark.functions.urlkeys import canonical_url_udf

    out = fulltext_url_tricks(df)
    found = F.coalesce(F.col("pdf_url"), F.col("next_url"))
    technique = F.col("technique")
    if biblio_pdf_col is not None:
        bp = F.col(biblio_pdf_col)
        use_bp = bp.isNotNull() & (bp != "")
        found = F.when(use_bp, bp).otherwise(found)
        technique = F.when(use_bp, F.lit("html_biblio")).otherwise(technique)
    wall = F.lit(False)
    for b in WALL_BLOCKLIST:
        wall = wall | F.col("url").contains(b)
    nxt = canonical_url_udf(found)
    status = (
        F.when(found.isNull() & wall, F.lit("blocked-wall"))
        .when(found.isNull(), F.lit("no-pdf-link"))
        .when(F.array_contains(F.col("hops"), nxt), F.lit("link-loop"))
        .otherwise(F.lit("next-hop"))
    )
    return (
        out.withColumn("hop_status", status)
        .withColumn("hop_next_url", nxt)
        .withColumn("hop_technique", technique)
        .withColumn(
            "hops_out",
            F.when(
                status == "next-hop", F.array_append(F.col("hops"), nxt)
            ).otherwise(F.col("hops")),
        )
        .drop("pdf_url", "next_url", "release_stage", "technique")
    )
