"""Import-preparation battery (operators/imports.py + the TEI
affiliation harvest): deterministic fixtures synthesized from the
TPC-H tables, each with a DuckDB oracle that REPLAYS the transform
semantics (gates, or_none normalization, two-tier join funnel, year
parse, set-dedup) rather than echoing the fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from sandcrawler_spark.operators import imports as imp
from sandcrawler_spark.operators import tei
from sandcrawler_spark.queries.battery import _t

_CITES_T = (
    "array<struct<id:string,title:string,date:string,volume:string,"
    "url:string,issue:string,publisher:string,"
    "authors:array<struct<name:string>>>>"
)


def im_grobid_releases(spark, sf_dir):
    """import_grobid_metadata.py end-to-end: title gate (empty and
    null arms), 4096-char abstract cap, contrib flattening, citation
    refs with the [:4]-year parse (one unparseable arm), per-ref
    extras with truthiness gates, release_date from a bare year, and
    the lowercased-DOI / container_name / is_longtail_oa extra."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    title = (
        F.when(k % 13 == 0, F.lit(""))
        .when(k % 13 == 1, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("  Title "), ks, F.lit("  ")))
    )
    abstract = (
        F.when(k % 5 == 0, F.concat(F.lit("Abs "), ks))
        .when(k % 5 == 1, F.repeat(F.lit("x"), 5000))
        .otherwise(F.lit(None).cast("string"))
    )
    authors = (
        F.when(k % 3 == 0, F.array(F.concat(F.lit("A"), ks), F.concat(F.lit("B"), ks)))
        .when(k % 3 == 1, F.array().cast("array<string>"))
        .otherwise(F.lit(None).cast("array<string>"))
    )
    ref1 = F.struct(
        F.lit("c1").alias("id"),
        F.concat(F.lit(" T"), ks, F.lit(" ")).alias("title"),
        F.lit("2019-05").alias("date"),
        F.lit("7").alias("volume"),
        F.lit(None).cast("string").alias("url"),
        F.lit("").alias("issue"),
        F.lit(None).cast("string").alias("publisher"),
        F.array(
            F.struct(F.lit("N1").alias("name")), F.struct(F.lit("N2").alias("name"))
        ).alias("authors"),
    )
    ref2 = F.struct(
        F.lit("c2").alias("id"),
        F.lit(None).cast("string").alias("title"),
        F.lit("abcd").alias("date"),
        F.lit(None).cast("string").alias("volume"),
        F.concat(F.lit("http://r"), ks).alias("url"),
        F.lit(None).cast("string").alias("issue"),
        F.lit(None).cast("string").alias("publisher"),
        F.lit(None).cast("array<struct<name:string>>").alias("authors"),
    )
    cites = (
        F.when(k % 6 == 0, F.array(ref1, ref2))
        .when(k % 6 == 1, F.array().cast(_CITES_T))
        .otherwise(F.lit(None).cast(_CITES_T))
    )
    journal = F.struct(
        F.when(k % 7 != 0, F.concat(F.lit("J"), (k % 20).cast("string"))).alias("name"),
        F.when(k % 2 == 0, F.lit("Pub")).alias("publisher"),
        F.when(k % 4 == 0, F.lit("9")).alias("volume"),
        F.lit(None).cast("string").alias("issue"),
    )
    src = p.select(
        title.alias("title"),
        abstract.alias("abstract"),
        authors.alias("authors"),
        F.when(k % 4 == 0, (1990 + k % 30).cast("int")).alias("date"),
        F.when(k % 2 == 0, F.concat(F.lit("10.5/G"), ks)).alias("doi"),
        journal.alias("journal"),
        cites.alias("citations"),
    )
    out = imp.grobid_import_releases(src)
    r1 = F.try_element_at(F.col("refs"), F.lit(1))
    return out.select(
        # every surviving row's title is 'Title <k>' — recover the key
        F.regexp_extract("title", r"Title (\d+)", 1).cast("int").alias("k"),
        "title",
        F.try_element_at("contrib_names", F.lit(1)).alias("contrib1"),
        F.size("contrib_names").alias("n_contribs"),
        "publisher",
        "volume",
        "abstract_content",
        "release_type",
        "release_year",
        "release_date",
        F.size("refs").alias("n_refs"),
        r1["key"].alias("ref1_key"),
        r1["title"].alias("ref1_title"),
        r1["year"].alias("ref1_year"),
        r1["extra_volume"].alias("ref1_volume"),
        r1["extra_issue"].alias("ref1_issue"),
        # driver boundary rule: scalars only (the driver's pandas
        # canonicalizer cannot sort list cells) — join the author list
        F.when(
            r1["extra_authors"].isNotNull(),
            F.concat_ws("|", r1["extra_authors"]),
        ).alias("ref1_authors"),
        "extra_doi",
        "extra_container_name",
        "is_longtail_oa",
    )


def im_manifest_matches(spark, sf_dir):
    """manifest_converter.py end-to-end: ≥1-DOI and ≥1-URL inner
    gates, or_none('', '\\N', '-') on mimetype/size/md5, bigint size
    cast, sorted doi list and index-aligned cdx url/dt lists."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 6000)
    k = F.col("o_orderkey")
    ks = k.cast("string")
    files_meta = o.select(
        F.concat(F.lit("S"), ks).alias("sha1"),
        F.when(k % 4 == 0, F.lit("application/pdf"))
        .when(k % 4 == 1, F.lit(""))
        .when(k % 4 == 2, F.lit("\\N"))
        .otherwise(F.lit("-"))
        .alias("mimetype"),
        F.when(k % 3 == 0, ks).when(k % 3 == 1, F.lit("-")).alias("size_bytes"),
        F.when(k % 5 == 0, F.md5(ks)).otherwise(F.lit("")).alias("md5"),
    )
    d1 = o.where(k % 2 == 0).select(
        F.concat(F.lit("S"), ks).alias("sha1"),
        F.concat(F.lit("10.1/b"), ks).alias("doi"),
    )
    d2 = o.where((k % 2 == 0) & (k % 6 == 0)).select(
        F.concat(F.lit("S"), ks).alias("sha1"),
        F.concat(F.lit("10.1/a"), ks).alias("doi"),
    )
    urls1 = o.where(k % 3 != 1).select(
        F.concat(F.lit("S"), ks).alias("sha1"),
        F.concat(F.lit("http://u"), ks, F.lit("/x")).alias("url"),
        F.lit("20170801000000").alias("datetime"),
    )
    urls2 = o.where(k % 9 == 0).select(
        F.concat(F.lit("S"), ks).alias("sha1"),
        F.concat(F.lit("http://u"), ks, F.lit("/a")).alias("url"),
        F.lit("20170901000000").alias("datetime"),
    )
    out = imp.manifest_matches(
        files_meta, d1.unionByName(d2), urls1.unionByName(urls2)
    )
    # scalars-only output boundary: lists are sorted/index-aligned by
    # the operator, so a '|' join is deterministic
    return out.select(
        "sha1", "mimetype", "size", "md5",
        F.concat_ws("|", "dois").alias("dois"),
        F.concat_ws("|", "cdx_urls").alias("cdx_urls"),
        F.concat_ws("|", "cdx_dts").alias("cdx_dts"),
    )


def im_cdx_sha1hex(spark, sf_dir):
    """fetch_cdx_sha1hex.py end-to-end: db short-circuit, wayback URL
    parse (bad-timestamp and non-wayback arms), original-URL dedup,
    api match on (url, sha1hex), and the 4-status funnel."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    sha = F.md5(ks)
    wb = F.concat(
        F.lit("https://web.archive.org/web/20190101000000/http://orig"),
        ks,
        F.lit("/p"),
    )
    bad_wb = F.lit("https://web.archive.org/web/*/http://star")
    plain = F.concat(F.lit("http://plain"), ks)
    urls = F.when(k % 5 == 0, F.array(plain, bad_wb)).otherwise(
        F.array(wb, bad_wb, plain, wb)  # dup wayback → distinct originals
    )
    entities = c.select(sha.alias("sha1hex"), urls.alias("urls"))
    cdx_db = c.where(k % 7 == 0).select(
        sha.alias("sha1hex"),
        F.concat(F.lit("http://db"), ks).alias("url"),
        F.lit("20180101000000").alias("dt"),
    )
    api_match = c.where(k % 3 == 0).select(
        F.concat(F.lit("http://orig"), ks, F.lit("/p")).alias("url"),
        sha.alias("sha1hex"),
        F.lit("20190101000000").alias("dt"),
    )
    api_wrong_digest = c.where(k % 3 == 1).select(
        F.concat(F.lit("http://orig"), ks, F.lit("/p")).alias("url"),
        F.lit("0000deadbeef").alias("sha1hex"),
        F.lit("20190101000000").alias("dt"),
    )
    out = imp.cdx_sha1hex_resolve(
        entities, cdx_db, api_match.unionByName(api_wrong_digest)
    )
    # scalars-only output boundary; found_urls is sorted by the
    # operator, empty array joins to ''
    return out.select(
        "sha1hex", "status", "n_cdx_rows",
        F.concat_ws("|", "found_urls").alias("found_urls"),
    )


def bib_tei_affiliations(spark, sf_dir):
    """grobid_affiliations.py end-to-end: per-author <affiliation>
    harvest with whitespace-normalized raw strings, set-dedup (two
    authors sharing one affiliation collapse), docs with no
    affiliation (or unparseable XML) dropped."""
    p = _t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    aff1 = F.concat(
        F.lit("<affiliation><orgName>Org "),
        (k % 25).cast("string"),
        F.lit("</orgName> <country>C</country></affiliation>"),
    )
    aff2 = F.when(k % 3 == 0, aff1).when(
        k % 3 == 1,
        F.concat(F.lit("<affiliation><orgName>Lab "), ks, F.lit("</orgName></affiliation>")),
    ).otherwise(F.lit(""))
    author1 = F.when(k % 11 == 0, F.lit("<author><persName><surname>X</surname></persName></author>")).otherwise(
        F.concat(F.lit("<author><persName><surname>A</surname></persName>"), aff1, F.lit("</author>"))
    )
    author2 = F.when(k % 11 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<author><persName><surname>B</surname></persName>"), aff2, F.lit("</author>"))
    )
    xml = F.when(k % 19 == 0, F.lit("<TEI><broken")).otherwise(
        F.concat(
            F.lit('<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader><fileDesc>'
                  "<sourceDesc><biblStruct><analytic>"),
            author1,
            author2,
            F.lit("</analytic></biblStruct></sourceDesc></fileDesc></teiHeader></TEI>"),
        )
    )
    src = p.select(F.md5(ks).alias("sha1hex"), xml.alias("tei_xml"), k.alias("k"))
    out = tei.tei_affiliations(src, xml_col="tei_xml", id_col="sha1hex")
    return src.select("sha1hex", "k").join(out, "sha1hex").select(
        "k",
        "sha1hex",
        # scalars-only output boundary; the harvest set-dedups and
        # sorts, so the '|' join is deterministic
        F.concat_ws("|", "affiliations").alias("affiliations"),
    )


def cdx_revisit_resolve(spark, sf_dir):
    """ia.py:531-568 one-hop revisit resolution end-to-end: the
    refers_to dt normalization (14-digit, ISO-seconds, ISO-Z and
    nanosecond-Z arms), missing-ref / bad-dt / not-found / loop
    failure statuses, and the one-hop passthrough for originals.
    customer keys are dense, so k-1/k-3 targets always exist."""
    from sandcrawler_spark.sources.cdx import resolve_revisits

    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    url_of = lambda col: F.concat(F.lit("http://o.org/"), col.cast("string"))
    is_rev = k % 3 == 0
    m = k % 15
    ref_url = (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 3, url_of(k - 1))
        .when(m == 6, F.concat(F.lit("http://nowhere.org/"), ks))
        .when(m == 9, url_of(k - 3))
        .when(m == 12, url_of(k - 1))
    )
    ref_dt = (
        F.when(m == 0, F.lit(None).cast("string"))
        .when(m == 3, F.lit("20XX0101000000"))
        .otherwise(
            F.when(k % 4 == 0, F.lit("20190101000000"))
            .when(k % 4 == 1, F.lit("2019-01-01T00:00:00"))
            .when(k % 4 == 2, F.lit("2019-01-01T00:00:00Z"))
            .otherwise(F.lit("2019-01-01T00:00:00.173133737Z"))
        )
    )
    captures = c.select(
        k.alias("k"),
        url_of(k).alias("url"),
        F.lit("20190101000000").alias("dt"),
        F.when(is_rev, F.lit("warc/revisit")).otherwise(F.lit("application/pdf")).alias("mimetype"),
        F.md5(ks).alias("sha1hex"),
        F.when(is_rev, ref_url).alias("refers_to_url"),
        F.when(is_rev, ref_dt).alias("refers_to_dt"),
    )
    return resolve_revisits(captures).select(
        "k", "url", "mimetype", "resolve_status",
        "resolved_url", "resolved_dt", "resolved_sha1hex",
    )


def med_pdf_spans(spark, sf_dir):
    """pdfextract.py process_pdf end-to-end with the stub codec: the
    not-pdf / bad-pdf / empty-pdf / text-too-large decision spine plus
    the success interleave (page-0 thumbnail image span at offset 0,
    per-page text spans at cumulative char offsets). The fake codec is
    closed-form in the blob (page_count = 1 + len % 4, thumbnail fails
    when len % 7 == 0, page text carries md5[:8]), so DuckDB replays
    the whole span sequence."""
    import hashlib

    from sandcrawler_spark.operators.media import pdf_extract_spans

    bad_md5 = hashlib.md5(b"%PDF-1.4 BADDOC").hexdigest()
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    blob_s = (
        F.when(k % 11 == 0, F.concat(F.lit("hello world "), ks))
        .when(k % 13 == 0, F.lit("%PDF-1.4 BADDOC"))
        .when(k % 17 == 0, F.lit("%PDF"))
        .otherwise(F.concat(F.lit("%PDF-1.4 "), F.repeat(F.lit("x"), (k % 29).cast("int"))))
    )
    src = c.select(ks.alias("doc_id"), blob_s.cast("binary").alias("blob"))
    out = pdf_extract_spans(
        src, bad_pdf_md5=[bad_md5], max_text_chars=70
    )
    s = F.col("s")
    return out.select(
        F.col("doc_id").cast("int").alias("k"),
        "status",
        "page_count",
        "has_page0_thumbnail",
        "text_len",
        F.posexplode_outer("spans").alias("seq", "s"),
    ).select(
        "k", "status", "page_count", "has_page0_thumbnail", "text_len",
        "seq", s["kind"].alias("kind"), s["text"].alias("text"),
        s["media_ref"].alias("media_ref"), s["offset"].alias("offset"),
    )


def src_warc_scan(spark, sf_dir):
    """WARC source end-to-end: the fixture WRITES real member-gzip
    .warc.gz files (8 records per file, statuses/mimetypes/payloads
    closed-form in the record index), then reads them back through the
    distributed scan. The oracle states the expected parse without
    touching WARC bytes. Offsets/csize are gzip-dependent, so the
    projection checks them only via the reader's own invariants
    (pytest pins them as real member byte positions)."""
    import hashlib as _h
    import os

    from sandcrawler_spark.sources.warc import build_warc_record_bytes

    n, per_file = 200, 8
    # v1 in the tag: bump when the record layout changes so a stale
    # /tmp fixture from an older code version can never be reused
    tag = _h.md5(f"v1:{sf_dir}".encode()).hexdigest()[:8]
    root = f"/tmp/sandcrawler_warc_fixture_{tag}"
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        for f_idx in range(n // per_file):
            path = os.path.join(root, f"f{f_idx:03d}.warc.gz")
            with open(path + ".tmp", "wb") as f:
                for j in range(per_file):
                    k = f_idx * per_file + j + 1
                    f.write(
                        build_warc_record_bytes(
                            target_uri=f"http://warc.example.org/{k}",
                            warc_date="2020-06-01T00:00:00Z",
                            payload=f"%PDF-1.4 doc{k}".encode(),
                            http_status=200 if k % 3 != 0 else 503,
                            mimetype="application/pdf" if k % 2 == 1 else "text/html",
                            record_type="response" if k % 11 != 0 else "revisit",
                        )
                    )
            os.replace(path + ".tmp", path)
        with open(done, "w") as f:
            f.write("ok")
    from sandcrawler_spark.sources.warc import read_warc_records

    df = read_warc_records(spark, root + "/*.warc.gz")
    return df.select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("int").alias("k"),
        "record_type",
        "target_uri",
        "warc_date",
        "http_status",
        "mimetype",
        F.col("payload").cast("string").alias("payload_text"),
        "payload_len",
    )


def bib_tei2release(spark, sf_dir):
    """grobid2json → import_grobid_metadata as ONE plan: synthesized
    TEI (broken-XML arm, DOI/publisher/abstract arms incl. the
    childless-abstract ElementTree-truthiness quirk, a citation with
    the '.Lastaccessed' URL correction) → teixml2json doc → import
    projection → release rows."""
    from sandcrawler_spark.operators.imports import grobid_import_releases
    from sandcrawler_spark.operators.tei import (
        grobid_doc_to_import_input,
        tei_to_grobid_doc,
    )

    p = _t(spark, sf_dir, "part").where(F.col("p_partkey") < 1200)
    k = F.col("p_partkey")
    ks = k.cast("string")
    year = (2000 + k % 8).cast("string")
    abstract = (
        F.when(k % 5 == 0, F.concat(F.lit("<abstract><p>Abs "), ks, F.lit("</p></abstract>")))
        .when(k % 5 == 1, F.lit("<abstract>orphan text</abstract>"))  # childless → None
        .otherwise(F.lit(""))
    )
    cite = F.when(
        k % 4 == 0,
        F.concat(
            F.lit('<div><listBibl><biblStruct xml:id="b0"><analytic><title>C '),
            ks,
            F.lit("</title><author><persName><forename>Q</forename><surname>R"),
            F.lit('</surname></persName></author></analytic><monogr><imprint>'),
            F.lit('<date type="published" when="2011-05"/></imprint>'),
            F.lit('<biblScope unit="volume">3</biblScope></monogr>'),
            F.lit('<ptr target="http://u.org/'),
            ks,
            F.lit('.Lastaccessed"/></biblStruct></listBibl></div>'),
        ),
    ).otherwise(F.lit(""))
    xml = F.when(k % 19 == 0, F.lit("<TEI><broken")).otherwise(
        F.concat(
            F.lit('<TEI xmlns="http://www.tei-c.org/ns/1.0"><teiHeader>'),
            F.lit('<encodingDesc><appInfo><application version="0.7" when="2024-01-01"/></appInfo></encodingDesc>'),
            F.lit("<fileDesc><publicationStmt>"),
            F.when(k % 3 == 0, F.lit("<publisher>PubCo</publisher>")).otherwise(F.lit("")),
            F.lit("</publicationStmt><sourceDesc><biblStruct><analytic><title>Paper "),
            ks,
            F.lit("</title><author><persName><forename>F</forename><surname>S"),
            ks,
            F.lit("</surname></persName></author>"),
            F.when(k % 2 == 0, F.concat(F.lit('<idno type="DOI">10.6/T'), ks, F.lit("</idno>"))).otherwise(F.lit("")),
            F.lit("</analytic><monogr><title>J"),
            (k % 15).cast("string"),
            F.lit('</title><imprint><date type="published" when="'),
            year,
            F.lit('-03-01"/></imprint></monogr></biblStruct></sourceDesc></fileDesc>'),
            F.lit("<profileDesc>"),
            abstract,
            F.lit("</profileDesc></teiHeader><text><back>"),
            cite,
            F.lit("</back></text></TEI>"),
        )
    )
    doc = tei_to_grobid_doc(p.select(xml.alias("tei_xml")))
    out = grobid_import_releases(grobid_doc_to_import_input(doc))
    r1 = F.try_element_at(F.col("refs"), F.lit(1))
    return out.select(
        F.regexp_extract("title", r"Paper (\d+)", 1).cast("int").alias("k"),
        "title",
        F.try_element_at("contrib_names", F.lit(1)).alias("contrib1"),
        "publisher",
        "abstract_content",
        "release_year",
        "release_date",
        "extra_doi",
        "extra_container_name",
        F.size("refs").alias("n_refs"),
        r1["key"].alias("ref1_key"),
        r1["title"].alias("ref1_title"),
        r1["year"].alias("ref1_year"),
        r1["extra_volume"].alias("ref1_volume"),
        r1["extra_url"].alias("ref1_url"),
        # scalars-only output boundary (driver-sortable scalars)
        F.when(
            r1["extra_authors"].isNotNull(),
            F.concat_ws("|", r1["extra_authors"]),
        ).alias("ref1_authors"),
    )


QUERIES7 = {
    "im_grobid_releases": im_grobid_releases,
    "im_manifest_matches": im_manifest_matches,
    "im_cdx_sha1hex": im_cdx_sha1hex,
    "bib_tei_affiliations": bib_tei_affiliations,
    "cdx_revisit_resolve": cdx_revisit_resolve,
    "med_pdf_spans": med_pdf_spans,
    "src_warc_scan": src_warc_scan,
    "bib_tei2release": bib_tei2release,
}

ORACLES7 = {
    "im_grobid_releases": """
WITH p AS (SELECT p_partkey AS k FROM part WHERE p_partkey % 13 >= 2)
SELECT CAST(k AS INTEGER) AS k,
  'Title ' || CAST(k AS VARCHAR) AS title,
  CASE WHEN k % 3 = 0 THEN 'A' || CAST(k AS VARCHAR) END AS contrib1,
  CASE WHEN k % 3 = 0 THEN 2 ELSE 0 END AS n_contribs,
  CASE WHEN k % 2 = 0 THEN 'Pub' END AS publisher,
  CASE WHEN k % 4 = 0 THEN '9' END AS volume,
  CASE WHEN k % 5 = 0 THEN 'Abs ' || CAST(k AS VARCHAR) END AS abstract_content,
  'journal-article' AS release_type,
  CAST(CASE WHEN k % 4 = 0 THEN 1990 + k % 30 END AS INTEGER) AS release_year,
  CASE WHEN k % 4 = 0 THEN make_date(1990 + k % 30, 1, 1) END AS release_date,
  CASE WHEN k % 6 = 0 THEN 2 ELSE 0 END AS n_refs,
  CASE WHEN k % 6 = 0 THEN 'c1' END AS ref1_key,
  CASE WHEN k % 6 = 0 THEN 'T' || CAST(k AS VARCHAR) END AS ref1_title,
  CASE WHEN k % 6 = 0 THEN 2019 END AS ref1_year,
  CASE WHEN k % 6 = 0 THEN '7' END AS ref1_volume,
  CAST(NULL AS VARCHAR) AS ref1_issue,
  CASE WHEN k % 6 = 0 THEN 'N1|N2' END AS ref1_authors,
  CASE WHEN k % 2 = 0 THEN '10.5/g' || CAST(k AS VARCHAR) END AS extra_doi,
  CASE WHEN k % 7 != 0 THEN 'J' || CAST(k % 20 AS VARCHAR) END AS extra_container_name,
  TRUE AS is_longtail_oa
FROM p
""",
    "im_manifest_matches": """
WITH o AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey < 6000),
kept AS (SELECT k FROM o WHERE k % 2 = 0 AND k % 3 != 1)
SELECT 'S' || CAST(k AS VARCHAR) AS sha1,
  CASE WHEN k % 4 = 0 THEN 'application/pdf' END AS mimetype,
  CASE WHEN k % 3 = 0 THEN CAST(k AS BIGINT) END AS size,
  CASE WHEN k % 5 = 0 THEN md5(CAST(k AS VARCHAR)) END AS md5,
  CASE WHEN k % 6 = 0
       THEN '10.1/a' || CAST(k AS VARCHAR) || '|10.1/b' || CAST(k AS VARCHAR)
       ELSE '10.1/b' || CAST(k AS VARCHAR) END AS dois,
  CASE WHEN k % 9 = 0
       THEN 'http://u' || CAST(k AS VARCHAR) || '/a|'
            || 'http://u' || CAST(k AS VARCHAR) || '/x'
       ELSE 'http://u' || CAST(k AS VARCHAR) || '/x' END AS cdx_urls,
  CASE WHEN k % 9 = 0
       THEN '20170901000000|20170801000000'
       ELSE '20170801000000' END AS cdx_dts
FROM kept
""",
    "im_cdx_sha1hex": """
WITH c AS (SELECT c_custkey AS k FROM customer)
SELECT md5(CAST(k AS VARCHAR)) AS sha1hex,
  CASE
    WHEN k % 7 = 0 THEN 'success-db'
    WHEN k % 5 = 0 THEN 'skip-no-urls'
    WHEN k % 3 = 0 THEN 'success-api'
    ELSE 'fail-not-found' END AS status,
  CAST(CASE
    WHEN k % 7 = 0 THEN 1
    WHEN k % 5 != 0 AND k % 3 = 0 THEN 1
    ELSE 0 END AS BIGINT) AS n_cdx_rows,
  CASE
    WHEN k % 7 = 0 THEN 'http://db' || CAST(k AS VARCHAR)
    WHEN k % 5 != 0 AND k % 3 = 0
      THEN 'http://orig' || CAST(k AS VARCHAR) || '/p'
    ELSE '' END AS found_urls
FROM c
""",
    "bib_tei_affiliations": """
WITH p AS (
  SELECT p_partkey AS k FROM part
  WHERE p_partkey % 19 != 0 AND p_partkey % 11 != 0
)
SELECT k, md5(CAST(k AS VARCHAR)) AS sha1hex,
  CASE k % 3
    WHEN 1 THEN list_aggr(
        list_sort(['Org ' || CAST(k % 25 AS VARCHAR) || ' C',
                   'Lab ' || CAST(k AS VARCHAR)]),
        'string_agg', '|')
    ELSE 'Org ' || CAST(k % 25 AS VARCHAR) || ' C' END AS affiliations
FROM p
""",
    "bib_tei2release": """
WITH p AS (
  SELECT p_partkey AS k FROM part
  WHERE p_partkey < 1200 AND p_partkey % 19 != 0
)
SELECT k,
  'Paper ' || CAST(k AS VARCHAR) AS title,
  'F S' || CAST(k AS VARCHAR) AS contrib1,
  CASE WHEN k % 3 = 0 THEN 'PubCo' END AS publisher,
  CASE WHEN k % 5 = 0 THEN 'Abs ' || CAST(k AS VARCHAR) END AS abstract_content,
  CAST(2000 + k % 8 AS INT) AS release_year,
  make_date(2000 + k % 8, 1, 1) AS release_date,
  CASE WHEN k % 2 = 0 THEN '10.6/t' || CAST(k AS VARCHAR) END AS extra_doi,
  'J' || CAST(k % 15 AS VARCHAR) AS extra_container_name,
  CASE WHEN k % 4 = 0 THEN 1 ELSE 0 END AS n_refs,
  CASE WHEN k % 4 = 0 THEN 'b0' END AS ref1_key,
  CASE WHEN k % 4 = 0 THEN 'C ' || CAST(k AS VARCHAR) END AS ref1_title,
  CASE WHEN k % 4 = 0 THEN 2011 END AS ref1_year,
  CASE WHEN k % 4 = 0 THEN '3' END AS ref1_volume,
  CASE WHEN k % 4 = 0 THEN 'http://u.org/' || CAST(k AS VARCHAR) END AS ref1_url,
  CASE WHEN k % 4 = 0 THEN 'Q R' END AS ref1_authors
FROM p
""",
    "src_warc_scan": """
WITH ks AS (SELECT unnest(range(1, 201)) AS k)
SELECT CAST(k AS INT) AS k,
  CASE WHEN k % 11 = 0 THEN 'revisit' ELSE 'response' END AS record_type,
  'http://warc.example.org/' || CAST(k AS VARCHAR) AS target_uri,
  '2020-06-01T00:00:00Z' AS warc_date,
  CASE WHEN k % 11 = 0 THEN NULL
       WHEN k % 3 != 0 THEN 200 ELSE 503 END AS http_status,
  CASE WHEN k % 11 = 0 THEN NULL
       WHEN k % 2 = 1 THEN 'application/pdf' ELSE 'text/html' END AS mimetype,
  CASE WHEN k % 11 = 0 THEN ''
       ELSE '%PDF-1.4 doc' || CAST(k AS VARCHAR) END AS payload_text,
  CAST(CASE WHEN k % 11 = 0 THEN 0
       ELSE 12 + length(CAST(k AS VARCHAR)) END AS BIGINT) AS payload_len
FROM ks
""",
    "med_pdf_spans": """
WITH c AS (SELECT CAST(c_custkey AS INTEGER) AS k FROM customer),
cls AS (
  SELECT k,
    CASE WHEN k % 11 = 0 THEN 'not-pdf'
         WHEN k % 13 = 0 THEN 'bad-pdf'
         WHEN k % 17 = 0 THEN 'empty-pdf'
         ELSE 'live' END AS arm,
    9 + (k % 29) AS len
  FROM c
),
live AS (
  SELECT k, len, CAST(1 + len % 4 AS INT) AS n,
    md5('%PDF-1.4 ' || repeat('x', CAST(k % 29 AS INT))) AS h,
    (len % 7 != 0) AS thumb
  FROM cls WHERE arm = 'live'
),
succ AS (SELECT * FROM live WHERE 23 * n <= 70),
rejects AS (
  SELECT k, arm AS status, CAST(NULL AS INT) AS page_count,
    CAST(NULL AS BOOLEAN) AS has_page0_thumbnail, CAST(NULL AS INT) AS text_len,
    CAST(NULL AS INT) AS seq, CAST(NULL AS VARCHAR) AS kind,
    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
    CAST(NULL AS INT) AS "offset"
  FROM cls WHERE arm != 'live'
),
toolarge AS (
  SELECT k, 'text-too-large' AS status, CAST(NULL AS INT) AS page_count,
    CAST(NULL AS BOOLEAN) AS has_page0_thumbnail, CAST(23 * n AS INT) AS text_len,
    CAST(NULL AS INT) AS seq, CAST(NULL AS VARCHAR) AS kind,
    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS media_ref,
    CAST(NULL AS INT) AS "offset"
  FROM live WHERE 23 * n > 70
),
img AS (
  SELECT k, 'success' AS status, n AS page_count, thumb AS has_page0_thumbnail,
    CAST(23 * n AS INT) AS text_len, CAST(0 AS INT) AS seq, 'image' AS kind,
    CAST(NULL AS VARCHAR) AS text,
    'thumb:' || substr(h, 1, 16) AS media_ref, CAST(0 AS INT) AS "offset"
  FROM succ WHERE thumb
),
page_i AS (
  SELECT k, n, thumb, h, unnest(range(n)) AS i FROM succ
),
pages AS (
  SELECT k, 'success' AS status, n AS page_count, thumb AS has_page0_thumbnail,
    CAST(23 * n AS INT) AS text_len,
    CAST((CASE WHEN thumb THEN 1 ELSE 0 END) + i AS INT) AS seq,
    'text' AS kind,
    'page ' || CAST(i AS VARCHAR) || ' of ' || CAST(n AS VARCHAR)
      || ' [' || substr(h, 1, 8) || '] ' AS text,
    CAST(NULL AS VARCHAR) AS media_ref, CAST(23 * i AS INT) AS "offset"
  FROM page_i
)
SELECT * FROM rejects
UNION ALL SELECT * FROM toolarge
UNION ALL SELECT * FROM img
UNION ALL SELECT * FROM pages
""",
    "cdx_revisit_resolve": """
WITH c AS (SELECT c_custkey AS k FROM customer)
SELECT k,
  'http://o.org/' || CAST(k AS VARCHAR) AS url,
  CASE WHEN k % 3 = 0 THEN 'warc/revisit' ELSE 'application/pdf' END AS mimetype,
  CASE
    WHEN k % 3 != 0 THEN 'original'
    WHEN k % 15 = 0 THEN 'revisit-missing-ref'
    WHEN k % 15 = 3 THEN 'revisit-bad-dt'
    WHEN k % 15 = 6 THEN 'revisit-not-found'
    WHEN k % 15 = 9 THEN 'revisit-loop'
    ELSE 'resolved' END AS resolve_status,
  CASE
    WHEN k % 3 != 0 THEN 'http://o.org/' || CAST(k AS VARCHAR)
    WHEN k % 15 = 12 THEN 'http://o.org/' || CAST(k - 1 AS VARCHAR)
    END AS resolved_url,
  CASE
    WHEN k % 3 != 0 OR k % 15 = 12 THEN '20190101000000'
    END AS resolved_dt,
  CASE
    WHEN k % 3 != 0 THEN md5(CAST(k AS VARCHAR))
    WHEN k % 15 = 12 THEN md5(CAST(k - 1 AS VARCHAR))
    END AS resolved_sha1hex
FROM c
""",
}
