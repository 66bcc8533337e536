"""Ingest-request intake converters — the reference's bulk "turn an
external metadata dump into ingest requests" surface, re-expressed as
DataFrame transforms:

- ``doaj_requests``       — python/scripts/doaj2ingestrequest.py:59-117
- ``unpaywall_requests``  — python/scripts/unpaywall2ingestrequest.py:37-84
- ``oai_requests``        — python/scripts/oai2ingestrequest.py:76-148
- ``arabesque_requests``  — python/scripts/arabesque2ingestrequest.py:19-47
- ``covid_requests``      — python/scripts/covid2ingestrequest.py:18-74
- ``enrich_matches``      — python/scripts/enrich_scored_matches.py:25-44
- ``groupworks_filter``   — python/scripts/filter_groupworks.py:82-146
- ``archiveorg_filesets`` — python/scripts/archiveorg_fileset.py:47-113

The reference scripts stream JSON lines through per-row Python; here
every gate/explode/projection is pure Catalyst, with exactly two Python
touchpoints: URL canonicalization (the repo's vectorized WHATWG-ish
``canonical_url_udf``, standing in for the reference's ``urlcanon.
whatwg``) and the groupworks sequential group-contagion pass (a tiny
``applyInPandas`` over ≤``max_slug_lines``-row slug groups). At scale
the converters are embarrassingly parallel single-pass scans — no
shuffle at all until the caller aggregates; ``groupworks_filter``
shuffles once on slug.

Output shape: the reference emits nested-JSON ingest requests; the
DataFrame-native representation here is flat columns (``ext_ids.doi``
→ ``ext_doi`` etc.). ``to_json(struct(...))`` reproduces the nested
form when a JSON sink needs it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sandcrawler_spark.functions.urlkeys import canonical_url_udf
from sandcrawler_spark.operators.text import author_tokenize

# --------------------------------------------------------------- constants
# doaj2ingestrequest.py:18-36
DOAJ_DOMAIN_BLOCKLIST = [
    "://arxiv.org/",
    "://europepmc.org/",
    "ncbi.nlm.nih.gov/",
    "://doi.org/",
    "://dx.doi.org/",
    "zenodo.org/",
    "figshare.com/",
    "://archive.org/",
    ".archive.org/",
]

# doaj2ingestrequest.py:39-51 — content_type → list of ingest types to
# fan out to. Types mapping to [] are deliberate drops.
DOAJ_CONTENT_TYPE_MAP: dict[str, list[str]] = {
    "abstract": [],
    "doc": [],
    "": ["pdf"],
    "doi": ["pdf"],
    "url": ["pdf"],
    "fulltext": ["pdf"],
    "anysimpletype": ["pdf"],
    "application/pdf": ["pdf"],
    "html": ["html", "pdf"],
    "text/html": ["html", "pdf"],
    "xml": ["xml"],
}

# unpaywall2ingestrequest.py:12-21
UNPAYWALL_DOMAIN_BLOCKLIST = [
    "://arxiv.org/",
    "://europepmc.org/",
    "ncbi.nlm.nih.gov/",
    "://doi.org/",
    "zenodo.org/",
    "figshare.com/",
]

# unpaywall2ingestrequest.py:23-29
UNPAYWALL_STAGE_MAP = {
    "draftVersion": "draft",
    "submittedVersion": "submitted",
    "acceptedVersion": "accepted",
    "publishedVersion": "published",
    "updatedVersion": "updated",
}

# oai2ingestrequest.py:14-38
OAI_DOMAIN_BLOCKLIST = DOAJ_DOMAIN_BLOCKLIST + [
    "semanticscholar.org/",
    "://127.0.0.1/",
    "://www.kb.dk/",
    "://kb-images.kb.dk/",
    "://mdz-nbn-resolving.de/",
    "://aggr.ukm.um.si/",
    "://edoc.mpg.de/",
    "doaj.org/",
    "orcid.org/",
    "://gateway.isiknowledge.com/",
    "://hdl.handle.net/",
]

# oai2ingestrequest.py:41-60 (the trailing "%" on hypotheses.org is in
# the reference verbatim — it is a literal prefix there too, so it never
# matches; mirrored as-is)
OAI_PREFIX_BLOCKLIST = [
    "oai:kb.dk:",
    "oai:bdr.oai.bsb-muenchen.de:",
    "oai:hispana.mcu.es:",
    "oai:bnf.fr:",
    "oai:ukm.si:",
    "oai:biodiversitylibrary.org:",
    "oai:hsp.org:",
    "oai:repec:",
    "oai:n/a:",
    "oai:quod.lib.umich.edu:",
    "oai:americanae.aecid.es:",
    "oai:www.irgrid.ac.cn:",
    "oai:espace.library.uq.edu:",
    "oai:edoc.mpg.de:",
    "oai:bibliotecadigital.jcyl.es:",
    "oai:repository.erciyes.edu.tr:",
    "oai:krm.or.kr:",
    "oai:hypotheses.org:%",
]

# oai2ingestrequest.py:62-68
OAI_STAGE_MAP = {
    "info:eu-repo/semantics/draftVersion": "draft",
    "info:eu-repo/semantics/submittedVersion": "submitted",
    "info:eu-repo/semantics/acceptedVersion": "accepted",
    "info:eu-repo/semantics/publishedVersion": "published",
    "info:eu-repo/semantics/updatedVersion": "updated",
}


def _contains_any(col: Column, needles: list[str]) -> Column:
    """OR-fold of substring containment — Catalyst constant-folds the
    needle literals, so this stays inside whole-stage codegen."""
    pred = F.lit(False)
    for n in needles:
        pred = pred | col.contains(F.lit(n))
    return pred


def _stage_map_col(col: Column, mapping: dict[str, str]) -> Column:
    expr = F.lit(None).cast("string")
    for k, v in mapping.items():
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


# ----------------------------------------------------------------- doaj


def doaj_requests(df: DataFrame) -> DataFrame:
    """DOAJ article dump → ingest requests
    (doaj2ingestrequest.py:59-117).

    Input columns: ``id`` string, ``bibjson`` struct with
    ``link array<struct<type,url,content_type>>`` and
    ``identifier array<struct<type,id>>``.

    Semantics mirrored: lowercased doaj id; DOI = LAST identifier whose
    type is 'doi' (case-insensitive) with an id starting '10.' (the
    reference loop overwrites, so last wins), lowercased; links kept
    only when type='fulltext' with a URL; content_type (lowercased,
    null→'') mapped through the fan-out table, unknown or empty → drop;
    domain blocklist checked against the LOWERCASED url (doaj is the
    only converter that lowercases first); canonicalize the stripped
    url; drop empty or >1000-char results; one output row per
    (link, ingest_type)."""
    # null identifier/link arrays propagate: filter/element_at of null
    # is null (no DOI), explode of null emits no rows (the reference's
    # `if not bibjson["link"]: return []`).
    links = df.where(
        F.col("id").isNotNull() & (F.col("id") != "")  # reference asserts
    ).select(
        F.lower("id").alias("link_source_id"),
        F.try_element_at(
            F.filter(
                F.col("bibjson.identifier"),
                lambda i: (F.lower(i["type"]) == "doi")
                & i["id"].isNotNull()
                & i["id"].startswith("10."),
            ),
            F.lit(-1),
        )["id"].alias("raw_doi"),
        F.explode(F.col("bibjson.link")).alias("link"),
    ).select(
        "link_source_id",
        F.lower("raw_doi").alias("ext_doi"),
        F.col("link.url").alias("raw_url"),
        F.lower(F.coalesce(F.col("link.content_type"), F.lit(""))).alias("ct"),
        F.col("link.type").alias("link_type"),
    )
    ct_types = F.lit(None).cast("array<string>")
    for k, v in DOAJ_CONTENT_TYPE_MAP.items():
        arm = F.array(*[F.lit(x) for x in v]) if v else F.array().cast("array<string>")
        ct_types = F.when(F.col("ct") == F.lit(k), arm).otherwise(ct_types)
    kept = (
        links.where(
            (F.col("link_type") == "fulltext")
            & F.col("raw_url").isNotNull()
            & (F.col("raw_url") != "")
        )
        .withColumn("ingest_types", ct_types)
        .where(F.size(F.coalesce("ingest_types", F.array())) > 0)
        .where(~_contains_any(F.lower("raw_url"), DOAJ_DOMAIN_BLOCKLIST))
        .withColumn("base_url", canonical_url_udf(F.trim("raw_url")))
        .where(
            F.col("base_url").isNotNull()
            & (F.col("base_url") != "")
            & (F.length("base_url") <= 1000)
        )
    )
    return kept.select(
        "base_url",
        F.explode("ingest_types").alias("ingest_type"),
        F.lit("doaj").alias("link_source"),
        "link_source_id",
        F.lit("doaj").alias("ingest_request_source"),
        F.lit("published").alias("release_stage"),
        F.lit("publisher").alias("rel"),
        "ext_doi",
        F.col("link_source_id").alias("ext_doaj"),
    )


# ------------------------------------------------------------- unpaywall


def unpaywall_requests(df: DataFrame) -> DataFrame:
    """Unpaywall dump → ingest requests
    (unpaywall2ingestrequest.py:37-84).

    Input columns: ``doi`` string, ``oa_status`` string, ``oa_locations
    array<struct<url_for_pdf,version,host_type,evidence,pmh_id>>``.

    Mirrored: DOI must start '10.'; one request per location with a
    non-empty ``url_for_pdf``; domain blocklist on the RAW url (no
    lowercasing here, unlike doaj); version → release_stage map (miss →
    null); rel = host_type; extras oa_status / evidence / pmh_id."""
    locs = df.where(F.col("doi").startswith("10.")).select(
        F.lower("doi").alias("ext_doi"),
        F.col("oa_status"),
        F.explode("oa_locations").alias("loc"),
    )
    kept = locs.where(
        F.col("loc.url_for_pdf").isNotNull() & (F.col("loc.url_for_pdf") != "")
    ).where(~_contains_any(F.col("loc.url_for_pdf"), UNPAYWALL_DOMAIN_BLOCKLIST))
    return kept.select(
        canonical_url_udf(F.col("loc.url_for_pdf")).alias("base_url"),
        F.lit("pdf").alias("ingest_type"),
        F.lit("unpaywall").alias("link_source"),
        F.col("ext_doi").alias("link_source_id"),
        F.lit("unpaywall").alias("ingest_request_source"),
        _stage_map_col(F.col("loc.version"), UNPAYWALL_STAGE_MAP).alias(
            "release_stage"
        ),
        F.col("loc.host_type").alias("rel"),
        "ext_doi",
        F.when(F.col("loc.pmh_id") != "", F.col("loc.pmh_id")).alias("ext_pmh_id"),
        F.col("oa_status").alias("extra_oa_status"),
        F.when(F.col("loc.evidence") != "", F.col("loc.evidence")).alias(
            "extra_evidence"
        ),
    )


# ------------------------------------------------------------------ oai


def oai_requests(df: DataFrame) -> DataFrame:
    """OAI-PMH bulk dump → ingest requests
    (oai2ingestrequest.py:76-148).

    Input columns: ``oai`` string, ``urls array<string>``, ``formats
    array<string>``, ``doi array<string>``, ``types array<string>``.

    Mirrored: oai id must start 'oai:'; lowercased id checked against
    the OAI prefix blocklist; if a NON-EMPTY formats list exists it must
    contain a format with 'pdf' in it (case-insensitive) — an absent or
    empty list passes; DOI = first element of the doi list, lowercased
    and stripped, kept only when it starts '10.'; release_stage = LAST
    matching entry of types in the eu-repo map; one request per
    non-blocklisted url."""
    oai_lower = F.lower("oai")
    prefix_block = F.lit(False)
    for p in OAI_PREFIX_BLOCKLIST:
        prefix_block = prefix_block | oai_lower.startswith(p)
    # absent (null) or empty formats list passes; a non-empty one must
    # contain a 'pdf' format (oai2ingestrequest.py:94-102)
    formats_ok = (
        F.col("formats").isNull()
        | (F.size("formats") == 0)
        | F.exists("formats", lambda f: F.lower(f).contains("pdf"))
    )
    doi1 = F.trim(F.lower(F.try_element_at(F.col("doi"), F.lit(1))))
    stage = F.try_element_at(
        F.filter(
            F.transform(
                F.col("types"), lambda t: _stage_map_col(t, OAI_STAGE_MAP)
            ),
            lambda s: s.isNotNull(),
        ),
        F.lit(-1),
    )
    base = (
        df.where(
            F.col("oai").isNotNull()
            & F.col("oai").startswith("oai:")
            & (F.size("urls") > 0)  # null urls → size -1 → dropped
            & ~prefix_block
            & formats_ok
        )
        .select(
            oai_lower.alias("link_source_id"),
            F.when(doi1.startswith("10."), doi1).alias("ext_doi"),
            stage.alias("release_stage"),
            F.explode("urls").alias("raw_url"),
        )
        .where(~_contains_any(F.col("raw_url"), OAI_DOMAIN_BLOCKLIST))
    )
    return base.select(
        canonical_url_udf(F.col("raw_url")).alias("base_url"),
        F.lit("pdf").alias("ingest_type"),
        F.lit("oai").alias("link_source"),
        "link_source_id",
        F.lit("metha-bulk").alias("ingest_request_source"),
        "release_stage",
        F.lit(None).cast("string").alias("rel"),
        F.col("link_source_id").alias("ext_oai"),
        "ext_doi",
    )


# ------------------------------------------------------------- arabesque


def arabesque_requests(
    df: DataFrame,
    link_source: str,
    extid_type: str,
    release_stage: str | None = None,
) -> DataFrame:
    """Arabesque crawl-log backfill → ``pdf`` ingest requests from
    source ``arabesque`` (arabesque2ingestrequest.py:19-47): keep hits,
    take final_url verbatim (the one converter that does NOT
    canonicalize), carry the identifier under a caller-chosen extid
    type."""
    if release_stage is not None and release_stage not in (
        "published",
        "submitted",
        "accepted",
        "draft",
        "update",
    ):
        raise ValueError(f"invalid release_stage: {release_stage}")
    return df.where(F.col("hit")).select(
        F.col("final_url").alias("base_url"),
        F.lit("pdf").alias("ingest_type"),
        F.lit(link_source).alias("link_source"),
        F.col("identifier").alias("link_source_id"),
        F.lit("arabesque").alias("ingest_request_source"),
        F.lit(release_stage).cast("string").alias("release_stage"),
        F.lit(extid_type).alias("extid_type"),
        F.col("identifier").alias("extid_value"),
    )


# ----------------------------------------------------------------- covid


def covid_requests(df: DataFrame) -> DataFrame:
    """COVID-19 scrape metadata → ingest requests
    (covid2ingestrequest.py:18-74): wanfang rows (wanfang_id present)
    emit one request from ``url``; cnki rows emit ``info_url`` plus
    ``read_url`` when present. Rows with neither id are dropped, as is
    the reference's fall-through ``continue``."""
    wanfang = df.where(F.col("wanfang_id").isNotNull()).select(
        canonical_url_udf(F.col("url")).alias("base_url"),
        F.lit("pdf").alias("ingest_type"),
        F.lit("wanfang_covid19").alias("link_source"),
        F.col("wanfang_id").alias("link_source_id"),
        F.lit("scrape-covid19").alias("ingest_request_source"),
    )
    cnki = df.where(F.col("wanfang_id").isNull() & F.col("cnki_id").isNotNull())
    cnki_urls = cnki.select(
        "cnki_id",
        F.explode(
            F.filter(
                F.array("info_url", "read_url"), lambda u: u.isNotNull()
            )
        ).alias("raw_url"),
    )
    cnki_reqs = cnki_urls.select(
        canonical_url_udf(F.col("raw_url")).alias("base_url"),
        F.lit("pdf").alias("ingest_type"),
        F.lit("cnki_covid19").alias("link_source"),
        F.col("cnki_id").alias("link_source_id"),
        F.lit("scrape-covid19").alias("ingest_request_source"),
    )
    return wanfang.unionByName(cnki_reqs)


# --------------------------------------------------------- enrich matches


def enrich_matches(df: DataFrame) -> DataFrame:
    """Scored-match join output → fatcat 'matched' import rows
    (enrich_scored_matches.py:25-44): strip the 'sha1:' prefix, decode
    base32 SHA-1 to lowercase hex, and project (sha1, dois, cdx
    url+dt, size, mimetype).

    Input columns: raw_sha1 string, dois array<string>, cdx struct
    containing at least (url, dt), mimetype string, size bigint."""
    from sandcrawler_spark.functions.hashes import b32_hex_udf

    return df.select(
        b32_hex_udf(F.regexp_replace("raw_sha1", "^sha1:", "")).alias("sha1"),
        F.col("dois"),
        F.col("cdx.url").alias("cdx_url"),
        F.col("cdx.dt").alias("cdx_dt"),
        F.col("size"),
        F.col("mimetype"),
    )


# ------------------------------------------------------------ groupworks


def check_authors_groupworks(
    left: list[str] | None, right: list[str] | None
) -> bool:
    """filter_groupworks.py:45-66 — the groupworks variant of C9's
    check_authors. Differs from the scored-matches one in two gates:
    both-empty passes when authors aren't required (REQUIRE_AUTHORS is
    False in the reference), and the list LENGTHS MUST BE EQUAL (the
    scored variant allows left shorter than right). Tokenization is the
    shared ``author_tokenize``."""
    left = list(left or [])
    right = list(right or [])
    if not left and not right:
        return True
    if len(left) != len(right):
        return False
    right_all = author_tokenize(" ".join(right))
    for name in left:
        words = name.lower().replace("jr.", "").split()
        if not words:
            return False
        last = author_tokenize(words[-1])
        if len(last) <= 1:
            return False
        if last not in right_all:
            return False
    return True


@F.pandas_udf(T.BooleanType())
def check_authors_groupworks_udf(left: pd.Series, right: pd.Series) -> pd.Series:
    return pd.Series(
        [
            check_authors_groupworks(
                None if l is None else list(l), None if r is None else list(r)
            )
            for l, r in zip(left, right)
        ],
        dtype="boolean",
    )


_GW_OUT_SCHEMA = T.StructType(
    [
        T.StructField("slug", T.StringType()),
        T.StructField("fatcat_release", T.StringType()),
    ]
)


GROUPWORKS_SCORE_MIN = 900
GROUPWORKS_MAX_SLUG_LINES = 50


def groupworks_filter(df: DataFrame) -> DataFrame:
    """Slug-grouped work-merge filter (filter_groupworks.py:82-146).

    Input columns: ``slug`` string, ``seq`` (the reference's input-line
    order within a slug — its semantics are order-dependent), ``score``
    int, ``left`` / ``right`` structs with (``authors array<string>``,
    ``year`` int, ``fatcat_release`` string).

    Mirrored semantics, in reference order: a slug with more than
    ``GROUPWORKS_MAX_SLUG_LINES`` input lines is dropped WHOLE
    (run():137-139); per line, score below ``GROUPWORKS_SCORE_MIN``
    drops it, the groupworks
    check_authors variant must pass, and defined-but-different years
    drop it (process_group():85-98); then the reference's second pass
    (:104-119) iterates the surviving lines SKIPPING THE FIRST — a
    reference quirk mirrored here: filtered[0] never contributes —
    seeding the group with the next line's two release ids and adding
    each later line's ids only when one of them already belongs to the
    group. Output: one (slug, fatcat_release) row per member — the
    reference prints the releases in Python-set order, which is
    hash-randomized; a row set is the order-free equivalent.

    Scale shape: the score/author/year gates are a single Catalyst+
    Arrow projection; only the tiny contagion loop runs per slug group
    (≤``GROUPWORKS_MAX_SLUG_LINES`` rows each) inside ``applyInPandas`` — one
    shuffle on slug, skew bounded by the line cap itself."""
    # slug-size cap via partial-agg count + join-back, deliberately NOT
    # a count-over-window: the whole point of this gate is that some
    # slugs are huge, and a window would materialize the hottest slug
    # in one task BEFORE the cap can discard it, while the groupBy
    # count map-side-combines to one tiny row per slug.
    sizes = df.groupBy("slug").agg(F.count("*").alias("_n"))
    capped = df.join(sizes, "slug").where(F.col("_n") <= GROUPWORKS_MAX_SLUG_LINES).drop("_n")
    filtered = (
        capped.where(F.col("score") >= GROUPWORKS_SCORE_MIN)
        .where(
            check_authors_groupworks_udf(
                F.col("left.authors"), F.col("right.authors")
            )
        )
        .where(
            F.col("left.year").isNull()
            | F.col("right.year").isNull()
            | (F.col("left.year") == F.col("right.year"))
        )
        .select(
            "slug",
            "seq",
            F.col("left.fatcat_release").alias("l_id"),
            F.col("right.fatcat_release").alias("r_id"),
        )
    )

    def contagion(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        ids: list[str] = []
        group: set[str] = set()
        rows = list(zip(pdf["l_id"], pdf["r_id"]))
        # reference quirk: the first surviving line is skipped entirely
        for l_id, r_id in rows[1:]:
            if not group or l_id in group or r_id in group:
                for i in (l_id, r_id):
                    if i not in group:
                        group.add(i)
                        ids.append(i)
        if not ids:
            return pd.DataFrame({"slug": [], "fatcat_release": []}).astype(str)
        return pd.DataFrame(
            {"slug": pdf["slug"].iloc[0], "fatcat_release": ids}
        )

    return filtered.groupBy("slug").applyInPandas(contagion, _GW_OUT_SCHEMA)


# ------------------------------------------------- archive.org filesets

# archiveorg_fileset.py:18-44 — IA file ``format`` → mimetype. "Unknown"
# maps to None (no mimetype emitted) in the reference too.
ARCHIVEORG_FORMAT_TO_MIMETYPE = {
    "BZIP": "application/x-bzip",
    "BZIP2": "application/x-bzip2",
    "ZIP": "application/zip",
    "GZIP": "application/gzip",
    "RAR": "application/vnd.rar",
    "TAR": "application/x-tar",
    "7z": "application/x-7z-compressed",
    "HTML": "text/html",
    "Text": "text/plain",
    "PDF": "application/pdf",
    "CSV": "text/csv",
    "XML": "application/xml",
    "JSON": "application/json",
    "MP3": "audio/mpeg",
    "MP4": "video/mp4",
    "MPEG": "video/mpeg",
    "JPEG": "image/jpeg",
    "GIF": "image/gif",
    "PNG": "image/png",
    "TIFF": "image/tiff",
}

# archiveorg_fileset.py:51-60 — per-item metadata sidecars excluded from
# the manifest (matched against both item_name and item_name.lower()).
_ARCHIVEORG_META_SUFFIXES = (
    "_meta.sqlite",
    "_archive.torrent",
    "_itemimage.jpg",
    "_meta.xml",
    "_thumb.png",
    "_files.xml",
)
# archiveorg_fileset.py:65-68 — extra exclusions for academictorrents_*
# items (these three are matched against item_name only).
_ARCHIVEORG_AT_SUFFIXES = (
    "_academictorrents.torrent",
    "_academictorrents_torrent.txt",
    ".bib",
)


def archiveorg_filesets(df: DataFrame) -> DataFrame:
    """archive.org item metadata → fatcat fileset objects
    (``python/scripts/archiveorg_fileset.py:47-113``), minus the live
    IA metadata-API fetch: the caller lands the per-item file listings
    in a table and this turns each row into the fileset the script
    prints.

    Input columns: ``item_name`` string, ``release_id`` string,
    ``mediatype`` string, ``files array<struct<name:string,
    source:string, format:string, size:string, sha1:string,
    md5:string>>`` (IA's API returns ``size`` as a decimal string; the
    manifest casts it to int, parse_file:81).

    Semantics mirrored exactly:

    - ``release_id`` handling (item_to_fileset:94-96): a ``release_``
      prefix is stripped as ``[9:]`` — the reference's off-by-one (the
      prefix is 8 chars), reproduced verbatim — then ``len == 26`` is
      asserted; asserts are modeled as row filters here, like the other
      converters' fall-throughs.
    - mediatype gate (:99): ``collection`` / ``web`` items dropped.
    - ``want_file`` (:47-69): source must be ``original``; the six
      ``_meta.*``-style sidecars are excluded matching either the item
      name or its lowercase; leading-underscore names are excluded;
      ``academictorrents_*`` items additionally exclude the torrent/
      bib sidecars.
    - ``parse_file`` (:72-89): manifest entries carry (path, size:int,
      sha1, md5) and a mimetype from :data:`ARCHIVEORG_FORMAT_TO_MIMETYPE`.
      The reference currently hard-KeyErrors on an unmapped format but
      its inline TODO (:84-85) says the intended behavior is ``.get``;
      we implement the ``.get`` form (unmapped → null mimetype), and
      model the ``assert f.name and f.sha1 and f.md5`` (:77) as a file
      filter. The reference nests a non-null mimetype under
      ``extra.mimetype``; the flat-column convention here (module
      docstring) makes it a nullable ``mimetype`` field.
    - fileset assembly (:101-110): ordered manifest, one ``archive``
      URL ``https://archive.org/download/{item}/``, ``release_ids``.

    Pure Catalyst (array filter/transform + map literal): a single-pass
    scan, no shuffle, no Python.
    """
    mime_map = F.create_map(
        *[F.lit(x) for kv in ARCHIVEORG_FORMAT_TO_MIMETYPE.items() for x in kv]
    )
    item = F.col("item_name")

    def _want(f: Column) -> Column:
        cond = f["source"] == "original"
        for suf in _ARCHIVEORG_META_SUFFIXES:
            cond = cond & (f["name"] != F.concat(item, F.lit(suf)))
            cond = cond & (f["name"] != F.concat(F.lower(item), F.lit(suf)))
        cond = cond & ~f["name"].startswith("_")
        at_cond = F.lit(True)
        for suf in _ARCHIVEORG_AT_SUFFIXES:
            at_cond = at_cond & (f["name"] != F.concat(item, F.lit(suf)))
        cond = cond & (~item.startswith("academictorrents_") | at_cond)
        # parse_file:77 assert — name/sha1/md5 must be present.
        return (
            cond
            & f["name"].isNotNull()
            & f["sha1"].isNotNull()
            & f["md5"].isNotNull()
        )

    def _parse(f: Column) -> Column:
        return F.struct(
            f["name"].alias("path"),
            f["size"].cast("bigint").alias("size"),
            f["sha1"].alias("sha1"),
            f["md5"].alias("md5"),
            F.element_at(mime_map, f["format"]).alias("mimetype"),
        )

    release_id = F.when(
        F.col("release_id").startswith("release_"),
        F.col("release_id").substr(F.lit(10), F.length("release_id")),
    ).otherwise(F.col("release_id"))
    return (
        df.withColumn("release_id", release_id)
        .where(F.length("release_id") == 26)
        .where(~F.col("mediatype").isin("collection", "web"))
        .select(
            "item_name",
            F.transform(F.filter("files", _want), _parse).alias("manifest"),
            F.array(
                F.struct(
                    F.lit("archive").alias("rel"),
                    F.concat(
                        F.lit("https://archive.org/download/"),
                        item,
                        F.lit("/"),
                    ).alias("url"),
                )
            ).alias("urls"),
            F.array("release_id").alias("release_ids"),
        )
    )
