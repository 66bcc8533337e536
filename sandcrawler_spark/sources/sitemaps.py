"""Sitemap XML ingestion: ``sitemap.xml`` / sitemap-index parsing and
seed-row conversion — the standard crawl seed source the reference
covers with hand-curated seedlists (``sql/`` dump queries + scalding
seedlist jobs); sitemaps.org is the public protocol.

Pure Catalyst: block extraction is one ``regexp_extract_all`` per row
(the lenient regex approach real crawlers use for the 99% of sitemaps
that are near-well-formed XML — no XML parser dependency, no Python in
the plan), field extraction is an array ``transform``.  One explode,
no shuffle until the caller aggregates.  DuckDB replays the identical
RE2-compatible patterns, so every extraction is oracle-checkable.

Scale: a sitemap file is ≤ 50 MB / 50k URLs by spec, so per-row work
is bounded; a 10^10-URL frontier ingests sitemap corpora as ordinary
parquet/JSON-lines rows of ``(fetch_url, xml)`` and this parser fans
them out — the explode is the only row-count amplification (≤ 50k×,
bounded by the spec).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (?s): sitemap entries routinely span lines
_URL_BLOCK = r"(?s)<url>(.*?)</url>"
_SM_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"
_PRIORITY = r"(?s)<priority>\s*(.*?)\s*</priority>"


def _entries(xml_col, block_re: str, kind: str):
    blocks = F.expr(
        f"regexp_extract_all({xml_col}, '{block_re}', 1)"
    )
    return F.transform(
        blocks,
        lambda b: F.struct(
            F.lit(kind).alias("kind"),
            F.regexp_extract(b, _LOC, 1).alias("url"),
            F.nullif(F.regexp_extract(b, _LASTMOD, 1), F.lit("")).alias(
                "lastmod"
            ),
            # try_cast: a malformed <priority> (non-numeric text) must
            # yield null, not abort the scan under ANSI mode (found by
            # the garbage-XML fuzz test).
            F.nullif(F.regexp_extract(b, _PRIORITY, 1), F.lit(""))
            .try_cast("double")
            .alias("sm_priority"),
        ),
    )


def sitemap_entries(df: DataFrame) -> DataFrame:
    """Parse ``(fetch_url, xml)`` sitemap / sitemap-index rows into one
    row per entry: ``(fetch_url, kind, url, lastmod, sm_priority)`` with
    ``kind ∈ {url, sitemap}`` (``sitemap`` rows are child sitemaps from
    an index file, to be fetched and fed back through this parser).
    Entries with an empty ``<loc>`` are dropped; ``lastmod`` /
    ``<priority>`` are optional per the protocol (null when absent)."""
    both = F.concat(
        _entries("xml", _URL_BLOCK, "url"),
        _entries("xml", _SM_BLOCK, "sitemap"),
    )
    return (
        df.select(F.col("fetch_url"), F.explode(both).alias("e"))
        .select("fetch_url", "e.kind", "e.url", "e.lastmod", "e.sm_priority")
        .filter(F.length("url") > 0)
    )


def seeds_from_sitemaps(entries: DataFrame, link_source: str = "sitemap") -> DataFrame:
    """Convert parsed ``kind='url'`` entries to the frontier's ``html``
    seed schema (``datagen.py`` seeds contract): ``<priority>`` becomes
    ``citation_priority`` (spec default 0.5 when absent), the sitemap
    fetch URL becomes ``link_source_id``.  ``seq`` is a deterministic
    dense rank over (url, source) — stable across partitioning."""
    from pyspark.sql import Window

    urls = entries.filter(F.col("kind") == "url").select(
        "url",
        F.col(entries.columns[0]).alias("src_sitemap"),
        F.coalesce("sm_priority", F.lit(0.5)).alias("cp"),
    )
    w = Window.orderBy("url", "src_sitemap")
    # two-phase global rank would be the cluster-scale choice; seeds
    # are bounded (50k/sitemap), so a plain dense ordering is fine here
    return urls.select(
        (F.row_number().over(w) - 1).cast("long").alias("seq"),
        F.lit("html").alias("ingest_type"),
        F.col("url").alias("base_url"),
        F.lit(link_source).alias("link_source"),
        F.col("src_sitemap").alias("link_source_id"),
        F.lit(0).cast("int").alias("priority"),
        F.col("cp").alias("citation_priority"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(False).alias("force_recrawl"),
    )


def freshness_reingest_seeds(
    entries: DataFrame,
    url_seen: DataFrame,
    seq_offset: int = 0,
) -> DataFrame:
    """Freshness-driven re-crawl seeds: sitemap ``lastmod`` vs the
    crawl's recorded fetch datetime.  An already-seen URL whose sitemap
    ``lastmod`` post-dates its ``terminal_dt`` (14-char CDX datetime)
    gets a ``force_recrawl=True`` seed row for the next generation —
    feed the result to ``plans.frontier.run_reingest`` (the reference's
    quarterly dump→reingest cycle, ``sql/dump_reingest_quarterly.sql``,
    with the re-crawl *trigger* coming from the publisher's sitemap
    instead of a fixed quarter).

    ``lastmod`` dates compare against CDX datetimes lexicographically
    after normalization (``YYYY-MM-DD`` → ``YYYYMMDD000000``), i.e. a
    page is due if modified strictly after the capture's day start —
    the conservative reading.  URLs never fetched (no terminal_dt) are
    not emitted: the frontier already owns first fetches.
    """
    from pyspark.sql import Window

    from sandcrawler_spark.functions.urlkeys import canonical_url_udf

    due_key = F.concat(
        F.regexp_replace(F.substring("lastmod", 1, 10), "-", ""),
        F.lit("000000"),
    )
    urls = (
        entries.filter(
            (F.col("kind") == "url") & F.col("lastmod").isNotNull()
        )
        .select(
            F.col("url"),
            canonical_url_udf("url").alias("canonical_url"),
            due_key.alias("lastmod_cdx"),
        )
    )
    seen = url_seen.filter(F.col("terminal_dt").isNotNull()).select(
        "ingest_type", "canonical_url", "terminal_dt"
    )
    due = urls.join(seen, "canonical_url").filter(
        F.col("lastmod_cdx") > F.col("terminal_dt")
    )
    w = Window.orderBy("canonical_url", "ingest_type")
    return due.select(
        (F.row_number().over(w) - 1 + seq_offset).cast("long").alias("seq"),
        F.coalesce("ingest_type", F.lit("html")).alias("ingest_type"),
        F.col("url").alias("base_url"),
        F.lit("sitemap-freshness").alias("link_source"),
        F.col("canonical_url").alias("link_source_id"),
        F.lit(0).cast("int").alias("priority"),
        F.lit(0.9).alias("citation_priority"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(True).alias("force_recrawl"),
    )
