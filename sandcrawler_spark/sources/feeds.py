"""RSS 2.0 / Atom feed ingestion — the third seed-discovery source
next to curated seedlists and sitemaps (both public protocols; the
reference's equivalent trigger is its fatcat changelog consumer,
``python/sandcrawler_worker.py`` ingest-request path).

Same design as :mod:`.sitemaps`: lenient regex block extraction
(``regexp_extract_all`` + array ``transform``), pure Catalyst, DuckDB-
replayable.  ``feed_entries`` emits the SAME schema as
``sitemap_entries`` — ``(fetch_url, kind, url, lastmod, sm_priority)``
with ``kind='url'`` and the item's pubDate/updated in ``lastmod`` — so
``seeds_from_sitemaps(..., link_source='feed')`` and
``freshness_reingest_seeds`` consume feed entries unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ITEM_BLOCK = r"(?s)<item>(.*?)</item>"
_ENTRY_BLOCK = r"(?s)<entry>(.*?)</entry>"
_RSS_LINK = r"(?s)<link>\s*(.*?)\s*</link>"
_ATOM_LINK = r'(?s)<link[^>]*href="([^"]*)"'
_PUBDATE = r"(?s)<pubDate>\s*(.*?)\s*</pubDate>"
_UPDATED = r"(?s)<updated>\s*(.*?)\s*</updated>"


def _feed(xml_col, block_re: str, link_re: str, date_re: str):
    blocks = F.expr(f"regexp_extract_all({xml_col}, '{block_re}', 1)")
    return F.transform(
        blocks,
        lambda b: F.struct(
            F.lit("url").alias("kind"),
            F.regexp_extract(b, link_re, 1).alias("url"),
            F.nullif(F.regexp_extract(b, date_re, 1), F.lit("")).alias(
                "lastmod"
            ),
            F.lit(None).cast("double").alias("sm_priority"),
        ),
    )


def feed_entries(df: DataFrame) -> DataFrame:
    """Parse the RSS ``<item>`` and Atom ``<entry>`` blocks of
    ``(fetch_url, xml)`` rows into sitemap-shaped entry rows:
    ``(fetch_url, kind='url', url, lastmod, sm_priority=null)``.  RSS
    links come from ``<link>text</link>``, Atom links from
    ``<link href="..."/>``; pubDate/updated land in
    ``lastmod`` verbatim (normalize downstream if comparing to CDX
    datetimes).  Link-less items are dropped."""
    both = F.concat(
        _feed("xml", _ITEM_BLOCK, _RSS_LINK, _PUBDATE),
        _feed("xml", _ENTRY_BLOCK, _ATOM_LINK, _UPDATED),
    )
    return (
        df.select(F.col("fetch_url"), F.explode(both).alias("e"))
        .select("fetch_url", "e.kind", "e.url", "e.lastmod", "e.sm_priority")
        .filter(F.length("url") > 0)
    )
