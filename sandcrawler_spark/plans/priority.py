"""Shared ranking semantics — defined ONCE and imported by both the
Spark pipeline and the single-threaded oracle, so "byte-identical crawl
order" is a property of shared code, not parallel reimplementation.

Two orderings matter:

1. **Fetch priority** (north_rule heap keys: host-budget, discovery
   depth, citation priority). Within a host's window the next URL to
   fetch is the minimum of :func:`fetch_sort_key`; ties broken by
   canonical URL so the order is total and parallelism-independent
   (SURVEY §7.3 hard part #1).

2. **Best-capture selection** — the reference's 8-component
   ``_cdx_sort_key`` (ia.py:371-390), picking which historical capture
   satisfies a fetch. Reference sorts ascending and takes the LAST row;
   equivalently: maximum under the tuple. We append (datetime, sha1hex)
   tiebreakers to make the order total (the reference relies on CDX API
   return order for ties; a distributed engine cannot).
"""

from __future__ import annotations

SPARK_FETCH_ORDER_COLS = ["priority", "depth", "neg_citation", "canonical_url"]


def fetch_sort_key(priority: int, depth: int, citation_priority: float, canonical_url: str):
    """Ascending sort key: lower tier first, shallower first, more-cited
    first, then URL for totality."""
    return (priority, depth, -citation_priority, canonical_url)


def capture_rank_key(
    url: str,
    target_url: str,
    status_code: int | None,
    mimetype: str,
    best_mimetype: str,
    datetime14: str,
    warc_path: str,
    sha1hex: str,
):
    """DESCENDING-preference tuple: the max-key capture is chosen.

    Components 1-8 reproduce ia.py:371-390 exactly; 9-10 are the
    determinism tiebreakers (datetime repeats component 7; sha1hex is
    the final total-order key).
    """
    return (
        int(url == target_url),
        int(status_code in (200, 226)),
        0 - (status_code or 999),
        int(mimetype == best_mimetype),
        int(mimetype != "warc/revisit"),
        # closest_dt year match against the reference's "00000000"
        # default: batch mode has no 'closest' target
        int(datetime14[:4] == "0000"),
        int(datetime14),
        int("/" in (warc_path or "")),
        sha1hex or "",
    )

