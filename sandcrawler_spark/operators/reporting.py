"""Operational ingest monitoring reports — the reference's Postgres
dashboard queries (sql/monitoring_queries.md) re-expressed as pure
Catalyst plans over (ingest_request, ingest_file_result)-shaped
DataFrames.

The reference runs these by hand against the crawl database to watch a
running ingest: status rollups, broken-domain reports, DOI-prefix
summaries, and per-day throughput (sql/monitoring_queries.md:3-120;
the weekly variants feed sql/ingest_stats/*). Every query there has
the same skeleton — ``FROM ingest_file_result LEFT JOIN ingest_request
ON (ingest_type, base_url)`` with WHERE gates on a time window, an
ingest type, and a request source — so that skeleton is one shared
helper here and each report is a projection/aggregation on top.

Scale notes (10^10-row result tables):

- The join is a plain equi-join on ``(ingest_type, base_url)``; both
  sides are result-table-sized so it shuffles on the key — the same
  shape as the frontier's url_seen join, no skew (base_url is unique
  per request). The WHERE gates on request columns make the LEFT JOIN
  an inner join; Catalyst performs that conversion, so the literal
  reference shape costs nothing.
- All rollups are groupBy counts → map-side partial aggregation; the
  ``LIMIT n`` reports sort only the aggregated groups
  (TakeOrderedAndProject, never a global row sort).
- Time-window + type/source filters are plain column predicates,
  pushed to the parquet/Iceberg scan.
- The reference's top-N is ``ORDER BY COUNT DESC LIMIT n`` — ties at
  the cutoff are picked arbitrarily by Postgres. Here every report
  totalizes the sort key (count desc, then group keys asc) so the
  selected SET is deterministic across partitionings and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Postgres `substring(x FROM '...')` = first capture group, '' / NULL
# on no match on either engine's regexp_extract.
DOMAIN_RE = "[^/]+://([^/]*)"  # monitoring_queries.md:27 (terminal_url host)
DOI_PREFIX_RE = r"(10\.[^/]*)/.*"  # monitoring_queries.md:81 (link_source_id)


def _joined(
    results: DataFrame,
    requests: DataFrame,
    ingest_type: str,
    source: str,
) -> DataFrame:
    """The shared FROM/WHERE skeleton of every monitoring query:
    result LEFT JOIN request ON (ingest_type, base_url), gated on the
    request's ingest_type + ingest_request_source (which collapses the
    left join to inner — the reference relies on the same behavior)."""
    req = requests.select(
        F.col("ingest_type").alias("_req_type"),
        F.col("base_url").alias("_req_url"),
        "created",
        "ingest_request_source",
        "link_source",
        "link_source_id",
    )
    return (
        results.join(
            req,
            (results["ingest_type"] == req["_req_type"])
            & (results["base_url"] == req["_req_url"]),
            "left",
        )
        .filter(
            (F.col("_req_type") == ingest_type)
            & (F.col("ingest_request_source") == source)
        )
        .drop("_req_type", "_req_url")
    )


def ingest_status_rollup(
    results: DataFrame,
    requests: DataFrame,
    now: str,
    window_days: int = 30,
    ingest_type: str = "pdf",
    source: str = "fatcat-changelog",
    limit: int = 20,
) -> DataFrame:
    """'Overall ingest status, past 30 days' (monitoring_queries.md:5-17):
    per (ingest_type, status) counts over requests created inside the
    window, count-desc top-N."""
    return (
        _joined(results, requests, ingest_type, source)
        .filter(F.col("created") >= F.date_sub(F.lit(now).cast("date"), window_days))
        .groupBy("ingest_type", "status")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("status"))
        .limit(limit)
    )


def terminal_domain(url: Column) -> Column:
    """Host of a terminal URL, the reference's
    ``substring(terminal_url FROM '[^/]+://([^/]*)')`` — '' when the
    URL has no scheme (filtered by callers, like the reference's
    ``domain != ''``)."""
    return F.regexp_extract(url, DOMAIN_RE, 1)


def broken_domains(
    results: DataFrame,
    requests: DataFrame,
    now: str,
    window_days: int = 7,
    ingest_type: str = "pdf",
    source: str = "fatcat-ingest",
    limit: int = 25,
) -> DataFrame:
    """'Broken domains, past N days' (monitoring_queries.md:20-43,
    113-134): non-success statuses grouped by terminal-URL host,
    windowed on the RESULT's updated time, count-desc top-N."""
    return (
        _joined(results, requests, ingest_type, source)
        .filter(F.col("updated") >= F.date_sub(F.lit(now).cast("date"), window_days))
        .select(terminal_domain(F.col("terminal_url")).alias("domain"), "status")
        .filter((F.col("domain") != "") & (F.col("status") != "success"))
        .groupBy("domain", "status")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("domain"), F.asc("status"))
        .limit(limit)
    )


def doi_prefix_report(
    results: DataFrame,
    requests: DataFrame,
    now: str,
    window_days: int = 7,
    ingest_type: str = "pdf",
    source: str = "fatcat-changelog",
    min_count: int = 200,
) -> DataFrame:
    """'Summary of DOI prefix and status' (monitoring_queries.md:70-92;
    the weekly sql/ingest_stats dump uses the same shape): DOI-linked
    requests only, prefix from link_source_id, CUBE(doi_prefix, status)
    with a min-count HAVING — the cube's NULL rows are the per-prefix
    and per-status margins the dashboard reads."""
    base = (
        _joined(results, requests, ingest_type, source)
        .filter(F.col("updated") >= F.date_sub(F.lit(now).cast("date"), window_days))
        .filter(F.col("link_source") == "doi")
        .select(
            F.regexp_extract(F.col("link_source_id"), DOI_PREFIX_RE, 1).alias(
                "doi_prefix"
            ),
            "status",
        )
        .filter(F.col("doi_prefix") != "")
    )
    return (
        base.cube("doi_prefix", "status")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > min_count)
    )


def daily_throughput(
    results: DataFrame,
    requests: DataFrame,
    now: str,
    window_days: int = 7,
    ingest_type: str = "pdf",
    source: str = "fatcat-ingest",
) -> DataFrame:
    """'Throughput per day, and success' (monitoring_queries.md:95-110,
    136-151): per-day totals plus a conditional success count — the
    reference's ``COUNT(CASE status WHEN 'success' THEN 1 ELSE null
    END)`` is a count_if here (identical semantics, one pass)."""
    return (
        _joined(results, requests, ingest_type, source)
        .filter(F.col("updated") >= F.date_sub(F.lit(now).cast("date"), window_days))
        .groupBy(
            F.col("ingest_type"),
            F.col("updated").cast("date").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("status") == "success").alias("success"),
        )
    )


def score_histogram(df: DataFrame, score_col: str) -> DataFrame:
    """Classifier-score histogram (sql/pdftrio_queries.md:42-66): the
    reference's ``width_bucket(score * 100, 0.0, 100.0, 19) * 5``
    reports over the pdftrio scores of successful rows. Postgres
    width_bucket semantics are spelled out as explicit arithmetic
    (below 0 → 0, at/above 100 → 20, else equi-width floor) rather
    than an engine builtin, so the replaying oracle evaluates the
    identical float expression.

    One map-side-combinable groupBy over a scan with pushed-down
    filters — nothing here grows with bucket count."""
    x = F.col(score_col) * 100.0
    bucket = (
        F.when(F.col(score_col).isNull(), F.lit(None))
        .when(x < 0.0, F.lit(0))
        .when(x >= 100.0, F.lit(20))
        # the oracle's width_bucket arithmetic, term for term
        .otherwise(F.floor((x - F.lit(0.0)) * 19 / (F.lit(100.0) - F.lit(0.0))) + 1)
    )
    return (
        df.filter(F.col("status") == "success")
        .filter(F.col(score_col).isNotNull())
        .select((bucket * 5).alias("buckets"))
        .groupBy("buckets")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# dump_reingest_quarterly.sql:19-26 (weekly/bulk/old share the shape;
# the source allowlist and windows are the knobs that differ)
REINGEST_SOURCES = (
    "fatcat-changelog",
    "fatcat-ingest",
    "fatcat-ingest-container",
    "unpaywall",
    "arxiv",
    "pmc",
    "doaj",
    "dblp",
)
REINGEST_TYPES = ("pdf", "html", "xml", "component")
# dump_reingest_quarterly.sql:28-35
REINGEST_RETRY_STATUSES = (
    "cdx-error",
    "wayback-error",
    "petabox-error",
    "gateway-timeout",
    "no-capture",
)
# dump_reingest_quarterly.sql:36-43 — spn2-% matches, minus these
REINGEST_SPN2_EXCLUDE = (
    "spn2-error:invalid-url-syntax",
    "spn2-error:filesize-limit",
    "spn2-error:not-found",
    "spn2-error:blocked-url",
    "spn2-error:too-many-redirects",
    "spn2-error:network-authentication-required",
    "spn2-error:unknown",
)


def reingest_candidates(requests: DataFrame, results: DataFrame, now: str) -> DataFrame:
    """The reingest-dump selection (sql/dump_reingest_quarterly.sql —
    weekly/bulk/old are the same query with different windows/source
    allowlists): requests of the four retryable ingest types, created
    inside (now - 91 days, now - 8 hours), from an allowlisted
    source, whose result is a MISS (hit = false) with a transient
    status — 'spn2-%' by prefix minus seven permanent spn2 errors, or
    one of the five named transient statuses. Emits the request rows
    (the reference COPYs row_to_json of ingest_request) plus the
    triggering result status.

    The reference writes LEFT JOIN but every predicate reads the
    result side, which collapses it to inner — mirrored as an explicit
    inner join. Scale shape: both sides filter before ONE equi-join on
    (ingest_type, base_url); the status logic is a codegen'd
    when-chain, no Python."""
    now_ts = F.lit(now).cast("timestamp")
    req = requests.where(
        F.col("ingest_type").isin(list(REINGEST_TYPES))
        & (F.col("created") < now_ts - F.expr("INTERVAL 8 HOURS"))
        & (F.col("created") > now_ts - F.expr("INTERVAL 91 DAYS"))
        & F.col("ingest_request_source").isin(list(REINGEST_SOURCES))
    )
    retryable = (
        F.col("status").startswith("spn2-")
        | F.col("status").isin(list(REINGEST_RETRY_STATUSES))
    ) & ~F.col("status").isin(list(REINGEST_SPN2_EXCLUDE))
    res = results.where((~F.col("hit")) & retryable).select(
        F.col("ingest_type").alias("_r_type"),
        F.col("base_url").alias("_r_url"),
        F.col("status").alias("result_status"),
    )
    return req.join(
        res,
        (req["ingest_type"] == res["_r_type"]) & (req["base_url"] == res["_r_url"]),
    ).drop("_r_type", "_r_url")


# ---------------------------------------------------------- backfill dumps
#
# The reference's extraction-backfill selections (sql/dump_unextracted_
# pdf[_petabox].sql, dump_ungrobid_pdf[_petabox].sql, dump_regrobid_
# pdf[_petabox].sql): "which captured files still need (re-)processing"
# — the feeder jobs for GROBID / pdf_meta batch runs. Each is a semi/
# anti-join funnel on sha1hex over a capture table (cdx or petabox —
# the variants are the SAME funnel over a different capture table, so
# these take the capture DataFrame as an argument) ending in one
# emitted capture row per sha1.
#
# The reference ends in Postgres ``DISTINCT ON (sha1hex)`` with no
# ORDER BY (dump_regrobid does it in the shell: ``sort | uniq -w 40``),
# i.e. an ARBITRARY representative. Arbitrary picks don't survive
# distributed reruns, so the port pins a canonical one — the row
# minimizing (dt, url) — via one sort-free min_by aggregate (the
# same idiom as the frontier's dedup; no window, no global sort, one
# shuffle on sha1hex).
#
# Scale shape: every gate table is reduced to a distinct-key column
# BEFORE its join (semi/anti joins shuffle only sha1hex keys); at
# 10^10 captures the funnel is scan → 2-3 key joins → one partial-agg
# min_by — no row ever carries more than the capture columns.


def _one_per_key(captures: DataFrame) -> DataFrame:
    row = F.struct(*[F.col(c) for c in captures.columns])
    # append the whole row to the ordering struct: ties on (dt, url)
    # then resolve on the remaining columns, so the pick is a TOTAL
    # order — independent of input partitioning/order (two rows that
    # still tie are identical, and either pick is the same row)
    ordk = F.struct(F.col("dt"), F.col("url"), row.alias("__row"))
    agg = captures.groupBy("sha1hex").agg(F.min_by(row, ordk).alias("_row"))
    return agg.select(*[F.col(f"_row.{c}").alias(c) for c in captures.columns])


def backfill_unextracted(
    grobid: DataFrame,
    captures: DataFrame,
    pdf_meta: DataFrame,
    ingest_results: DataFrame | None = None,
) -> DataFrame:
    """dump_unextracted_pdf.sql: capture rows whose sha1 has a GROBID
    row and (cdx variant) a terminal ingest result, but no pdf_meta row
    yet — the pdf_meta backfill feed. The reference's LEFT JOINs +
    IS-NOT-NULL gates are semi-joins and the pdf_meta IS NULL gate an
    anti-join; pass ``ingest_results=None`` for the petabox variant
    (dump_unextracted_pdf_petabox.sql drops that gate)."""
    out = captures.join(
        grobid.select("sha1hex").distinct(), "sha1hex", "left_semi"
    )
    if ingest_results is not None:
        out = out.join(
            ingest_results.select(
                F.col("terminal_sha1hex").alias("sha1hex")
            ).distinct(),
            "sha1hex",
            "left_semi",
        )
    out = out.join(pdf_meta.select("sha1hex").distinct(), "sha1hex", "left_anti")
    return _one_per_key(out)


def backfill_ungrobid(
    captures: DataFrame,
    grobid: DataFrame,
    fatcat_file: DataFrame | None = None,
    mimetype: str | None = "application/pdf",
) -> DataFrame:
    """dump_ungrobid_pdf.sql: captures never successfully GROBIDed —
    NOT EXISTS a grobid row WITH a status (status-less rows don't
    count as attempts). The cdx variant gates on pdf mimetype and
    leaves the fatcat_file EXISTS commented out; the petabox variant
    (dump_ungrobid_pdf_petabox.sql) has no mimetype column and gates
    on fatcat_file — both knobs are arguments here."""
    out = captures
    if mimetype is not None:
        out = out.where(F.col("mimetype") == mimetype)
    out = out.join(
        grobid.where(F.col("status").isNotNull()).select("sha1hex").distinct(),
        "sha1hex",
        "left_anti",
    )
    if fatcat_file is not None:
        out = out.join(fatcat_file.select("sha1hex").distinct(), "sha1hex", "left_semi")
    return _one_per_key(out)


def backfill_regrobid(captures: DataFrame, grobid: DataFrame) -> DataFrame:
    """dump_regrobid_pdf.sql: pdf captures whose grobid row predates
    version tracking (grobid_version IS NULL) — the re-extraction
    feed. The reference's pipeline dedups in the shell afterwards
    (``sort -S 4G | uniq -w 40`` = one line per sha1, 40 hex chars);
    here that is the same min_by pick as the other dumps."""
    out = captures.where(F.col("mimetype") == "application/pdf").join(
        grobid.where(F.col("grobid_version").isNull()).select("sha1hex").distinct(),
        "sha1hex",
        "left_semi",
    )
    return _one_per_key(out)
