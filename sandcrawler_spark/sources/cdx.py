"""CDX-shaped capture filters (F5) and one-hop revisit resolution.

Reference semantics being reproduced: the pig capture filters
(filter-cdx-source-code-crude.pig, filter-cdx-tarball.pig) and the
revisit lookup in ``fetch_petabox`` (ia.py:531-568). Inputs are capture
tables already typed to the CDX columns (surt, datetime, url, mimetype,
http_status, sha1b32, ...); every function here is pure Catalyst.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _sha1_top1(cdx: DataFrame) -> DataFrame:
    """Distinct-by-sha1 keeping one deterministic row (the pig scripts'
    ``GROUP BY sha1sum`` + ``TOP(1, ...)``, filter-cdx-tarball.pig:30-34)
    as a map-side-combinable min_by — no window, no global sort."""
    payload = [c for c in cdx.columns if c != "sha1b32"]
    key = F.struct("surt", "datetime", *[c for c in payload if c not in ("surt", "datetime")])
    return (
        cdx.groupBy("sha1b32")
        .agg(F.min_by(key, key).alias("__r"))
        .select("sha1b32", *[F.col(f"__r.{c}").alias(c) for c in payload])
    )


SOURCE_SUFFIX_RE = r".*\.(c|h|py|java)$"


def filter_source_code(cdx: DataFrame) -> DataFrame:
    """F5a: crude source-code capture filter
    (pig/filter-cdx-source-code-crude.pig:22-30): HTTP 200, text-ish
    mimetype, URL path ends in a source suffix; unique by sha1."""
    return _sha1_top1(
        cdx.filter(
            (F.col("http_status") == 200)
            & F.col("mimetype").rlike(".*text.*")
            & F.col("surt").rlike(SOURCE_SUFFIX_RE)
        )
    )


def filter_tarballs(cdx: DataFrame) -> DataFrame:
    """F5b: tarball capture filter (pig/filter-cdx-tarball.pig:21-34):
    HTTP 200, archive-ish mimetype, '.tar.gz' anywhere in the path
    (case-insensitive); unique by sha1."""
    return _sha1_top1(
        cdx.filter(
            (F.col("http_status") == 200)
            & F.col("mimetype").rlike(".*(octet|gzip|gtar|tgz).*")
            & F.col("surt").rlike(r"(?i).+\.tar\.gz.*")
        )
    )


def normalize_revisit_dt(dt: Column) -> Column:
    """The revisit ``refers_to`` datetime normalization of
    ia.py:542-556: an ISO stamp with sub-second precision is trimmed
    to seconds (`2023-06-23T20:37:30.173133737Z` → 19 chars + Z, then
    [:19]); separators (- : T Z) are stripped to the CDX 14-digit
    form. The reference asserts the pre-strip length is 14/19/20 and
    the post-strip length is 14; out-of-contract stamps yield NULL
    here (the caller maps NULL to the assertion-failure status)."""
    trimmed = F.when(
        (F.length(dt) > 20) & dt.endswith("Z"),
        F.concat(F.substring(dt, 1, 19), F.lit("Z")),
    ).otherwise(dt)
    pre_ok = F.length(trimmed).isin(14, 19, 20)
    digits = F.translate(F.substring(trimmed, 1, 19), "-:TZ", "")
    return F.when(pre_ok & (F.length(digits) == 14) & digits.rlike("^[0-9]{14}$"), digits)


def resolve_revisits(captures: DataFrame) -> DataFrame:
    """One-hop revisit resolution (ia.py:531-568 ``fetch_petabox``):
    a ``warc/revisit`` capture carries ``refers_to`` (uri, dt) naming
    the original record whose body it deduplicates; the reference
    resolves it with one CDX lookup and refuses to recurse
    (``resolve_revisit=False`` on the second hop — a revisit chain is
    an error, :533-534).

    Input: a capture table with at least (url, dt, mimetype, sha1hex,
    refers_to_url, refers_to_dt) — refers_to_* null on non-revisits.

    Output: the input plus (resolve_status, resolved_url, resolved_dt,
    resolved_sha1hex). Statuses mirror the reference's failure modes:
    'original' (not a revisit — passthrough), 'resolved',
    'revisit-missing-ref' (:536-541 WaybackContentError),
    'revisit-bad-dt' (:548,556 assertion contract),
    'revisit-loop' (the target is itself a revisit, :533-534),
    'revisit-not-found' (:566-567 WaybackError on KeyError).

    Scale shape: one equi-join of the revisit subset against the
    capture table on (url, dt) — shuffle keyed by target url/dt, never
    a per-row lookup; skew is bounded because a hot original maps to
    ONE join key. The petabox byte fetch itself is the external
    transport boundary, out of scope like all live fetches."""
    is_rev = F.col("mimetype") == "warc/revisit"
    base = captures.withColumn(
        "_ref_dt_norm", normalize_revisit_dt(F.col("refers_to_dt"))
    )
    # every capture (original OR revisit) is a potential join target —
    # revisit targets must be visible so the one-hop rule can flag
    # them as 'revisit-loop'. One projection of the table, no
    # filter-and-union double scan.
    # (url, dt) is the CDX capture key; if a malformed table carries
    # both an original and a revisit at one key, the original wins
    # (min on is_rev), then min sha1hex — deterministic, never
    # dropDuplicates' partition-order pick.
    lookup = (
        base.select(
            F.col("url").alias("_t_url"),
            F.col("dt").alias("_t_dt"),
            F.col("sha1hex").alias("_t_sha1hex"),
            is_rev.alias("_t_is_rev"),
        )
        .groupBy("_t_url", "_t_dt")
        .agg(
            F.min(
                F.struct(
                    F.col("_t_is_rev").cast("int").alias("r"),
                    F.col("_t_sha1hex").alias("s"),
                )
            ).alias("_m")
        )
        .select(
            "_t_url",
            "_t_dt",
            (F.col("_m.r") == 1).alias("_t_is_rev"),
            F.col("_m.s").alias("_t_sha1hex"),
        )
    )
    # Null-key skew guard: ~70% of rows (originals, plus revisits with
    # missing/bad refs) carry NULL join keys, and a left join ships
    # every null-keyed row to ONE partition at 10^11 scale. Coalescing
    # to the row's own (url, dt) keeps the keys non-null and
    # distributed; the resulting self-match is inert — the status
    # when-chain decides original/missing-ref/bad-dt BEFORE it ever
    # reads the joined columns, and resolved_* reads them only on
    # status == 'resolved'.
    joined = base.join(
        lookup,
        (F.coalesce(F.col("refers_to_url"), F.col("url")) == F.col("_t_url"))
        & (F.coalesce(F.col("_ref_dt_norm"), F.col("dt")) == F.col("_t_dt")),
        "left",
    )
    missing_ref = (
        F.col("refers_to_url").isNull()
        | (F.col("refers_to_url") == "")
        | F.col("refers_to_dt").isNull()
        | (F.col("refers_to_dt") == "")
    )
    status = (
        F.when(~is_rev, F.lit("original"))
        .when(missing_ref, F.lit("revisit-missing-ref"))
        .when(F.col("_ref_dt_norm").isNull(), F.lit("revisit-bad-dt"))
        .when(F.col("_t_url").isNull(), F.lit("revisit-not-found"))
        .when(F.col("_t_is_rev"), F.lit("revisit-loop"))
        .otherwise(F.lit("resolved"))
    )
    ok = status == "resolved"
    return joined.select(
        *captures.columns,
        status.alias("resolve_status"),
        F.when(~is_rev, F.col("url")).when(ok, F.col("_t_url")).alias("resolved_url"),
        F.when(~is_rev, F.col("dt")).when(ok, F.col("_t_dt")).alias("resolved_dt"),
        F.when(~is_rev, F.col("sha1hex"))
        .when(ok, F.col("_t_sha1hex"))
        .alias("resolved_sha1hex"),
    )
