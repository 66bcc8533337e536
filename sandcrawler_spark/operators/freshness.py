"""Adaptive re-crawl scheduling: per-URL change-rate estimation from
capture history and freshness-driven seed re-prioritization.

The reference re-crawls on FIXED schedules: quarterly re-enqueue of
everything retryable (``sql/dump_reingest_quarterly.sql``, modeled by
``plans.frontier.run_reingest``) plus the sitemap ``lastmod`` trigger
(``sources/sitemaps.py``). Fixed schedules waste budget on static pages
and go stale on fast-moving ones. This module adds the estimator the
crawl literature uses instead: each URL's Poisson change rate λ is
estimated from its OWN capture history — ``n`` observations, ``X``
observed content changes (consecutive captures whose digest differs),
total observation span ``T``:

    λ̂ = -log((n - X + 0.5) / (n + 0.5)) / (T / n)

(the bias-corrected frequency estimator of Cho & Garcia-Molina,
"Estimating Frequency of Change", ACM TOIT 3(3), 2003, §4.2 — the +0.5
terms keep it defined when every access saw a change). Expected
staleness at decision time is then ``1 - exp(-λ̂ · age)`` where ``age``
is the time since the last capture; ranking candidates by it yields the
freshness crawl order.

Scale notes (the design points):

- :func:`estimate_change_rates` is ONE window pass (lag over each URL's
  capture sequence; shuffles on the URL key — the same key the crawl's
  capture join already uses) followed by ONE partial-aggregable
  groupBy(url) down to |urls| rows. Per-URL capture counts are bounded
  (CDX dedups revisits), so the window carries no pathological skew.
  All timestamp math uses DIFFERENCES (span, age), so the output is
  timezone-offset-free and engine-portable.
- :func:`rescore_seeds_by_freshness` joins |seeds| against |urls| rates
  keyed on canonical URL — broadcast-or-shuffle exactly like the
  PageRank rescore (``operators/linkgraph.py::refresh_seed_citations``);
  parity with the single-threaded oracle is BY CONSTRUCTION because the
  rescored seeds file is written before either consumer runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400.0


def estimate_change_rates(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    digest_col: str = "sha1b32",
    min_captures: int = 2,
) -> DataFrame:
    """Per-URL Poisson change-rate estimate from dated captures.

    ``captures`` must carry a timestamp column (``ts_col``, castable to
    timestamp) and a content digest (``digest_col``); a change is a
    consecutive pair (ordered by ``ts_col`` then ``digest_col`` for
    totality) whose digests differ. URLs with fewer than
    ``min_captures`` observations or zero span are dropped — one
    observation says nothing about change frequency.

    The decision time for the staleness term is the max capture
    timestamp in the table (deterministic).

    Returns ``(url, n_caps, n_changes, span_seconds, lambda_day,
    staleness)`` — ``lambda_day`` is changes/day (6dp), ``staleness``
    the expected probability the URL changed since its last capture
    (6dp).
    """
    ts = F.col(ts_col).cast("timestamp").cast("double")
    seq = captures.select(
        F.col(url_col).alias("url"),
        ts.alias("__ts"),
        F.col(digest_col).cast("string").alias("__dg"),
    )
    w = Window.partitionBy("url").orderBy("__ts", "__dg")
    seq = seq.withColumn(
        "__chg",
        F.when(F.lag("__dg").over(w).isNull(), F.lit(0))
        .when(F.col("__dg") != F.lag("__dg").over(w), F.lit(1))
        .otherwise(F.lit(0)),
    )
    per = seq.groupBy("url").agg(
        F.count("*").alias("n_caps"),
        F.sum("__chg").alias("n_changes"),
        (F.max("__ts") - F.min("__ts")).alias("span_seconds"),
        F.max("__ts").alias("__last"),
    )
    per = per.filter(
        (F.col("n_caps") >= F.lit(min_captures)) & (F.col("span_seconds") > 0)
    )
    # λ̂ in changes/second, then scaled to /day. X ≤ n-1 keeps the log
    # argument in (0, 1], so λ̂ ≥ 0 always.
    lam = -F.log(
        (F.col("n_caps") - F.col("n_changes") + 0.5) / (F.col("n_caps") + 0.5)
    ) / (F.col("span_seconds") / F.col("n_caps"))
    now = per.agg(F.max("__last").alias("__now"))
    per = per.crossJoin(F.broadcast(now))
    age = F.col("__now") - F.col("__last")
    return per.select(
        "url",
        "n_caps",
        "n_changes",
        # explicit floor: Spark's double→long cast truncates while some
        # engines (DuckDB) round — floor() states the intent portably
        F.floor("span_seconds").cast("long").alias("span_seconds"),
        F.round(lam * SECONDS_PER_DAY, 6).alias("lambda_day"),
        F.round(1.0 - F.exp(-lam * age), 6).alias("staleness"),
    )


def capture_history_rates(captures: DataFrame, min_captures: int = 2) -> DataFrame:
    """Adapter for the crawl's ``capture_history`` layout (datagen /
    CDX shape: ``url``, 14-digit ``datetime`` string, ``sha1b32``)."""
    with_ts = captures.withColumn(
        "__cap_ts", F.to_timestamp(F.col("datetime"), "yyyyMMddHHmmss")
    )
    return estimate_change_rates(
        with_ts, url_col="url", ts_col="__cap_ts",
        digest_col="sha1b32", min_captures=min_captures,
    )


def rescore_seeds_by_freshness(
    spark,
    data_dir: str,
    out_path: str,
    weight: float = 1.0,
) -> int:
    """Offline freshness rescore between crawl generations — the
    adaptive-schedule counterpart of the PageRank citation refresh
    (``linkgraph.py::refresh_seed_citations``; same file contract).

    Reads ``data_dir/capture_history.parquet`` + ``data_dir/
    seeds.parquet``, bumps each seed's ``citation_priority`` by
    ``weight · staleness(seed)`` (expected-change probability since the
    seed's last capture), and writes the refreshed seeds parquet to
    ``out_path``. Seeds without capture history keep their priority
    unchanged. Returns the number of seeds rescored.

    Writes ONE Arrow parquet ordered by ``seq`` (byte-deterministic,
    matches the datagen file contract both the engine and the oracle
    glob).
    """
    import pyarrow.parquet as pq

    from sandcrawler_spark.functions.urlkeys import canonical_url_udf

    rates = capture_history_rates(
        spark.read.parquet(f"{data_dir}/capture_history.parquet")
    ).select(
        F.col("url").alias("_cu"), F.col("staleness").alias("_stale")
    )
    seeds = spark.read.parquet(f"{data_dir}/seeds.parquet")
    keyed = seeds.withColumn("_cu", canonical_url_udf("base_url"))
    joined = keyed.join(rates, "_cu", "left")
    n = joined.filter(F.col("_stale").isNotNull()).count()
    refreshed = (
        joined
        .withColumn(
            "citation_priority",
            F.when(
                F.col("_stale").isNotNull(),
                F.bround(
                    F.col("citation_priority") + F.lit(weight) * F.col("_stale"), 6
                ),
            ).otherwise(F.col("citation_priority")),
        )
        .drop("_cu", "_stale")
        .select(seeds.columns)
    )
    pq.write_table(refreshed.orderBy("seq").toArrow(), out_path, row_group_size=65536)
    return n


def staleness_reingest_seeds(
    captures: DataFrame,
    url_seen: DataFrame,
    tau: float = 0.5,
    min_captures: int = 2,
) -> DataFrame:
    """Change-rate-driven re-crawl seeds: the adaptive twin of
    ``sources.sitemaps.freshness_reingest_seeds`` (same output
    contract, feed to ``plans.frontier.run_reingest``), with the
    re-crawl *trigger* coming from the URL's own estimated change rate
    instead of a publisher sitemap: an already-seen URL whose expected
    staleness ``1 − exp(−λ̂·age)`` is ≥ ``tau`` gets a
    ``force_recrawl=True`` seed row for the next generation.

    ``citation_priority`` carries the staleness itself, so among due
    pages the most-likely-changed are fetched first — the Cho &
    Garcia-Molina crawl ordering. URLs without enough capture history
    (``min_captures``) never become due here: no evidence, no re-crawl
    budget (the fixed quarterly cycle remains the catch-all).

    Scale: the rate table is |multi-capture urls| rows; one equi-join
    against url_seen, then the two-phase global rank
    (``operators.ranking.with_global_rank``) for the seq contract — at
    a 10^10 frontier the due set is itself crawl-scale, so the naive
    ``Window.orderBy`` single-task rank is not acceptable here.
    """
    from sandcrawler_spark.operators.ranking import with_global_rank

    rates = capture_history_rates(captures, min_captures=min_captures)
    seen = url_seen.filter(F.col("terminal_dt").isNotNull()).select(
        "ingest_type", F.col("canonical_url"), "terminal_dt"
    )
    due = (
        rates.filter(F.col("staleness") >= F.lit(tau))
        .select(F.col("url").alias("canonical_url"), "staleness")
        .join(seen, "canonical_url")
    )
    ranked = with_global_rank(due, ["canonical_url", "ingest_type"], rank_col="__rank")
    return ranked.select(
        F.col("__rank").cast("long").alias("seq"),
        F.coalesce("ingest_type", F.lit("html")).alias("ingest_type"),
        F.col("canonical_url").alias("base_url"),
        F.lit("change-rate").alias("link_source"),
        F.col("canonical_url").alias("link_source_id"),
        F.lit(0).cast("int").alias("priority"),
        F.col("staleness").alias("citation_priority"),
        F.lit(0).cast("int").alias("depth"),
        F.lit(True).alias("force_recrawl"),
    )
