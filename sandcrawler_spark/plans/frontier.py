"""The crawl frontier scheduler: one scheduling round = one declarative
DataFrame job (SURVEY §3.1 "Spark shape"; north_rule).

Pipeline per round (all stages Catalyst-planned; Python appears only in
the two canonicalization pandas UDFs):

    frontier candidates
      → in-batch dedup (keep best fetch-priority per identity)     [A8/W1]
      → anti-join url_seen (bloom prefilter + exact confirm)       [J3/J8]
      → broadcast-join robots/blocklist (block/wall/cookie gates)  [F6/J1]
      → salted per-host politeness window (two-phase top-k)        [W3]
      → distributed global fetch ranking (total order)             [W2/O1]
      → fetch simulation: best-capture selection over capture
        history (the 8-key ranking of ia.py:371-390)               [W2]
      → status resolution (mimetype gates, redirect/loop/hop rules)
      → outlink + redirect expansion (explode link spans)          [docs]
      → url_seen/counters delta committed to the snapshot store

The reference processes one request at a time inside a Python while
loop (ingest_file.py:637-846); here the whole frontier moves through the
same state machine as set operations, with hop depth = round index and
loop state (``hops``) carried as an array column.

Determinism under parallelism (SURVEY §7.3 #1): every window and the
global ranking order by a TOTAL key — (priority, depth, -citation,
canonical_url) — so output is identical at local[8] and local[32] and
matches the single-threaded oracle byte-for-byte.
"""

from __future__ import annotations

import glob
import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.dataset as pads
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sandcrawler_spark.functions.urlkeys import canonical_url_udf, resolve_url_udf
from sandcrawler_spark.operators.bloom import BloomStore, seen_anti_join
from sandcrawler_spark.operators.ranking import with_global_rank
from sandcrawler_spark.plans import schemas as S
from sandcrawler_spark.plans.state import SnapshotStore

DEFAULT_BUDGET = 3
SALT_BUCKETS = 8
# token-bucket politeness: bucket capacity = CAP_MULT × per-round refill
# (the robots host_budget); refill happens once per scheduling round
TOKEN_BUCKET_CAP_MULT = 2
# robots-rules join strategy cutover: up to this many robots.parquet rows
# (footer count, an upper bound on the deduped rule rows) the rules side
# is broadcast (one hash map per executor, zero shuffle);
# above it — e.g. 10^8 hosts at the 10^10-URL design point — the join
# falls back to a shuffle join on host, where AQE's skew-join splitting
# defuses hot-host partitions (politeness salting happens downstream)
RULES_BROADCAST_MAX = 4_000_000
# compaction cadence: a base is rewritten once the rows added since it
# outgrow it by COMPACT_FACTOR and number at least COMPACT_MIN_ROWS
COMPACT_FACTOR = 2.0
COMPACT_MIN_ROWS = 50_000

def _fetch_order_cols():
    """Total fetch-priority order (north_rule heap keys + URL totality).
    A function, not a module constant: Column construction requires an
    active SparkContext."""
    return [
        F.col("priority").asc(),
        F.col("depth").asc(),
        F.col("citation_priority").desc(),
        F.col("canonical_url").asc(),
    ]

# per-ingest-type acceptable terminal mimetype (gate F7, ingest_file.py:876-901)
_MIME_GATE = {"pdf": "application/pdf", "html": "text/html", "xml": "text/xml"}


def prepare_seeds(seeds: DataFrame) -> DataFrame:
    """Seeds → frontier rows: canonicalize (vectorized UDF), derive host,
    attach empty hop chain.

    The explicit repartition matters: seed files are byte-small but the
    UDF is per-row expensive — without it a single-file scan would run
    the canonicalization on one core."""
    parallelism = int(seeds.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if "force_recrawl" not in seeds.columns:
        seeds = seeds.withColumn("force_recrawl", F.lit(False))
    return (
        seeds.repartition(parallelism)
        .withColumn("canonical_url", canonical_url_udf("base_url"))
        .filter(F.col("canonical_url").isNotNull())
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .select(
            "ingest_type",
            "canonical_url",
            "host",
            "priority",
            F.col("citation_priority"),
            "depth",
            F.array().cast("array<string>").alias("hops"),
            "seq",
            F.coalesce("force_recrawl", F.lit(False)).alias("force_recrawl"),
            F.lit(0).alias("attempt"),
            F.lit(0).alias("not_before"),
        )
    )


def _dedup_candidates(frontier: DataFrame) -> DataFrame:
    """In-batch dedup per (ingest_type, canonical_url), keeping the best
    fetch-priority row (ties → lowest seq: deterministic). Reference
    analogue: batch key-dedup before upsert (db.py:186-190) — but
    priority-best instead of last-wins, because this batch is a work
    queue, not a persistence buffer.

    The order key is TOTAL over the row payload: two discovery paths
    can reach the same URL at equal (priority, depth, citation, seq)
    but different hop chains, so the hop chain itself is the final
    tiebreaker — without it the kept row is arbitrary across
    parallelism and later link-loop detection diverges. The oracle
    dedups with the same key.

    Plan: ``min_by`` over an ordering struct in ONE hash aggregation —
    NO window, NO sort. Partial aggregation collapses duplicates
    map-side, so the shuffle carries ≈ one row per distinct key instead
    of the whole frontier pool, and nothing is ever sorted. (The
    previous row_number window shuffled AND sorted the full pool every
    round — the dominant non-scaling cost of the scheduling job.)"""
    keys = ["ingest_type", "canonical_url"]
    payload = [c for c in frontier.columns if c not in keys]
    order_cols = [
        F.col("priority"),
        F.col("depth"),
        (-F.col("citation_priority")).alias("neg_cite"),
        F.col("seq"),
        F.concat_ws("|", "hops").alias("hopchain"),
        # retry rows carry the same (priority, depth, cite, seq, hops)
        # as the stale attempt-0 copy still in the append-only pool —
        # the HIGHEST attempt must win the dedup so its `not_before`
        # backoff gate shields the key during the wait window.
        (-F.col("attempt")).alias("neg_attempt"),
    ]
    order = F.struct(*order_cols)
    return (
        frontier.groupBy(*keys)
        .agg(
            F.min_by(F.struct(*payload), order).alias("__b"),
            F.max(F.col("force_recrawl").cast("int")).alias("__f"),
        )
        .select(
            *keys,
            *[
                F.col(f"__b.{c}").alias(c)
                for c in payload
                if c != "force_recrawl"
            ],
            (F.col("__f") == 1).alias("force_recrawl"),
        )
        .select(frontier.columns)  # original column order
    )


def _politeness_select(candidates: DataFrame) -> DataFrame:
    """Two-phase salted per-host top-``host_budget`` (W3; SURVEY §7.3 #3).

    Phase 1 ranks within (host, salt) — SALT_BUCKETS parallel windows per
    hot host — and keeps ≤ budget per salt; phase 2 ranks the surviving
    ≤ budget·S rows within host. The per-salt survivors are a superset of
    the true per-host top-budget, so the result is exact while no single
    task ever sorts a whole hot host's frontier."""
    order = _fetch_order_cols()
    salted = candidates.withColumn(
        "__salt", F.pmod(F.xxhash64("canonical_url"), F.lit(SALT_BUCKETS))
    )
    w1 = Window.partitionBy("host", "__salt").orderBy(*order)
    pre = salted.withColumn("__r1", F.row_number().over(w1))
    # Rows past the per-salt budget CANNOT be in the host's top-budget
    # (each salt already contributes its best `budget`), so they skip the
    # phase-2 sort — but they MUST stay in the output as unselected:
    # non-selected candidates are next round's frontier, not waste.
    finalists = pre.filter(F.col("__r1") <= F.col("host_budget")).drop("__r1")
    overflow = (
        pre.filter(F.col("__r1") > F.col("host_budget"))
        .drop("__r1", "__salt")
        .withColumn("selected", F.lit(False))
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = (
        finalists.withColumn("__r2", F.row_number().over(w2))
        .withColumn("selected", F.col("__r2") <= F.col("host_budget"))
        .drop("__salt", "__r2")
    )
    return ranked.unionByName(overflow)


def _best_capture(fetch: DataFrame, captures: DataFrame) -> DataFrame:
    """Left-join the fetch list to capture history and keep the max-rank
    capture per candidate under the reference's 8-key preference tuple
    (ia.py:371-390) + (datetime, sha1hex) totality tiebreakers."""
    best_mime = F.coalesce(
        *[F.when(F.col("ingest_type") == t, F.lit(m)) for t, m in _MIME_GATE.items()],
        F.lit("application/octet-stream"),
    )
    cap = captures.select(
        F.col("url").alias("cap_url"),
        F.col("datetime").alias("cap_dt"),
        F.col("mimetype").alias("cap_mime"),
        F.col("status_code").alias("cap_status"),
        F.col("sha1hex").alias("cap_sha1hex"),
        F.col("warc_path").alias("cap_warc_path"),
        F.col("location").alias("cap_location"),
    )
    joined = fetch.withColumn("best_mimetype", best_mime).join(
        cap, fetch.canonical_url == cap.cap_url, "left"
    )
    # ia.py:371-390 tuple, descending preference
    w = Window.partitionBy("ingest_type", "canonical_url").orderBy(
        (F.col("cap_url") == F.col("canonical_url")).cast("int").desc(),
        F.col("cap_status").isin(200, 226).cast("int").desc(),
        (F.lit(0) - F.coalesce("cap_status", F.lit(999))).desc(),
        (F.col("cap_mime") == F.col("best_mimetype")).cast("int").desc(),
        (F.col("cap_mime") != F.lit("warc/revisit")).cast("int").desc(),
        F.lit(0).desc(),  # closest_dt year match: batch mode has no 'closest' target
        # try_cast: a malformed (non-digit / overflowing) capture datetime
        # must rank worst under ANSI mode, not throw — desc puts nulls last
        F.col("cap_dt").try_cast("long").desc(),
        F.col("cap_warc_path").contains("/").cast("int").desc(),
        F.col("cap_sha1hex").desc(),
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "cap_url")
    )


def _resolve_status(fetched: DataFrame, retries_enabled: bool = False) -> DataFrame:
    """Terminal status state machine (ingest_file.py:637-901 flattened).

    The redirect Location is resolved against the fetch URL FIRST
    (C11 urljoin — ia.py:894): loop detection, terminal_url, and the
    redirect expansion all see the absolute canonical target. A
    Location that fails resolution is treated like a missing one
    (terminal-bad).

    ``retries_enabled`` splits the non-2xx/3xx bucket: rate-limit /
    server-error codes (schemas.TRANSIENT_HTTP_CODES) classify as
    STATUS_TRANSIENT so run_round can re-enqueue them with backoff;
    disabled (the default) keeps the historical terminal-bad mapping
    byte-for-byte."""
    fetched = fetched.withColumn(
        "cap_location",
        F.when(
            F.col("cap_status").isin(301, 302, 303, 307, 308),
            resolve_url_udf(F.col("canonical_url"), F.col("cap_location")),
        ),
    )
    # NULL-guarded: a 200 capture with NULL mimetype for a gated type is
    # wrong-mimetype, not success (a bare `cap_mime == m` is NULL for
    # NULL mime and would fall through coalesce to the accept-all True).
    mime_ok = F.coalesce(
        *[
            F.when(
                F.col("ingest_type") == t,
                F.coalesce(F.col("cap_mime") == F.lit(m), F.lit(False)),
            )
            for t, m in _MIME_GATE.items()
        ],
        F.lit(True),  # src/component/file accept any mimetype
    )
    is_redirect = F.col("cap_status").isin(301, 302, 303, 307, 308)
    status = (
        F.when(F.col("cap_status").isNull(), F.lit(S.STATUS_NO_CAPTURE))
        .when(
            F.col("cap_status").isin(200, 226),
            F.when(mime_ok, F.lit(S.STATUS_SUCCESS)).otherwise(F.lit(S.STATUS_WRONG_MIME)),
        )
        .when(
            is_redirect,
            F.when(F.col("cap_location").isNull(), F.lit(S.STATUS_TERMINAL_BAD))
            .when(
                F.array_contains(F.col("hops"), F.col("cap_location"))
                | (F.col("cap_location") == F.col("canonical_url")),
                F.lit(S.STATUS_LINK_LOOP),
            )
            .when(F.col("depth") + 1 >= F.lit(S.MAX_HOPS), F.lit(S.STATUS_MAX_HOPS))
            .otherwise(F.lit(S.STATUS_REDIRECT)),
        )
    )
    if retries_enabled:
        status = status.when(
            F.col("cap_status").isin(*S.TRANSIENT_HTTP_CODES),
            F.lit(S.STATUS_TRANSIENT),
        )
    status = status.otherwise(F.lit(S.STATUS_TERMINAL_BAD))
    return fetched.withColumn("status", status).withColumn(
        "hit", F.col("status") == S.STATUS_SUCCESS
    )


def resolve_url_seen(url_seen: DataFrame) -> DataFrame:
    """Last-round-wins resolution over accumulated url_seen deltas — the
    read-side form of the reference's ON CONFLICT UPDATE for results
    (db.py:474-485), needed once force_recrawl rows exist (they write a
    second row for an already-seen key). Iceberg MERGE resolves in place
    in production; applied only when the manifest records forced rows.

    Plan: ``max_by(payload, round_id)`` in ONE groupBy — map-side
    partial aggregation collapses the (overwhelmingly single-row)
    majority before the shuffle, so nothing is ever globally sorted the
    way the previous full-history row_number window was. round_id is
    unique per key (the anti-join guarantees in-round key novelty), so
    the result is deterministic."""
    keys = ["ingest_type", "canonical_url"]
    payload = [c for c in url_seen.columns if c not in keys]
    return (
        url_seen.groupBy(*keys)
        .agg(F.max_by(F.struct(*payload), F.col("round_id")).alias("__r"))
        .select(*keys, *[F.col(f"__r.{c}").alias(c) for c in payload])
    )


def _dedup_rules(robots: DataFrame) -> DataFrame:
    """One rule row per host, ENFORCED before any join: the ROBOTS
    schema invites multiple rows per host, and a duplicate rule would
    duplicate every candidate on that host (double-scheduling +
    duplicate url_seen rows). Policy: lexicographic-min rule wins —
    deterministic, mirrored by the oracle."""
    return (
        robots.groupBy("host")
        .agg(F.min(F.struct("rule_kind", "path_prefix", "host_budget")).alias("__r"))
        .select("host", "__r.rule_kind", "__r.path_prefix", "__r.host_budget")
    )


def _new_candidates(
    candidates: DataFrame,
    url_seen: DataFrame,
    generation: int = 0,
    has_forced: bool = True,
    bloom: BloomStore | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """Drop candidates already processed: the URL-seen anti-join with
    bloom prefilter (J3/J8; SURVEY §7.0) for unforced rows, the
    generation gate for force_recrawl rows.

    force_recrawl rows BYPASS the seen-check (reference: force_recrawl
    skips check_existing_ingest, ingest_file.py:633-635) — but only
    against results of an EARLIER crawl generation, so a forced request
    is re-done once per re-ingest cycle, not once per round; its new
    result row supersedes the old one (ON CONFLICT UPDATE,
    db.py:474-485 — resolved last-round-wins at url_seen read time).
    ``has_forced=False`` (driver knows no seed table carries forced
    rows) skips the whole forced branch INCLUDING the per-round
    max-generation shuffle over the accumulated seen set.

    The frontier compactor calls the same ``seen_anti_join`` for its
    unforced rows, so it removes exactly the rows the next round's
    filter would remove anyway (digest neutrality); it keeps forced rows
    unconditionally rather than applying the generation gate here.
    """
    unforced = (
        candidates.filter(~F.col("force_recrawl")) if has_forced else candidates
    )
    new_unforced = seen_anti_join(
        unforced,
        url_seen,
        keys=["ingest_type", "canonical_url"],
        hash_key="canonical_url",
        bloom=bloom,  # incrementally-maintained sharded bloom
        scratch=scratch,
    )
    if not has_forced:
        return new_unforced
    forced = candidates.filter(F.col("force_recrawl"))
    seen_gen = url_seen.groupBy(
        F.col("ingest_type").alias("g_type"),
        F.col("canonical_url").alias("g_url"),
    ).agg(F.max("generation").alias("g_gen"))
    new_forced = (
        forced.join(
            seen_gen,
            (F.col("ingest_type") == F.col("g_type"))
            & (F.col("canonical_url") == F.col("g_url")),
            "left",
        )
        .filter(F.col("g_gen").isNull() | (F.col("g_gen") < F.lit(generation)))
        .drop("g_type", "g_url", "g_gen")
    )
    return new_unforced.unionByName(new_forced)


@dataclass
class RoundResult:
    fetch_ranked: DataFrame      # selected fetch list with global 'rank'
    url_seen_delta: DataFrame
    next_frontier: DataFrame
    # the persisted fetch-result cache every output derives from; one
    # action on it materializes the whole round's shared lineage, after
    # which url_seen_delta / fetch_ranked / next_frontier are pure
    # cache readers (run_crawl uses this to submit ALL per-round writes
    # concurrently without race-computing shared stages)
    fetched: DataFrame | None = None


def run_round(
    spark: SparkSession,
    frontier: DataFrame,
    url_seen: DataFrame | None,
    robots: DataFrame,
    captures: DataFrame,
    docs: DataFrame,
    round_id: int,
    default_budget: int = DEFAULT_BUDGET,
    bloom: BloomStore | None = None,
    scratch: list | None = None,
    generation: int = 0,
    has_forced: bool = True,
    host_tokens: DataFrame | None = None,
    prepared_rules: DataFrame | None = None,
    rules_broadcastable: bool = True,
    max_retries: int = 0,
) -> RoundResult:
    scratch = scratch if scratch is not None else []
    candidates = _dedup_candidates(frontier)
    if max_retries > 0:
        # Backoff gate: a retry row dormant until `not_before` wins the
        # dedup above (highest attempt), so dropping it HERE shields its
        # key for the whole wait window — the row resurfaces from the
        # append-only pool once round_id catches up.
        candidates = candidates.filter(F.col("not_before") <= F.lit(round_id))

    # --- URL-seen anti-join (bloom prefilter + exact confirm; SURVEY §7.0)
    if url_seen is not None:
        candidates = _new_candidates(
            candidates,
            url_seen,
            generation=generation,
            has_forced=has_forced,
            bloom=bloom,
            scratch=scratch,
        )

    # --- robots / blocklist / budget (F6/J1). Small rules side →
    # broadcast; a rules table past RULES_BROADCAST_MAX (the 10^8-host
    # design point) shuffle-joins on host instead, with AQE skew-join
    # splitting the hot-host partitions.
    rules = (
        prepared_rules if prepared_rules is not None else _dedup_rules(robots)
    ).withColumnRenamed("host", "r_host")
    if rules_broadcastable:
        rules = F.broadcast(rules)
    candidates = candidates.join(rules, F.col("host") == F.col("r_host"), "left").drop(
        "r_host"
    )
    path = F.parse_url("canonical_url", F.lit("PATH"))
    block_status = (
        F.when(F.col("rule_kind") == "block", F.lit(S.STATUS_BLOCKLIST))
        .when(
            (F.col("rule_kind") == "cookie") & path.startswith(F.col("path_prefix")),
            F.lit(S.STATUS_COOKIE),
        )
        .when(
            (F.col("rule_kind") == "wall") & path.startswith(F.col("path_prefix")),
            F.lit(S.STATUS_WALL),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    candidates = candidates.withColumn("block_status", block_status).withColumn(
        "host_budget", F.coalesce("host_budget", F.lit(default_budget))
    )
    # --- token-bucket politeness (north_star: per-host token buckets on
    # a hosts table): this round's effective budget is the host's whole
    # available token count — an idle host accumulates tokens (up to its
    # bucket capacity) and may BURST above the steady per-round rate,
    # unlike the flat budget. `host_tokens` is the persisted hosts-state
    # table maintained by run_crawl; hosts never seen before start full.
    if host_tokens is not None:
        tok = host_tokens.select(F.col("host").alias("t_host"), "tokens")
        if rules_broadcastable:  # hosts state is bounded by rule cardinality
            tok = F.broadcast(tok)
        candidates = candidates.join(
            tok, F.col("host") == F.col("t_host"), "left"
        ).drop("t_host")
        candidates = candidates.withColumn(
            "host_budget",
            F.floor(
                F.coalesce(
                    F.col("tokens"),
                    F.col("host_budget") * F.lit(TOKEN_BUCKET_CAP_MULT),
                )
            ).cast("int"),
        ).drop("tokens")
    # columnar persist, not localCheckpoint: checkpoint blocks are
    # deserialized rows and thrash GC at high task concurrency
    candidates = candidates.persist()
    scratch.append(candidates)  # reused 3×: blocked/select/leftover

    blocked = candidates.filter(F.col("block_status").isNotNull())
    eligible = candidates.filter(F.col("block_status").isNull())

    # --- politeness window (salted two-phase top-k per host)
    sel = _politeness_select(eligible)
    sel = sel.persist()
    scratch.append(sel)
    fetch_list = sel.filter("selected").drop("selected", "rule_kind", "path_prefix", "block_status")

    # --- global deterministic fetch order
    fetch_ranked = with_global_rank(
        fetch_list, _fetch_order_cols(), rank_col="rank", scratch=scratch
    )
    fetch_ranked = fetch_ranked.persist()
    scratch.append(fetch_ranked)

    # --- fetch simulation + status machine
    fetched = _resolve_status(
        _best_capture(fetch_ranked, captures), retries_enabled=max_retries > 0
    )
    fetched = fetched.persist()  # reused: results + expansions
    scratch.append(fetched)
    fetched_cached = fetched  # pre-retry-split handle (see RoundResult)

    # --- transient-failure retry split (reference: transient worker
    # errors are re-enqueued, not recorded as terminal results). A
    # transient fetch with attempts left produces NO url_seen row — it
    # re-enters the frontier with attempt+1 and an exponential-backoff
    # round gate (eligible again at round_id + 2^attempt). Exhausted
    # rows fall through to url_seen with the remote-server-error slug.
    retries = None
    if max_retries > 0:
        retryable = (F.col("status") == S.STATUS_TRANSIENT) & (
            F.col("attempt") < F.lit(max_retries)
        )
        retries = (
            fetched.filter(retryable)
            .withColumn(
                "not_before",
                (F.lit(round_id) + F.expr("shiftleft(1, attempt)")).cast("int"),
            )
            .withColumn("attempt", (F.col("attempt") + 1).cast("int"))
            .select(frontier.columns)
        )
        fetched = fetched.filter(~retryable)

    # --- url_seen delta (insert-new-only ↔ ON CONFLICT DO NOTHING, db.py:474)
    seen_cols = [
        "ingest_type",
        "canonical_url",
        F.xxhash64("canonical_url").alias("url_hash"),
        "hit",
        "status",
        F.when(F.col("status") == S.STATUS_REDIRECT, F.col("cap_location"))
        .otherwise(F.col("canonical_url"))
        .alias("terminal_url"),
        F.col("cap_dt").alias("terminal_dt"),
        F.col("cap_status").alias("terminal_status_code"),
        F.col("cap_sha1hex").alias("terminal_sha1hex"),
        F.lit(round_id).alias("round_id"),
        F.col("force_recrawl").alias("forced"),
        F.lit(generation).alias("generation"),
    ]
    seen_delta = fetched.select(*seen_cols).unionByName(
        blocked.select(
            "ingest_type",
            "canonical_url",
            F.xxhash64("canonical_url").alias("url_hash"),
            F.lit(False).alias("hit"),
            F.col("block_status").alias("status"),
            F.lit(None).cast("string").alias("terminal_url"),
            F.lit(None).cast("string").alias("terminal_dt"),
            F.lit(None).cast("int").alias("terminal_status_code"),
            F.lit(None).cast("string").alias("terminal_sha1hex"),
            F.lit(round_id).alias("round_id"),
            F.col("force_recrawl").alias("forced"),
            F.lit(generation).alias("generation"),
        )
    )

    # --- expansion 1: redirect targets (depth+1, hop chain extended).
    # cap_location is ALREADY resolved+canonical (C11 in _resolve_status)
    # — no second canonicalization pass.
    redirects = (
        fetched.filter(F.col("status") == S.STATUS_REDIRECT)
        .select(
            "ingest_type",
            F.col("cap_location").alias("canonical_url"),
            "priority",
            (F.col("depth") + 1).alias("depth"),
            "citation_priority",
            F.array_append("hops", F.col("canonical_url")).alias("hops"),
            "seq",
            F.lit(False).alias("force_recrawl"),
            F.lit(0).alias("attempt"),
            F.lit(0).alias("not_before"),
        )
        .filter(F.col("canonical_url").isNotNull())
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .select(frontier.columns)
    )

    # --- expansion 2: outlinks of successful HTML fetches (explode link
    #     spans of the interleaved docs table; ingest_html resource model)
    html_hits = fetched.filter(
        (F.col("status") == S.STATUS_SUCCESS)
        & (F.col("cap_mime") == "text/html")
        & (F.col("depth") + 1 < S.MAX_HOPS)
    )
    outlinks = (
        html_hits.join(docs, html_hits.cap_sha1hex == docs.doc_id, "inner")
        .select(
            "ingest_type",
            "priority",
            "depth",
            "citation_priority",
            "hops",
            "seq",
            F.col("canonical_url").alias("parent_url"),
            F.explode("spans").alias("span"),
        )
        .filter(F.col("span.kind") == "link")
        .select(
            "ingest_type",
            # C11: hrefs are resolved against the page they were
            # extracted from (html_metadata.py:1062-1064) — a relative
            # media_ref becomes an absolute canonical URL here
            resolve_url_udf(F.col("parent_url"), F.col("span.media_ref")).alias(
                "canonical_url"
            ),
            F.lit(2).alias("priority"),  # discovered links enter at bulk tier
            (F.col("depth") + 1).alias("depth"),
            F.bround(F.col("citation_priority") * 0.5, 6).alias("citation_priority"),
            F.array_append("hops", F.col("parent_url")).alias("hops"),
            "seq",
            F.lit(False).alias("force_recrawl"),
            F.lit(0).alias("attempt"),
            F.lit(0).alias("not_before"),
        )
        .filter(F.col("canonical_url").isNotNull())
        .filter(~F.array_contains(F.col("hops"), F.col("canonical_url")))
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .select(frontier.columns)
    )

    # Append-only frontier (Iceberg-native layout): ONLY the newly
    # discovered candidates are emitted; un-selected leftovers are
    # re-derived next round from the accumulated additions via the seen
    # anti-join, instead of rewriting the whole frontier every round
    # (O(additions) writes per round instead of O(frontier)).
    additions = redirects.unionByName(outlinks)
    if retries is not None:
        additions = additions.unionByName(retries)

    return RoundResult(fetch_ranked, seen_delta, additions, fetched_cached)


def _assemble_frontier(
    spark: SparkSession, store: SnapshotStore, upto_round: int
) -> tuple[DataFrame | None, int]:
    """Candidate sources for a round: compaction base (if any) ∪ seed
    tables registered after the compaction ∪ frontier_add deltas since
    the compaction. Returns (frontier, input_row_count) — the count is
    derived from manifest counters, no Spark action."""
    comp = store.compaction
    comp_round = comp["round"] if comp else -1
    frontier = None
    input_rows = 0
    if comp is not None:
        frontier = spark.read.parquet(store.aux_path(comp["table"]))
        input_rows += comp["rows"]
    for st_name in store.seed_tables:
        if store.seed_table_round(st_name) <= comp_round:
            continue  # folded into the compaction base
        t = spark.read.parquet(store.aux_path(st_name))
        frontier = t if frontier is None else frontier.unionByName(t)
        input_rows += store.seed_table_rows(st_name)
    adds = store.read_table(
        "frontier_add",
        upto_round=upto_round,
        from_round=comp_round + 1 if comp else None,
    )
    if adds is not None:
        frontier = adds if frontier is None else frontier.unionByName(adds)
        counters = store.counters()
        input_rows += sum(
            counters.get(str(r), {}).get("frontier_rows", 0)
            for r in range(comp_round + 1, upto_round + 1)
        )
    return frontier, input_rows


def _compact_frontier(
    spark: SparkSession,
    store: SnapshotStore,
    round_id: int,
    bloom: BloomStore,
) -> None:
    """Rewrite the accumulated frontier sources as ONE base table of
    still-active candidates, so the next rounds' candidate scan is
    O(active frontier) instead of O(cumulative additions) (VERDICT r2
    item 2; Iceberg analogue: snapshot compaction / rewrite_data_files).

    Digest-neutral by construction: unforced rows removed here are
    exactly the rows the per-round URL-seen filter (the same
    ``seen_anti_join``) would remove anyway, ``_dedup_candidates`` is
    associative over unions, and force_recrawl rows are kept
    UNCONDITIONALLY — they stay dormant while their generation matches
    but re-arm when a re-ingest bumps the generation, exactly as under
    append-only assembly."""
    frontier, _ = _assemble_frontier(spark, store, upto_round=round_id)
    if frontier is None:
        return
    cand = _dedup_candidates(frontier)
    url_seen = store.read_table("url_seen", upto_round=round_id)
    scratch: list[DataFrame] = []
    has_forced = store.forced_seeds > 0
    if url_seen is not None:
        unforced = cand.filter(~F.col("force_recrawl")) if has_forced else cand
        kept = seen_anti_join(
            unforced,
            url_seen,
            keys=["ingest_type", "canonical_url"],
            hash_key="canonical_url",
            bloom=bloom,
            scratch=scratch,
        )
        if has_forced:
            kept = kept.unionByName(cand.filter(F.col("force_recrawl")))
    else:
        kept = cand
    name = f"frontier_base_r{round_id:05d}"
    obs = Observation()
    kept.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        store.aux_path(name)
    )
    store.set_compaction(round_id, name, int(obs.get["n"]))
    _release(scratch)
    # the committed base supersedes every older one (and any url_seen
    # base a bucketed-seen crawl left behind): nothing reads them now
    for old in glob.glob(store.aux_path("frontier_base_r*")) + glob.glob(
        store.aux_path("seen_base_r*")
    ):
        if os.path.basename(old) != name:
            shutil.rmtree(old)


def _compaction_due(since: int, base: int) -> bool:
    """True when the rows added since the last base outgrow it by
    COMPACT_FACTOR and number at least COMPACT_MIN_ROWS."""
    return since >= COMPACT_MIN_ROWS and since > COMPACT_FACTOR * max(base, 1)


def _release(dfs: list[DataFrame]) -> None:
    """Unpersist every DataFrame in ``dfs`` and empty the list."""
    for df in dfs:
        df.unpersist()
    dfs.clear()


@dataclass
class _Crawl:
    """What the phases of one ``run_crawl`` call share: the session, the
    committed state and its bloom, the cached rules table and the
    crawl's options."""

    spark: SparkSession
    store: SnapshotStore
    bloom: BloomStore
    rules: DataFrame
    rules_broadcastable: bool
    default_budget: int
    max_retries: int
    token_bucket: bool

    def counter(self, round_id: int, key: str, default=0):
        """One committed round's counter (``default`` when absent)."""
        return self.store.counters().get(str(round_id), {}).get(key, default)


def _register_seeds(
    spark: SparkSession, store: SnapshotStore, seeds_path: str, name: str, at_round: int
) -> tuple[DataFrame, int]:
    """Canonicalize a seed list ONCE into the state dir as aux table
    ``name`` and register it for round ``at_round``: its total and
    forced row counts ride the write job as an Observation and are
    recorded with the table. Returns (table, row_count)."""
    path = store.aux_path(name)
    obs = Observation()
    prepare_seeds(spark.read.parquet(seeds_path)).observe(
        obs,
        F.sum(F.col("force_recrawl").cast("int")).alias("nf"),
        F.count(F.lit(1)).alias("n"),
    ).write.mode("overwrite").parquet(path)
    n = int(obs.get["n"])
    store.add_seed_table(name, at_round, rows=n, forced=int(obs.get["nf"] or 0))
    return spark.read.parquet(path), n


def _crawl_finished(c: _Crawl, round_id: int) -> bool:
    """True when the previous round selected and discovered nothing, no
    seeds were registered for this round, and no retry is backing off:
    a dormant retry becomes eligible at its not_before round, so the
    crawl is NOT stale while one is pending, even across all-quiet
    backoff-gap rounds."""
    stale = (
        c.counter(round_id - 1, "scheduled", None) == 0
        and c.counter(round_id - 1, "frontier_rows", None) == 0
    )
    horizon = max((c.counter(r, "retry_horizon") for r in range(round_id)), default=0)
    return stale and c.store.seeds_added_at_round != round_id and round_id > horizon


def _read_seen(c: _Crawl, round_id: int) -> DataFrame | None:
    """The seen set of the rounds before ``round_id``, resolved
    last-round-wins once forced rows exist."""
    url_seen = c.store.read_table("url_seen", upto_round=round_id - 1)
    if url_seen is not None and any(c.counter(r, "forced") for r in range(round_id)):
        url_seen = resolve_url_seen(url_seen)
    return url_seen


def _bloom_add(c: _Crawl, round_id: int, n_delta: int) -> None:
    """OR one round's written url_seen delta into the bloom. Idempotent,
    so safe to redo when a crash forces the round to re-run."""
    delta = c.store.read_round_table(round_id, "url_seen")
    c.bloom.update(
        delta.select(F.col("url_hash").alias("h")), n_delta=n_delta, round_id=round_id
    )


def _sync_bloom(c: _Crawl, url_seen: DataFrame, round_id: int) -> None:
    """Bring the sharded bloom up to the rounds before ``round_id``.
    Normally it already is, from the previous round's delta update (no
    Spark job here at all). A bloom behind the committed rounds (resume
    after a crash in the update window) replays the missing rounds'
    url_seen DELTAS — O(missing deltas); the full distributed rebuild is
    only for capacity overflow or absent/corrupt state (amortized
    O(log n) times per crawl)."""
    if c.bloom.needs_rebuild() or (
        not c.bloom.ready_for(round_id) and c.bloom.version < 0
    ):
        # key count from manifest counters: saves a count job
        n_keys = sum(c.counter(r, "deduped") for r in range(round_id))
        c.bloom.rebuild(
            url_seen.select(F.col("url_hash").alias("h")),
            n_keys=n_keys or url_seen.count(),
            round_id=round_id - 1,
        )
    else:  # empty range when ready (or ahead after an uncommitted update)
        for r in range(c.bloom.round_id + 1, round_id):
            _bloom_add(c, r, c.counter(r, "deduped"))


def _read_host_tokens(c: _Crawl, round_id: int) -> DataFrame | None:
    """Token-bucket state left by the previous round (empty in round 0:
    hosts never seen start full); None with the flat budget."""
    if not c.token_bucket:
        return None
    if round_id == 0:
        return c.spark.createDataFrame([], "host string, tokens int")
    return c.store.read_round_table(round_id - 1, "hosts")


def _next_host_tokens(
    c: _Crawl, fetch_ranked: DataFrame, host_tokens: DataFrame
) -> DataFrame:
    """Next round's bucket state: tokens' = min(cap, tokens - consumed +
    refill). Only hosts that ever consumed need a row — absent hosts are
    implicitly full (min(cap, cap-0+b) = cap), so the state table stays
    O(active hosts)."""
    consumed = fetch_ranked.groupBy("host").agg(F.count("*").alias("__c"))
    prev = host_tokens.withColumnRenamed("tokens", "__t")
    budgets = c.rules.select("host", "host_budget")
    if c.rules_broadcastable:
        budgets = F.broadcast(budgets)
    universe = prev.select("host").unionByName(consumed.select("host")).distinct()
    refill = F.coalesce("host_budget", F.lit(c.default_budget))
    cap = refill * F.lit(TOKEN_BUCKET_CAP_MULT)
    return (
        universe.join(prev, "host", "left")
        .join(consumed, "host", "left")
        .join(budgets, "host", "left")
        .select(
            "host",
            F.least(cap, F.coalesce("__t", cap) - F.coalesce("__c", F.lit(0)) + refill)
            .cast("int")
            .alias("tokens"),
        )
    )


def _observed_writes(
    c: _Crawl, rr: RoundResult, host_tokens: DataFrame | None
) -> tuple[dict[str, DataFrame], tuple[Observation, Observation, Observation]]:
    """The round's tables to write, keyed by table name, and the three
    Observations (url_seen, fetch_order, frontier_add) that carry the
    round's counters (A7) and crawl-order digest on the WRITE jobs —
    zero extra actions per round."""
    obs_seen, obs_fetch, obs_frontier = Observation(), Observation(), Observation()
    seen_df = rr.url_seen_delta.observe(
        obs_seen,
        F.count(F.lit(1)).alias("deduped"),
        F.sum(F.col("forced").cast("int")).alias("forced"),
        *[
            F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
            for s in S.ALL_STATUSES
        ],
    )
    fetch_df = rr.fetch_ranked.select(
        "rank", "ingest_type", "canonical_url", "host", "priority", "depth"
    ).observe(
        obs_fetch,
        F.count(F.lit(1)).alias("scheduled"),
        F.bit_xor(
            F.xxhash64(
                F.concat_ws("|", F.col("rank").cast("string"), F.col("canonical_url"))
            )
        ).alias("digest"),
    )
    frontier_exprs = [F.count(F.lit(1)).alias("frontier_rows")]
    if c.max_retries > 0:
        # count of re-enqueued rows + the furthest backoff round (the
        # keep-alive horizon of _crawl_finished)
        frontier_exprs += [
            F.sum((F.col("attempt") > 0).cast("long")).alias("retried"),
            F.max("not_before").alias("retry_horizon"),
        ]
    writes = {
        "url_seen": seen_df,
        "frontier_add": rr.next_frontier.observe(obs_frontier, *frontier_exprs),
        "fetch_order": fetch_df,
    }
    if host_tokens is not None:
        writes["hosts"] = _next_host_tokens(c, rr.fetch_ranked, host_tokens)
    return writes, (obs_seen, obs_fetch, obs_frontier)


def _round_counters(
    c: _Crawl,
    observed: tuple[Observation, Observation, Observation],
    input_rows: int,
) -> dict[str, int]:
    """The round's manifest counters, from its three write Observations."""
    seen, fetch, frontier = (o.get for o in observed)
    counters = {f"status:{s}": int(seen[s]) for s in S.ALL_STATUSES if seen[s]}
    counters["deduped"] = int(seen["deduped"])
    counters["scheduled"] = int(fetch["scheduled"])
    counters["order_digest"] = int(fetch["digest"] or 0)
    counters["frontier_rows"] = int(frontier["frontier_rows"])
    counters["forced"] = int(seen["forced"] or 0)
    if c.max_retries > 0:
        counters["retried"] = int(frontier["retried"] or 0)
        counters["retry_horizon"] = int(frontier["retry_horizon"] or 0)
    # phase-profile evidence that compaction keeps round input
    # O(active): derived from manifest counters, no extra action
    counters["frontier_input_rows"] = input_rows
    return counters


def _write_and_commit(
    c: _Crawl, round_id: int, rr: RoundResult, host_tokens: DataFrame | None,
    input_rows: int,
) -> None:
    """Write the round's tables and commit its manifest entry.

    ONE action on the persisted fetch-result cache materializes the
    round's shared lineage first; every table is then a pure cache
    reader, so all writes run concurrently on one pool without
    race-computing shared stages. The bloom update is chained on the
    url_seen write landing and overlaps the other writes: it reads the
    just-written delta (a disjoint scan). A bloom ahead of the committed
    manifest only costs extra exact checks, never correctness — it is a
    prefilter backed by the exact anti-join."""
    writes, observed = _observed_writes(c, rr, host_tokens)
    rr.fetched.count()
    with ThreadPoolExecutor(max_workers=len(writes) + 1) as pool:
        done = {n: pool.submit(c.store.write_table, round_id, n, df) for n, df in writes.items()}

        def bloom_update() -> None:
            done["url_seen"].result()
            _bloom_add(c, round_id, int(observed[0].get["deduped"]))

        bloom_done = pool.submit(bloom_update)
    for f in [*done.values(), bloom_done]:
        f.result()  # a failed write or bloom update aborts before commit
    c.store.commit_round(round_id, _round_counters(c, observed, input_rows))


def _compact(c: _Crawl, round_id: int) -> None:
    """After a commit: fold the frontier sources into one active-only
    base when what was added since its last base outgrows it."""
    comp = c.store.compaction
    first = comp["round"] + 1 if comp else 0
    added = sum(c.counter(r, "frontier_rows") for r in range(first, round_id + 1))
    base = comp["rows"] if comp else c.store.seed_rows
    if _compaction_due(added, base):
        # the bloom already reflects this round's delta
        _compact_frontier(c.spark, c.store, round_id, c.bloom)


def run_crawl(
    spark: SparkSession,
    data_dir: str,
    state_dir: str,
    max_rounds: int = 4,
    default_budget: int = DEFAULT_BUDGET,
    resume: bool = False,
    token_bucket: bool = False,
    max_retries: int = 0,
) -> SnapshotStore:
    """Multi-round crawl driver with snapshot commit + exact resume.

    Each round reads committed state, runs the round job, and commits
    (url_seen delta, next frontier, ranked fetch order, counters)
    atomically. Killing the process between commits and re-running with
    ``resume=True`` continues from the last committed round with
    identical results (north_rule checkpoint/lineage requirement).

    ``token_bucket=True`` switches politeness from a flat per-round
    budget to per-host token buckets persisted on a ``hosts`` state
    table (north_star): refill = robots host_budget per round, capacity
    = TOKEN_BUCKET_CAP_MULT × refill, so idle hosts accumulate burst
    capacity. Deterministic and mirrored by the oracle.

    ``max_retries>0`` enables transient-failure retry: a fetch whose
    best capture carries a TRANSIENT_HTTP_CODES status is re-enqueued
    (up to max_retries times) with exponential round backoff instead of
    being recorded in url_seen; the crawl stays alive through rounds
    where every pending candidate is backing off (the persisted
    retry_horizon counter). Default 0 preserves the historical
    terminal-bad semantics byte-for-byte. Mirrored by the oracle.

    Everything the call persists is unpersisted, and AQE restored, on
    every exit.
    """
    store = SnapshotStore(state_dir, spark)
    start_round = store.last_round + 1 if resume else 0
    if start_round == 0 and store.last_round >= 0:
        raise ValueError(f"state dir {state_dir} not empty; pass resume=True")
    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # AQE off for the scheduling rounds: shuffle partitions are already
    # sized explicitly, and AQE's per-shuffle-stage re-planning adds
    # DRIVER latency comparable to sandbox-scale stage runtimes (4M-URL
    # crawl: 35.6s → 27.8s at 16 cores). At the 10^10 design point the
    # stages are minutes long and AQE (esp. skew-join splitting) earns
    # its planning cost — re-enable via spark-defaults there.
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    cached: list[DataFrame] = []  # the crawl's static join sides
    scratch: list[DataFrame] = []  # the in-flight round's caches
    try:
        robots = spark.read.parquet(f"{data_dir}/robots.parquet")
        rules = _dedup_rules(robots).persist()  # static across rounds: dedup ONCE
        # pre-partition the per-round join sides ON their join keys and keep
        # them cached: every round's best-capture/outlink join then reuses the
        # exchange instead of re-shuffling the big side (bucketed-table shape)
        captures = (
            spark.read.parquet(f"{data_dir}/capture_history.parquet")
            .repartition(parallelism, "url")
            .persist()
        )
        docs = (
            spark.read.parquet(f"{data_dir}/docs.parquet")
            .repartition(parallelism, "doc_id")
            .persist()
        )
        cached += [rules, captures, docs]
        # the footers' row count bounds the deduped rule rows from above:
        # it picks the join strategy without a Spark job, and a broadcast
        # rules table never exceeds RULES_BROADCAST_MAX rows
        rule_rows = pads.dataset(f"{data_dir}/robots.parquet", format="parquet").count_rows()
        c = _Crawl(
            spark, store, BloomStore(store.aux_path("bloom")), rules,
            rule_rows <= RULES_BROADCAST_MAX, default_budget, max_retries, token_bucket,
        )
        for round_id in range(start_round, max_rounds):
            # Append-only frontier: candidates for round r = prepared seeds ∪
            # all additions discovered in rounds < r; processed keys fall out
            # through the url_seen anti-join (no full-frontier rewrite per
            # round — the Iceberg-native layout).
            if round_id == 0:
                frontier, input_rows = _register_seeds(
                    spark, store, f"{data_dir}/seeds.parquet", "seeds_prepared", 0
                )
            elif _crawl_finished(c, round_id):
                break
            else:
                frontier, input_rows = _assemble_frontier(
                    spark, store, upto_round=round_id - 1
                )
            url_seen = _read_seen(c, round_id)
            if url_seen is not None:
                _sync_bloom(c, url_seen, round_id)
            host_tokens = _read_host_tokens(c, round_id)
            rr = run_round(
                spark, frontier, url_seen, robots, captures, docs,
                round_id, default_budget, bloom=c.bloom,
                scratch=scratch, generation=store.generation,
                has_forced=store.forced_seeds > 0,
                host_tokens=host_tokens,
                prepared_rules=rules,
                rules_broadcastable=c.rules_broadcastable,
                max_retries=max_retries,
            )
            _write_and_commit(c, round_id, rr, host_tokens, input_rows)
            _compact(c, round_id)
            _release(scratch)  # free this round's caches before the next
        return store
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)
        _release(scratch)
        _release(cached)


def run_reingest(
    spark: SparkSession,
    data_dir: str,
    state_dir: str,
    reingest_seeds_path: str,
    extra_rounds: int = 2,
) -> SnapshotStore:
    """Dump→re-ingest cycle (reference: sql/dump_reingest_quarterly.sql —
    periodically re-enqueue requests whose results should be retried).

    Bumps the crawl generation, registers the new seed list (prepared
    once, like the initial seeds), and continues scheduling rounds over
    the existing state: force_recrawl seeds bypass results of earlier
    generations and their fresh result rows supersede the old ones.
    """
    store = SnapshotStore(state_dir, spark)
    if store.last_round < 0:
        raise ValueError("re-ingest requires an existing committed crawl")
    gen = store.bump_generation()
    _register_seeds(
        spark, store, reingest_seeds_path, f"seeds_gen{gen}", store.last_round + 1
    )
    return run_crawl(
        spark, data_dir, state_dir,
        max_rounds=store.last_round + 1 + extra_rounds, resume=True,
    )
