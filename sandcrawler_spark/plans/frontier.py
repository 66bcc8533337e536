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

import hashlib
from dataclasses import dataclass

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
# robots-rules join strategy cutover: up to this many deduped rule rows
# the rules side is broadcast (one hash map per executor, zero shuffle);
# above it — e.g. 10^8 hosts at the 10^10-URL design point — the join
# falls back to a shuffle join on host, where AQE's skew-join splitting
# defuses hot-host partitions (politeness salting happens downstream)
RULES_BROADCAST_MAX = 4_000_000

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
    ]
    if "attempt" in frontier.columns:
        # retry rows carry the same (priority, depth, cite, seq, hops)
        # as the stale attempt-0 copy still in the append-only pool —
        # the HIGHEST attempt must win the dedup so its `not_before`
        # backoff gate shields the key during the wait window.
        order_cols.append((-F.col("attempt")).alias("neg_attempt"))
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


def _politeness_select(candidates: DataFrame, budget_col: str = "host_budget") -> DataFrame:
    """Two-phase salted per-host top-k (W3; SURVEY §7.3 #3).

    Phase 1 ranks within (host, salt) — SALT_BUCKETS parallel windows per
    hot host — and keeps ≤ budget per salt; phase 2 ranks the surviving
    ≤ budget·S rows within host. The per-salt survivors are a superset of
    the true per-host top-budget, so the result is exact while no single
    task ever sorts a whole hot host's frontier."""
    order = [
        F.col("priority").asc(),
        F.col("depth").asc(),
        F.col("citation_priority").desc(),
        F.col("canonical_url").asc(),
    ]
    salted = candidates.withColumn(
        "__salt", F.pmod(F.xxhash64("canonical_url"), F.lit(SALT_BUCKETS))
    )
    w1 = Window.partitionBy("host", "__salt").orderBy(*order)
    pre = salted.withColumn("__r1", F.row_number().over(w1))
    # Rows past the per-salt budget CANNOT be in the host's top-budget
    # (each salt already contributes its best `budget`), so they skip the
    # phase-2 sort — but they MUST stay in the output as unselected:
    # non-selected candidates are next round's frontier, not waste.
    finalists = pre.filter(F.col("__r1") <= F.col(budget_col)).drop("__r1")
    overflow = (
        pre.filter(F.col("__r1") > F.col(budget_col))
        .drop("__r1", "__salt")
        .withColumn("selected", F.lit(False))
    )
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = (
        finalists.withColumn("__r2", F.row_number().over(w2))
        .withColumn("selected", F.col("__r2") <= F.col(budget_col))
        .drop("__salt", "__r2")
    )
    return ranked.unionByName(overflow)


def _best_capture(fetch: DataFrame, captures: DataFrame) -> DataFrame:
    """Left-join the fetch list to capture history and keep the max-rank
    capture per candidate under the reference's 8-key preference tuple
    (ia.py:371-390) + (datetime, sha1hex) totality tiebreakers."""
    best_mime = F.coalesce(
        *[
            F.when(F.col("ingest_type") == t, F.lit(m))
            for t, m in (
                ("pdf", "application/pdf"),
                ("xml", "text/xml"),
                ("html", "text/html"),
            )
        ],
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
    confirm_parts: tuple[DataFrame, DataFrame | None] | None = None,
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

    Shared by the per-round scheduler and the frontier compactor — one
    definition means compaction provably removes exactly the rows the
    next round's filter would have removed anyway (digest neutrality).
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
        confirm_parts=confirm_parts,  # bucketed base + plain deltas
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
    counters: dict
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
    seen_confirm_parts: tuple[DataFrame, DataFrame | None] | None = None,
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
            confirm_parts=seen_confirm_parts,
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

    return RoundResult(fetch_ranked, seen_delta, additions, {}, fetched_cached)


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
    for df in scratch:
        df.unpersist()


def run_crawl(
    spark: SparkSession,
    data_dir: str,
    state_dir: str,
    max_rounds: int = 4,
    default_budget: int = DEFAULT_BUDGET,
    resume: bool = False,
    token_bucket: bool = False,
    rules_broadcast_max: int = RULES_BROADCAST_MAX,
    compact_factor: float | None = 2.0,
    compact_min_rows: int = 50_000,
    max_retries: int = 0,
    bucketed_seen: bool = False,
) -> SnapshotStore:
    """Multi-round crawl driver with snapshot commit + exact resume.

    ``bucketed_seen=True`` periodically folds the accumulated url_seen
    deltas into ONE catalog-bucketed base table (bucketed+sorted by the
    anti-join keys, ``sources/bucketed.py``), and the per-round exact
    confirm then anti-joins candidates against (bucketed base, plain
    deltas-since) separately — set-equivalent to the union, but the
    base side of the join plans with NO Exchange: at the 10^10 design
    point only the (bloom-surviving) candidates shuffle, never the
    accumulated seen set. Digest-neutral (anti ∘ union ≡ anti ∘ anti;
    the base is the raw delta multiset, no resolution baked in).
    Iceberg analogue: bucket(N, key) partition transform +
    storage-partitioned joins. Trigger/cadence shares
    ``compact_factor`` / ``compact_min_rows`` with frontier compaction.

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
    """
    store = SnapshotStore(state_dir, spark)
    bloom = BloomStore(store.aux_path("bloom"))
    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # AQE off for the scheduling rounds: shuffle partitions are already
    # sized explicitly, and AQE's per-shuffle-stage re-planning adds
    # DRIVER latency comparable to sandbox-scale stage runtimes (4M-URL
    # crawl: 35.6s → 27.8s at 16 cores). At the 10^10 design point the
    # stages are minutes long and AQE (esp. skew-join splitting) earns
    # its planning cost — re-enable via spark-defaults there.
    aqe_prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        robots = spark.read.parquet(f"{data_dir}/robots.parquet")
        # Rules are static across rounds: dedup ONCE, cache, and decide
        # the join strategy from the actual cardinality (the one count
        # action here replaces a per-round dedup recompute). The count
        # is submitted on a thread and resolved right before the first
        # run_round, so it OVERLAPS the round-0 seed canonicalization
        # job instead of serializing ahead of it.
        from concurrent.futures import ThreadPoolExecutor

        rules_tbl = _dedup_rules(robots).persist()
        _rules_pool = ThreadPoolExecutor(max_workers=1)
        _rules_future = _rules_pool.submit(rules_tbl.count)
        rules_broadcastable: bool | None = None  # resolved lazily below
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

        start_round = store.last_round + 1 if resume else 0
        if start_round == 0 and store.last_round >= 0:
            raise ValueError(f"state dir {state_dir} not empty; pass resume=True")

        def _c(round_id: int, key: str, default=None):
            rc = store.counters().get(str(round_id), {})
            return rc.get(key, default)

        generation = store.generation

        for round_id in range(start_round, max_rounds):
            # Append-only frontier: candidates for round r = prepared seeds ∪
            # all additions discovered in rounds < r; processed keys fall out
            # through the url_seen anti-join (no full-frontier rewrite per
            # round — the Iceberg-native layout).
            if round_id == 0:
                frontier = prepare_seeds(spark.read.parquet(f"{data_dir}/seeds.parquet"))
                seeds_path = store.aux_path("seeds_prepared")
                obs_seeds = Observation()
                frontier.observe(
                    obs_seeds,
                    F.sum(F.col("force_recrawl").cast("int")).alias("nf"),
                    F.count(F.lit(1)).alias("n"),
                ).write.mode("overwrite").parquet(seeds_path)
                store.note_forced_seeds(int(obs_seeds.get["nf"] or 0))
                store.note_seed_rows("seeds_prepared", int(obs_seeds.get["n"]))
                frontier = spark.read.parquet(seeds_path)  # canonicalize ONCE
                frontier_input_rows = int(obs_seeds.get["n"])
            else:
                stale = (
                    _c(round_id - 1, "scheduled") == 0
                    and _c(round_id - 1, "frontier_rows") == 0
                )
                # a dormant retry becomes eligible at its not_before
                # round — the crawl is NOT stale while one is pending,
                # even across all-quiet backoff-gap rounds
                retry_horizon = max(
                    (_c(r, "retry_horizon", 0) for r in range(round_id)), default=0
                )
                if (
                    stale
                    and store.seeds_added_at_round != round_id
                    and round_id > retry_horizon
                ):
                    break  # no selections, no discoveries, no new seeds → done
                frontier, frontier_input_rows = _assemble_frontier(
                    spark, store, upto_round=round_id - 1
                )
            seen_parts = None
            sc = store.seen_compaction if bucketed_seen else None
            if sc is not None and sc["round"] <= round_id - 1:
                from sandcrawler_spark.sources.bucketed import read_bucketed

                seen_base = read_bucketed(
                    spark, store.aux_path(sc["table"]), sc["catalog"]
                )
                seen_delta = store.read_table(
                    "url_seen", upto_round=round_id - 1, from_round=sc["round"] + 1
                )
                url_seen = (
                    seen_base
                    if seen_delta is None
                    else seen_base.unionByName(seen_delta)
                )
                # confirm anti-joins run per part: the bucketed base
                # side plans shuffle-free; resolution below (forced
                # path) touches only the unioned payload view — the
                # anti-join is key-presence-only, resolution-neutral
                seen_parts = (seen_base, seen_delta)
            else:
                url_seen = store.read_table("url_seen", upto_round=round_id - 1)
            any_forced = any(_c(r, "forced", 0) for r in range(round_id))
            if url_seen is not None and any_forced:
                url_seen = resolve_url_seen(url_seen)

            # --- sharded incremental bloom: normally already up to date from
            # the previous round's delta update (no Spark job here at all).
            # A bloom behind the committed rounds (resume after a crash in
            # the update window) catches up by replaying the missing rounds'
            # url_seen DELTAS — O(missing deltas), not a full rebuild; the
            # full distributed rebuild remains only for capacity overflow or
            # absent/corrupt state (amortized O(log n) times per crawl).
            if url_seen is not None:
                if bloom.needs_rebuild() or (
                    not bloom.ready_for(round_id) and bloom.version < 0
                ):
                    # key count from manifest counters: saves a count job
                    seen_count = sum(_c(r, "deduped", 0) for r in range(round_id))
                    bloom.rebuild(
                        url_seen.select(F.col("url_hash").alias("h")),
                        n_keys=seen_count or url_seen.count(),
                        round_id=round_id - 1,
                    )
                elif not bloom.ready_for(round_id):
                    for r in range(bloom.round_id + 1, round_id):
                        delta = store.read_round_table(r, "url_seen")
                        bloom.update(
                            delta.select(F.col("url_hash").alias("h")),
                            n_delta=_c(r, "deduped", 0),
                            round_id=r,
                        )

            host_tokens = None
            if token_bucket:
                host_tokens = (
                    store.read_round_table(round_id - 1, "hosts")
                    if round_id > 0
                    else spark.createDataFrame([], "host string, tokens int")
                )

            if rules_broadcastable is None:
                rules_broadcastable = _rules_future.result() <= rules_broadcast_max
                _rules_pool.shutdown(wait=False)

            scratch: list[DataFrame] = []
            rr = run_round(
                spark, frontier, url_seen, robots, captures, docs,
                round_id, default_budget, bloom=bloom,
                scratch=scratch, generation=generation,
                has_forced=store.forced_seeds > 0,
                host_tokens=host_tokens,
                prepared_rules=rules_tbl,
                rules_broadcastable=rules_broadcastable,
                max_retries=max_retries,
                seen_confirm_parts=seen_parts,
            )

            # Counters (A7) + crawl-order digest ride the WRITE jobs as
            # Observations — zero extra actions per round.
            obs_seen, obs_fetch, obs_frontier = Observation(), Observation(), Observation()
            status_exprs = [
                F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(s)
                for s in S.ALL_STATUSES
            ]
            seen_df = rr.url_seen_delta.observe(
                obs_seen,
                F.count(F.lit(1)).alias("deduped"),
                F.sum(F.col("forced").cast("int")).alias("forced"),
                *status_exprs,
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
            if max_retries > 0:
                # retry bookkeeping rides the same write-job Observation:
                # count of re-enqueued rows + the furthest backoff round
                # (keep-alive horizon for the stale check above)
                frontier_exprs += [
                    F.sum((F.col("attempt") > 0).cast("long")).alias("retried"),
                    F.max("not_before").alias("retry_horizon"),
                ]
            frontier_df = rr.next_frontier.observe(obs_frontier, *frontier_exprs)
            # Materialize the round's shared lineage with ONE action on
            # the persisted fetch-result cache; every per-round output
            # (url_seen delta, fetch order, frontier additions, hosts)
            # is then a pure cache reader, so ALL write jobs can be
            # submitted concurrently below. (History: submitting the
            # writes concurrently WITHOUT this barrier race-computed the
            # shared uncached stages — worse with more cores; round 3
            # phased the url_seen write first to fix that, which
            # serialized its write against the other two. The explicit
            # materialize keeps exactly-once compute AND overlaps every
            # write — one less sequential barrier per round.)
            rr.fetched.count()
            writes = {"url_seen": seen_df, "frontier_add": frontier_df, "fetch_order": fetch_df}
            if token_bucket:
                # next round's bucket state: tokens' = min(cap, tokens -
                # consumed + refill). Only hosts that ever consumed need a
                # row — absent hosts are implicitly full (min(cap, cap-0+b)
                # = cap), so the state table stays O(active hosts).
                consumed = rr.fetch_ranked.groupBy("host").agg(
                    F.count("*").alias("__c")
                )
                prev = host_tokens.withColumnRenamed("tokens", "__t")
                budgets = rules_tbl.select("host", "host_budget")
                if rules_broadcastable:
                    budgets = F.broadcast(budgets)
                universe = (
                    prev.select("host").unionByName(consumed.select("host")).distinct()
                )
                refill = F.coalesce("host_budget", F.lit(default_budget))
                hosts_df = (
                    universe.join(prev, "host", "left")
                    .join(consumed, "host", "left")
                    .join(budgets, "host", "left")
                    .select(
                        "host",
                        F.least(
                            refill * F.lit(TOKEN_BUCKET_CAP_MULT),
                            F.coalesce(
                                F.col("__t"),
                                refill * F.lit(TOKEN_BUCKET_CAP_MULT),
                            )
                            - F.coalesce(F.col("__c"), F.lit(0))
                            + refill,
                        )
                        .cast("int")
                        .alias("tokens"),
                    )
                )
                writes["hosts"] = hosts_df
            wpool = ThreadPoolExecutor(max_workers=len(writes) + 1)
            wfuts = {
                n: wpool.submit(store.write_table, round_id, n, df)
                for n, df in writes.items()
            }
            # Bloom delta update chained on the url_seen write landing,
            # overlapping the remaining writes: it reads the just-written
            # delta (a disjoint scan — no cache lineage raced twice) and
            # the OR is idempotent — safe to redo if a crash forces the
            # round to re-run. The bloom is
            # a prefilter backed by the exact anti-join, so even a bloom
            # ahead of the committed manifest only costs extra exact
            # checks, never correctness.
            def _bloom_update():
                wfuts["url_seen"].result()
                delta = store.read_round_table(round_id, "url_seen")
                bloom.update(
                    delta.select(F.col("url_hash").alias("h")),
                    n_delta=int(obs_seen.get["deduped"]),
                    round_id=round_id,
                )

            bloom_future = wpool.submit(_bloom_update)
            try:
                for f in wfuts.values():
                    f.result()
            except BaseException:
                # a failed write aborts the round before commit; release
                # the pool (running threads drain, no new submissions)
                wpool.shutdown(wait=False)
                raise
            seen_vals, fetch_vals, frontier_vals = obs_seen.get, obs_fetch.get, obs_frontier.get
            counters = {
                f"status:{s}": int(seen_vals[s]) for s in S.ALL_STATUSES if seen_vals[s]
            }
            counters["deduped"] = int(seen_vals["deduped"])
            counters["scheduled"] = int(fetch_vals["scheduled"])
            counters["order_digest"] = int(fetch_vals["digest"] or 0)
            counters["frontier_rows"] = int(frontier_vals["frontier_rows"])
            counters["forced"] = int(seen_vals["forced"] or 0)
            if max_retries > 0:
                counters["retried"] = int(frontier_vals["retried"] or 0)
                counters["retry_horizon"] = int(frontier_vals["retry_horizon"] or 0)
            # phase-profile evidence that compaction keeps round input
            # O(active): derived from manifest counters, no extra action
            counters["frontier_input_rows"] = frontier_input_rows
            bloom_future.result()  # re-raises a failed bloom update
            wpool.shutdown(wait=False)
            store.commit_round(round_id, counters)

            # --- frontier compaction: when additions since the last base
            # outgrow it, fold sources into one active-only base table
            if compact_factor is not None:
                comp = store.compaction
                comp_round = comp["round"] if comp else -1
                adds_since = sum(
                    _c(r, "frontier_rows", 0)
                    for r in range(comp_round + 1, round_id + 1)
                )
                base_rows = comp["rows"] if comp else store.seed_rows
                if adds_since >= compact_min_rows and adds_since > compact_factor * max(
                    base_rows, 1
                ):
                    # the bloom already reflects this round's delta
                    _compact_frontier(spark, store, round_id, bloom)

            # --- url_seen bucketed compaction: fold deltas into a
            # catalog-bucketed base when they outgrow it (same knobs as
            # frontier compaction). The base is the raw delta multiset —
            # union-equivalent forever, nothing resolved away.
            if bucketed_seen and compact_factor is not None:
                sc = store.seen_compaction
                sc_round = sc["round"] if sc else -1
                sc_rows = sc["rows"] if sc else 0
                seen_since = sum(
                    _c(r, "deduped", 0) for r in range(sc_round + 1, round_id + 1)
                )
                if seen_since >= compact_min_rows and seen_since > compact_factor * max(
                    sc_rows, 1
                ):
                    from sandcrawler_spark.sources.bucketed import (
                        read_bucketed,
                        write_bucketed,
                    )

                    delta = store.read_table(
                        "url_seen", upto_round=round_id, from_round=sc_round + 1
                    )
                    full = (
                        delta
                        if sc is None
                        else read_bucketed(
                            spark, store.aux_path(sc["table"]), sc["catalog"]
                        ).unionByName(delta)
                    )
                    name = f"seen_base_r{round_id:05d}"
                    cat = "seen_base_{}_r{}".format(
                        hashlib.md5(state_dir.encode()).hexdigest()[:8], round_id
                    )
                    write_bucketed(
                        full,
                        store.aux_path(name),
                        cat,
                        ["ingest_type", "canonical_url"],
                        n_buckets=parallelism,
                    )
                    store.set_seen_compaction(
                        round_id, name, cat, rows=sc_rows + seen_since
                    )
            for df in scratch:  # free this round's caches before the next
                df.unpersist()
        return store
    finally:
        try:
            # if the crawl exited before the first rules-resolution
            # point (stale-break on resume, start_round >= max_rounds),
            # the background count future is still in flight — cancel
            # it, and if it already started, wait it out (surfacing its
            # error if any) BEFORE unpersisting the table under it.
            # Best-effort only: the 120 s cap means a pathologically
            # stuck count job can still see the unpersist race it —
            # tolerated, Spark recomputes unpersisted partitions
            # (ADVICE r5).
            if rules_broadcastable is None and not _rules_future.cancel():
                try:
                    _rules_future.result(timeout=120)
                except Exception:  # noqa: BLE001 — crawl result unaffected
                    pass
        except NameError:
            pass
        try:
            rules_tbl.unpersist()
        except NameError:
            pass
        try:
            _rules_pool.shutdown(wait=False)  # no-op if already shut down
        except NameError:
            pass
        spark.conf.set("spark.sql.adaptive.enabled", aqe_prev)


def run_reingest(
    spark: SparkSession,
    data_dir: str,
    state_dir: str,
    reingest_seeds_path: str,
    extra_rounds: int = 2,
    default_budget: int = DEFAULT_BUDGET,
    max_retries: int = 0,
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
    prepared = prepare_seeds(spark.read.parquet(reingest_seeds_path))
    name = f"seeds_gen{gen}"
    obs = Observation()
    prepared.observe(
        obs, F.sum(F.col("force_recrawl").cast("int")).alias("nf")
    ).write.mode("overwrite").parquet(store.aux_path(name))
    store.note_forced_seeds(int(obs.get["nf"] or 0))
    store.add_seed_table(name, at_round=store.last_round + 1)
    return run_crawl(
        spark, data_dir, state_dir,
        max_rounds=store.last_round + 1 + extra_rounds,
        default_budget=default_budget, resume=True,
        max_retries=max_retries,
    )
