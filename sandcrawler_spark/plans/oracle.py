"""Single-threaded Python oracle for the crawl scheduler.

Implements the exact semantics of ``plans.frontier.run_crawl`` as plain
sequential Python over dicts/lists (no Spark), the way the reference
processes one request at a time (ingest_file.py:637-846). Test contract
(SURVEY §5 rebuild plan): the Spark job's per-round fetch order, final
URL-seen set, and counters must equal the oracle's EXACTLY, at every
parallelism level.

Shares the scalar kernel (canonical_url) and the ranking tuples
(priority.fetch_sort_key / capture_rank_key) with the Spark pipeline —
identical ordering is enforced by shared code, not duplicated logic.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field
from decimal import ROUND_HALF_EVEN, Decimal

import pyarrow.parquet as pq

from sandcrawler_spark.functions.urlkeys import canonical_url, host_of, resolve_ref
from sandcrawler_spark.plans import schemas as S
from sandcrawler_spark.plans.priority import capture_rank_key, fetch_sort_key

_MIME_GATE = {"pdf": "application/pdf", "html": "text/html", "xml": "text/xml"}
_REDIRECTS = {301, 302, 303, 307, 308}


@dataclass
class OracleResult:
    fetch_orders: list[list[str]] = field(default_factory=list)   # per round, ordered canonical URLs
    url_seen: dict = field(default_factory=dict)                  # (type, url) -> status row
    counters: list[dict] = field(default_factory=list)


def _load(path: str) -> list[dict]:
    return pq.read_table(path).to_pylist()


def bround6(x: float) -> float:
    """Spark's ``F.bround(x, 6)`` on a double: half-even on the value's
    decimal string (``BigDecimal(Double.toString(x))``), not on its
    exact binary value as Python's ``round`` does. The two disagree on
    about a quarter of halved 6-dp priorities: 0.3401365 is a decimal
    tie (→ 0.340136), but its double lies just above it (→ 0.340137)."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_EVEN))


def run_oracle(
    data_dir: str,
    max_rounds: int = 4,
    default_budget: int = 3,
    reingest_seeds_path: str | None = None,
    reingest_rounds: int = 0,
    token_bucket: bool = False,
    cap_mult: int = 2,
    max_retries: int = 0,
) -> OracleResult:
    """Optionally follows the crawl with a re-ingest cycle: after
    ``max_rounds``, generation bumps to 1 and the seeds at
    ``reingest_seeds_path`` join the frontier; force_recrawl seeds then
    bypass generation-0 results exactly once."""
    seeds = _load(f"{data_dir}/seeds.parquet")
    # one rule per host, lexicographic-min wins (mirrors the engine's
    # min-struct dedup before the broadcast robots join)
    robots: dict = {}
    for r in _load(f"{data_dir}/robots.parquet"):
        rk = (
            r["rule_kind"],
            r["path_prefix"],
            r["host_budget"] if r["host_budget"] is not None else -(2**31),
        )
        cur = robots.get(r["host"])
        if cur is None or rk < cur[0]:
            robots[r["host"]] = (rk, r)
    robots = {h: v[1] for h, v in robots.items()}
    captures = defaultdict(list)
    for c in _load(f"{data_dir}/capture_history.parquet"):
        captures[c["url"]].append(c)
    docs = {d["doc_id"]: d["spans"] for d in _load(f"{data_dir}/docs.parquet")}

    frontier: list[dict] = []
    for s in seeds:
        cu = canonical_url(s["base_url"])
        if cu is None:
            continue
        frontier.append(
            {
                "ingest_type": s["ingest_type"],
                "canonical_url": cu,
                "host": host_of(cu),
                "priority": s["priority"],
                "citation_priority": s["citation_priority"],
                "depth": s["depth"],
                "hops": [],
                "seq": s["seq"],
                "force_recrawl": bool(s.get("force_recrawl", False)),
                "attempt": 0,
                "not_before": 0,
            }
        )

    res = OracleResult()
    generation = 0
    host_tokens: dict = {}  # token-bucket state (only when enabled)
    retry_horizon = 0       # furthest not_before of any pending retry

    # Append-only candidate pool (mirrors the engine's Iceberg-native
    # frontier layout): seeds + every discovered candidate stay in the
    # pool; processed keys fall out via the seen-check each round.
    pool = frontier
    prev_scheduled, prev_additions = None, None

    total_rounds = max_rounds + (reingest_rounds if reingest_seeds_path else 0)
    for round_id in range(total_rounds):
        if round_id == max_rounds and reingest_seeds_path:
            generation = 1
            for s2 in _load(reingest_seeds_path):
                cu = canonical_url(s2["base_url"])
                if cu is None:
                    continue
                pool.append(
                    {
                        "ingest_type": s2["ingest_type"],
                        "canonical_url": cu,
                        "host": host_of(cu),
                        "priority": s2["priority"],
                        "citation_priority": s2["citation_priority"],
                        "depth": s2["depth"],
                        "hops": [],
                        "seq": s2["seq"],
                        "force_recrawl": bool(s2.get("force_recrawl", False)),
                        "attempt": 0,
                        "not_before": 0,
                    }
                )
        elif (
            round_id > 0
            and prev_scheduled == 0
            and prev_additions == 0
            and round_id > retry_horizon
        ):
            break
        frontier = pool
        # 1. in-batch dedup: best fetch-priority per (type, url), tie → min seq
        best: dict = {}
        force_any: dict = {}
        for c in frontier:
            k = (c["ingest_type"], c["canonical_url"])
            force_any[k] = force_any.get(k, False) or c.get("force_recrawl", False)
            # total order incl. hop-chain tiebreaker (mirrors Spark's
            # _dedup_candidates window — deterministic across paths)
            key = (
                c["priority"],
                c["depth"],
                -c["citation_priority"],
                c["seq"],
                "|".join(c["hops"]),
                -c["attempt"],  # retry row beats its stale pool copy
            )
            if k not in best or key < best[k][0]:
                best[k] = (key, c)
        candidates = []
        for k, (_, c) in best.items():
            c = dict(c)
            c["force_recrawl"] = force_any[k]
            candidates.append(c)
        if max_retries > 0:
            # backoff gate: dormant retries shield their key this round
            candidates = [c for c in candidates if c["not_before"] <= round_id]

        # 2. anti-join URL-seen (force_recrawl rows bypass results of
        # EARLIER generations only; reference ingest_file.py:633-635)
        def _passes(c):
            k = (c["ingest_type"], c["canonical_url"])
            if k not in res.url_seen:
                return True
            return c["force_recrawl"] and res.url_seen[k]["generation"] < generation
        candidates = [c for c in candidates if _passes(c)]

        counters: dict = defaultdict(int)

        # 3. robots/blocklist gates
        eligible = []
        for c in candidates:
            rule = robots.get(c["host"])
            status = None
            if rule is not None:
                from urllib.parse import urlsplit

                path = urlsplit(c["canonical_url"]).path
                if rule["rule_kind"] == "block":
                    status = S.STATUS_BLOCKLIST
                elif rule["rule_kind"] == "cookie" and path.startswith(rule["path_prefix"]):
                    status = S.STATUS_COOKIE
                elif rule["rule_kind"] == "wall" and path.startswith(rule["path_prefix"]):
                    status = S.STATUS_WALL
            if status:
                res.url_seen[(c["ingest_type"], c["canonical_url"])] = {
                    "hit": False, "status": status, "terminal_url": None,
                    "terminal_dt": None, "terminal_status_code": None,
                    "terminal_sha1hex": None, "round_id": round_id,
                    "generation": generation,
                }
                counters[f"status:{status}"] += 1
            else:
                eligible.append(c)

        # 4. per-host politeness selection (flat budget, or token-bucket
        # state when enabled — mirrors run_round's hosts-table join:
        # refill = budget/round, capacity = cap_mult × refill, absent
        # hosts start full)
        by_host: dict = defaultdict(list)
        for c in eligible:
            by_host[c["host"]].append(c)
        selected, leftovers = [], []
        consumed_by_host: dict = {}
        for host, items in by_host.items():
            rule = robots.get(host)
            budget = rule["host_budget"] if rule is not None and rule["host_budget"] is not None else default_budget
            if token_bucket:
                budget = host_tokens.get(host, cap_mult * budget)
            items.sort(
                key=lambda c: fetch_sort_key(
                    c["priority"], c["depth"], c["citation_priority"], c["canonical_url"]
                )
            )
            selected.extend(items[:budget])
            leftovers.extend(items[budget:])
            consumed_by_host[host] = len(items[:budget])
        if token_bucket:
            for host in set(host_tokens) | set(consumed_by_host):
                rule = robots.get(host)
                b = rule["host_budget"] if rule is not None and rule["host_budget"] is not None else default_budget
                cap = cap_mult * b
                host_tokens[host] = min(
                    cap, host_tokens.get(host, cap) - consumed_by_host.get(host, 0) + b
                )

        # 5. global deterministic fetch order
        selected.sort(
            key=lambda c: fetch_sort_key(
                c["priority"], c["depth"], c["citation_priority"], c["canonical_url"]
            )
        )
        res.fetch_orders.append([c["canonical_url"] for c in selected])
        counters["scheduled"] = len(selected)

        # 6. fetch simulation
        new_candidates: list[dict] = []
        for c in selected:
            caps = captures.get(c["canonical_url"], [])
            best_mime = _MIME_GATE.get(c["ingest_type"], "application/octet-stream")
            cap = None
            if caps:
                cap = max(
                    caps,
                    key=lambda r: capture_rank_key(
                        r["url"], c["canonical_url"], r["status_code"], r["mimetype"],
                        best_mime, r["datetime"], r["warc_path"], r["sha1hex"],
                    ),
                )
            # C11: the redirect Location resolves against the fetch URL
            # BEFORE loop/terminal bookkeeping (mirrors _resolve_status)
            loc = (
                resolve_ref(c["canonical_url"], cap["location"])
                if cap is not None and cap["status_code"] in _REDIRECTS
                else None
            )
            if cap is None:
                status = S.STATUS_NO_CAPTURE
            elif cap["status_code"] in (200, 226):
                mime_req = _MIME_GATE.get(c["ingest_type"])
                ok = mime_req is None or cap["mimetype"] == mime_req
                status = S.STATUS_SUCCESS if ok else S.STATUS_WRONG_MIME
            elif cap["status_code"] in _REDIRECTS:
                if loc is None:
                    status = S.STATUS_TERMINAL_BAD
                elif loc in c["hops"] or loc == c["canonical_url"]:
                    status = S.STATUS_LINK_LOOP
                elif c["depth"] + 1 >= S.MAX_HOPS:
                    status = S.STATUS_MAX_HOPS
                else:
                    status = S.STATUS_REDIRECT
            elif max_retries > 0 and cap["status_code"] in S.TRANSIENT_HTTP_CODES:
                status = S.STATUS_TRANSIENT
            else:
                status = S.STATUS_TERMINAL_BAD

            # transient with attempts left: re-enqueue with exponential
            # round backoff, NO url_seen record (mirrors run_round)
            if status == S.STATUS_TRANSIENT and c["attempt"] < max_retries:
                nb = round_id + (1 << c["attempt"])
                retry_horizon = max(retry_horizon, nb)
                counters["retried"] += 1
                new_candidates.append(
                    {**c, "attempt": c["attempt"] + 1, "not_before": nb}
                )
                continue

            res.url_seen[(c["ingest_type"], c["canonical_url"])] = {
                "hit": status == S.STATUS_SUCCESS,
                "status": status,
                "terminal_url": loc if status == S.STATUS_REDIRECT else c["canonical_url"],
                "terminal_dt": cap["datetime"] if cap else None,
                "terminal_status_code": cap["status_code"] if cap else None,
                "terminal_sha1hex": cap["sha1hex"] if cap else None,
                "round_id": round_id,
                "generation": generation,
            }
            counters[f"status:{status}"] += 1

            # expansion: redirect target (loc is already canonical)
            if status == S.STATUS_REDIRECT:
                tgt = loc
                if tgt is not None:
                    new_candidates.append(
                        {
                            "ingest_type": c["ingest_type"],
                            "canonical_url": tgt,
                            "host": host_of(tgt),
                            "priority": c["priority"],
                            "citation_priority": c["citation_priority"],
                            "depth": c["depth"] + 1,
                            "hops": c["hops"] + [c["canonical_url"]],
                            "seq": c["seq"],
                            "force_recrawl": False,
                            "attempt": 0,
                            "not_before": 0,
                        }
                    )
            # expansion: outlinks from successful HTML fetch
            if (
                status == S.STATUS_SUCCESS
                and cap["mimetype"] == "text/html"
                and c["depth"] + 1 < S.MAX_HOPS
                and cap["sha1hex"] in docs
            ):
                new_hops = c["hops"] + [c["canonical_url"]]
                for span in docs[cap["sha1hex"]]:
                    if span["kind"] != "link":
                        continue
                    # C11: hrefs resolve against the page URL
                    tgt = resolve_ref(c["canonical_url"], span["media_ref"])
                    if tgt is None or tgt in new_hops:
                        continue
                    new_candidates.append(
                        {
                            "ingest_type": c["ingest_type"],
                            "canonical_url": tgt,
                            "host": host_of(tgt),
                            "priority": 2,
                            "citation_priority": bround6(c["citation_priority"] * 0.5),
                            "depth": c["depth"] + 1,
                            "hops": new_hops,
                            "seq": c["seq"],
                            "force_recrawl": False,
                            "attempt": 0,
                            "not_before": 0,
                        }
                    )

        pool = pool + new_candidates
        prev_scheduled, prev_additions = len(selected), len(new_candidates)
        res.counters.append(dict(counters))

    return res
