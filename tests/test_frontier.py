"""End-to-end frontier test: Spark scheduling rounds vs the
single-threaded oracle — fetch order, URL-seen set, statuses, counters
must match EXACTLY (SURVEY §5 rebuild test plan b/d)."""

from __future__ import annotations

import json
import os

import pytest

from sandcrawler_spark.plans import frontier, oracle
from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import run_crawl
from sandcrawler_spark.plans.oracle import run_oracle


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("frontier_data"))
    gen_frontier(d, n_urls=800, n_hosts=25, n_seeds=200, seed=7)
    return d


def _spark_orders(store):
    orders = []
    for r in store.committed_rounds:
        df = store.read_round_table(r, "fetch_order")
        rows = df.orderBy("rank").collect()
        orders.append([row["canonical_url"] for row in rows])
    return orders


def _spark_seen(store):
    df = store.read_table("url_seen")
    return {
        (r["ingest_type"], r["canonical_url"]): {
            "hit": r["hit"],
            "status": r["status"],
            "terminal_url": r["terminal_url"],
            "terminal_dt": r["terminal_dt"],
            "terminal_status_code": r["terminal_status_code"],
            "terminal_sha1hex": r["terminal_sha1hex"],
            "round_id": r["round_id"],
        }
        for r in df.collect()
    }


def test_spark_matches_oracle(spark, fixture_dir, tmp_path):
    rounds = 3
    oracle = run_oracle(fixture_dir, max_rounds=rounds)
    store = run_crawl(spark, fixture_dir, str(tmp_path / "state"), max_rounds=rounds)

    spark_orders = _spark_orders(store)
    assert len(spark_orders) == len(oracle.fetch_orders)
    for r, (got, want) in enumerate(zip(spark_orders, oracle.fetch_orders)):
        assert got == want, f"fetch order diverged in round {r}"

    got_seen = _spark_seen(store)
    want_seen = oracle.url_seen
    assert set(got_seen) == set(want_seen)
    for k in want_seen:
        for f in ("hit", "status", "terminal_url", "terminal_dt",
                  "terminal_status_code", "terminal_sha1hex", "round_id"):
            assert got_seen[k][f] == want_seen[k][f], (k, f, got_seen[k], want_seen[k])

    # counters parity (per-status + scheduled)
    sc = store.counters()
    for r, want in enumerate(oracle.counters):
        got = {
            k: v
            for k, v in sc[str(r)].items()
            if k.startswith("status:") or k == "scheduled"
        }
        assert got == want, f"counters diverged in round {r}"


def test_resume_identical(spark, fixture_dir, tmp_path):
    """Kill/resume (SURVEY §5 d): run 1 round, 'crash', resume for 2 more
    → identical to a straight 3-round run."""
    full = run_crawl(spark, fixture_dir, str(tmp_path / "full"), max_rounds=3)
    part = run_crawl(spark, fixture_dir, str(tmp_path / "part"), max_rounds=1)
    # state dirs written with the older catalog-bucketed url_seen layout
    # carry a manifest entry naming its base table; every url_seen delta
    # is still on disk, so resume ignores the entry (and its absent table)
    mpath = tmp_path / "part" / "manifest.json"
    manifest = json.loads(mpath.read_text())
    manifest["seen_compaction"] = {
        "round": 0, "table": "seen_base_r00000", "catalog": "seen_base_0_r0", "rows": 1
    }
    mpath.write_text(json.dumps(manifest))
    part = run_crawl(
        spark, fixture_dir, str(tmp_path / "part"), max_rounds=3, resume=True
    )
    assert _spark_orders(full) == _spark_orders(part)
    assert _spark_seen(full) == _spark_seen(part)


def test_resume_after_torn_uncommitted_writes(spark, fixture_dir, tmp_path):
    """Crash INSIDE the write window (round 4 submits all per-round
    table writes concurrently, so any subset can have landed when the
    process dies before commit): resume must overwrite the torn,
    uncommitted round files and reproduce the straight run exactly —
    the manifest, not the files on disk, is the commit point."""
    from pyspark.sql import functions as F

    from sandcrawler_spark.plans.state import SnapshotStore

    full = run_crawl(spark, fixture_dir, str(tmp_path / "full"), max_rounds=3)
    part_dir = str(tmp_path / "part")
    part = run_crawl(spark, fixture_dir, part_dir, max_rounds=1)
    # simulate a torn round 1: one table written with GARBAGE rows (a
    # half-finished job's output), another missing, nothing committed
    store = SnapshotStore(part_dir, spark)
    garbage = spark.range(5).select(
        F.lit("pdf").alias("ingest_type"),
        F.concat(F.lit("http://torn.example/"), F.col("id")).alias("canonical_url"),
        F.xxhash64("id").alias("url_hash"),
        F.lit(False).alias("hit"),
        F.lit("success").alias("status"),
        F.lit(None).cast("string").alias("terminal_url"),
        F.lit(None).cast("string").alias("terminal_dt"),
        F.lit(None).cast("int").alias("terminal_status_code"),
        F.lit(None).cast("string").alias("terminal_sha1hex"),
        F.lit(1).alias("round_id"),
        F.lit(False).alias("forced"),
        F.lit(0).alias("generation"),
    )
    store.write_table(1, "url_seen", garbage)
    part = run_crawl(spark, fixture_dir, part_dir, max_rounds=3, resume=True)
    assert _spark_orders(full) == _spark_orders(part)
    assert _spark_seen(full) == _spark_seen(part)


def test_compaction_digest_neutral_and_bounded_input(
    spark, fixture_dir, tmp_path, monkeypatch
):
    """Frontier compaction must not change ANY observable result (fetch
    orders, URL-seen set) while keeping per-round candidate-scan input
    O(active frontier) instead of O(cumulative additions)."""
    rounds = 6
    monkeypatch.setattr(frontier, "COMPACT_MIN_ROWS", 1 << 62)  # never compact
    plain = run_crawl(spark, fixture_dir, str(tmp_path / "nc"), max_rounds=rounds)
    assert plain.compaction is None
    monkeypatch.setattr(frontier, "COMPACT_FACTOR", 0.0)  # compact every round
    monkeypatch.setattr(frontier, "COMPACT_MIN_ROWS", 1)
    # a url_seen base left by an old bucketed-seen crawl
    stale = tmp_path / "cc" / "aux" / "seen_base_r00000"
    stale.mkdir(parents=True)
    (stale / "part-0.parquet").write_bytes(b"")
    compacted = run_crawl(spark, fixture_dir, str(tmp_path / "cc"), max_rounds=rounds)
    assert compacted.compaction is not None  # it actually ran
    # only the committed base survives; superseded ones are deleted
    bases = sorted(p.name for p in (tmp_path / "cc" / "aux").iterdir() if "_base_r" in p.name)
    assert bases == [compacted.compaction["table"]]
    assert _spark_orders(plain) == _spark_orders(compacted)
    assert _spark_seen(plain) == _spark_seen(compacted)

    rs = sorted(map(int, plain.counters()))
    plain_in = [plain.counters()[str(r)]["frontier_input_rows"] for r in rs]
    comp_in = [compacted.counters()[str(r)]["frontier_input_rows"] for r in rs]
    # append-only input grows monotonically; compacted input tracks the
    # shrinking active frontier — strictly smaller once state accumulates
    assert all(c <= p for c, p in zip(comp_in, plain_in))
    assert comp_in[-1] < plain_in[-1]


def test_politeness_keeps_unselected(spark):
    """Regression: phase-1 salt overflow must remain in the output as
    unselected rows (they are next round's frontier), while selection
    stays exactly the per-host top-budget."""
    from pyspark.sql import functions as F

    from sandcrawler_spark.plans.frontier import _politeness_select

    rows = [
        ("pdf", f"http://hot.example.org/p{i:03d}", "hot.example.org",
         0, 1.0 - i / 100.0, 0, [], i, False, 2)
        for i in range(40)  # 40 candidates, budget 2 → heavy salt overflow
    ]
    df = spark.createDataFrame(
        rows,
        "ingest_type string, canonical_url string, host string, priority int, "
        "citation_priority double, depth int, hops array<string>, seq long, "
        "force_recrawl boolean, host_budget int",
    )
    out = _politeness_select(df).collect()
    assert len(out) == 40  # nothing dropped
    sel = sorted(r["canonical_url"] for r in out if r["selected"])
    assert sel == ["http://hot.example.org/p000", "http://hot.example.org/p001"]


def test_oracle_halving_matches_spark_bround(spark):
    """Outlinks inherit half their parent's citation priority, rounded to
    6 dp: Spark's ``F.bround`` rounds the double's decimal string
    half-even, so the oracle must too — Python's ``round`` on the exact
    binary value splits decimal ties the other way about half the time."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    # odd last digit: every halved value is a decimal tie at 7 dp
    cites = [0.680273] + [(2 * rng.randrange(500_000) + 1) / 1e6 for _ in range(2000)]
    df = spark.createDataFrame([(c,) for c in cites], "c double")
    got = df.select(F.bround(F.col("c") * 0.5, 6).alias("h")).collect()
    want = [oracle.bround6(c * 0.5) for c in cites]
    assert [r["h"] for r in got] == want
    assert sum(round(c * 0.5, 6) != w for c, w in zip(cites, want)) > 100


def test_oracle_parity_on_halved_citation_ties(spark, tmp_path, monkeypatch):
    """A small crawl whose seed citations sit on a 1e-6 grid, so halved
    outlink priorities land on decimal ties: round 1's fetch order
    depends on how those ties round, and the Spark crawl must equal the
    oracle's."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "data")
    gen_frontier(d, n_urls=800, n_hosts=25, n_seeds=200, seed=3)
    seeds = pq.read_table(f"{d}/seeds.parquet")
    grid = np.round(0.34 + (np.arange(seeds.num_rows) % 8) * 1e-6, 6)
    col = seeds.schema.get_field_index("citation_priority")
    seeds = seeds.set_column(col, "citation_priority", pa.array(grid, pa.float64()))
    pq.write_table(seeds, f"{d}/seeds.parquet")

    want = run_oracle(d, max_rounds=3).fetch_orders
    store = run_crawl(spark, d, str(tmp_path / "state"), max_rounds=3)
    assert _spark_orders(store) == want
    # the fixture exercises the ties: binary rounding orders round 1 differently
    monkeypatch.setattr(oracle, "bround6", lambda x: round(x, 6))
    assert run_oracle(d, max_rounds=3).fetch_orders[1] != want[1]


def test_crawl_leaves_no_cache_behind(spark, tmp_path):
    """run_crawl unpersists everything it persisted and restores AQE,
    both after a 2-round crawl and on an early exit (resume of a
    finished crawl, where no round runs)."""
    d = str(tmp_path / "data")
    gen_frontier(d, n_urls=300, n_hosts=10, n_seeds=100, seed=11)
    jsc = spark.sparkContext._jsc
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        for resume in (False, True):
            before = jsc.getPersistentRDDs().size()
            run_crawl(spark, d, str(tmp_path / "state"), max_rounds=2, resume=resume)
            assert jsc.getPersistentRDDs().size() == before, f"resume={resume}"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
