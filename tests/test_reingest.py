"""Dump→re-ingest cycle parity (reference: sql/dump_reingest_quarterly.sql):
after a 2-round crawl, a new generation of seeds — some force_recrawl on
already-seen URLs, some fresh — continues the crawl; Spark must match
the oracle byte-for-byte across the whole extended schedule, and forced
results must supersede the old rows."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import resolve_url_seen, run_crawl, run_reingest
from sandcrawler_spark.plans.oracle import run_oracle


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reingest_data"))
    gen_frontier(d, n_urls=700, n_hosts=20, n_seeds=220, seed=13)
    state = str(tmp_path_factory.mktemp("reingest_state"))
    store = run_crawl(spark, d, state, max_rounds=2)

    # craft reingest seeds deterministically from round-0 fetch order:
    # 20 already-seen URLs forced, 5 already-seen unforced (must be
    # suppressed), using the stored ingest types
    fo = store.read_round_table(0, "fetch_order").orderBy("rank").collect()
    rows = [(r["ingest_type"], r["canonical_url"]) for r in fo[:25]]
    seeds2 = pa.table(
        {
            "seq": pa.array(range(10_000, 10_000 + len(rows)), pa.int64()),
            "ingest_type": pa.array([t for t, _ in rows]),
            "base_url": pa.array([u for _, u in rows]),
            "link_source": pa.array(["reingest"] * len(rows)),
            "link_source_id": pa.array([f"ri-{i}" for i in range(len(rows))]),
            "priority": pa.array([0] * len(rows), pa.int32()),
            "citation_priority": pa.array([0.9] * len(rows), pa.float64()),
            "depth": pa.array([0] * len(rows), pa.int32()),
            "force_recrawl": pa.array([i < 20 for i in range(len(rows))]),
        }
    )
    ri_path = f"{d}/reingest_seeds.parquet"
    pq.write_table(seeds2, ri_path)
    return d, state, ri_path


def test_reingest_matches_oracle(spark, env):
    d, state, ri_path = env
    store = run_reingest(spark, d, state, ri_path, extra_rounds=2)
    oracle = run_oracle(d, max_rounds=2, reingest_seeds_path=ri_path, reingest_rounds=2)

    got_orders = []
    for r in store.committed_rounds:
        df = store.read_round_table(r, "fetch_order")
        got_orders.append([row["canonical_url"] for row in df.orderBy("rank").collect()])
    assert got_orders == oracle.fetch_orders

    seen = resolve_url_seen(store.read_table("url_seen"))
    got = {
        (r["ingest_type"], r["canonical_url"]): (r["status"], r["round_id"])
        for r in seen.collect()
    }
    want = {k: (v["status"], v["round_id"]) for k, v in oracle.url_seen.items()}
    assert got == want

    # the first reingest round's candidate input counts the 25 prepared
    # reingest seeds next to everything round 1 read and added
    c = store.counters()
    assert c["2"]["frontier_input_rows"] == (
        c["1"]["frontier_input_rows"] + c["1"]["frontier_rows"] + 25
    )


def test_forced_rows_superseded(spark, env):
    d, state, ri_path = env
    store_like = run_reingest  # already executed in the other test via module fixture state
    # read final state written by test_reingest_matches_oracle's run
    from sandcrawler_spark.plans.state import SnapshotStore

    store = SnapshotStore(state, spark)
    assert store.generation == 1
    seen = resolve_url_seen(store.read_table("url_seen"))
    forced = pq.read_table(ri_path).to_pylist()
    forced_keys = {
        (r["ingest_type"], r["base_url"]) for r in forced if r["force_recrawl"]
    }
    rows = {
        (r["ingest_type"], r["canonical_url"]): r for r in seen.collect()
    }
    redone = [rows[k] for k in forced_keys if k in rows]
    assert redone and all(r["round_id"] >= 2 for r in redone)  # re-resolved in gen 1
