"""force_recrawl semantics (IngestRequest field, proposals/2019_ingest.md;
seen-check bypass ingest_file.py:633-635; result row update db.py:474-485):
forced candidates bypass the URL-seen anti-join and their new result row
supersedes the old one at read time."""

from __future__ import annotations

from pyspark.sql import functions as F

from sandcrawler_spark.plans import schemas as S
from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import prepare_seeds, resolve_url_seen, run_round
from sandcrawler_spark.plans.oracle import run_oracle


def test_forced_rows_bypass_seen_and_reresolve(spark, tmp_path):
    d = str(tmp_path / "data")
    gen_frontier(d, n_urls=300, n_hosts=10, n_seeds=120, seed=3)
    robots = spark.read.parquet(f"{d}/robots.parquet")
    captures = spark.read.parquet(f"{d}/capture_history.parquet")
    docs = spark.read.parquet(f"{d}/docs.parquet")
    frontier = prepare_seeds(spark.read.parquet(f"{d}/seeds.parquet"))

    # round 0: nothing seen
    rr0 = run_round(spark, frontier, None, robots, captures, docs, round_id=0)
    seen0 = rr0.url_seen_delta.withColumn("round_id", F.lit(0))
    fetched0 = [
        (r["ingest_type"], r["canonical_url"])
        for r in rr0.url_seen_delta.select("ingest_type", "canonical_url").collect()
    ][:5]
    assert fetched0

    # round 1 frontier (prepare_seeds' schema): same keys again — half
    # forced, half not
    rows = [
        (t, u, "h0.example.org", 0, 0.5, 0, [], 1000 + i, i % 2 == 0, 0, 0)
        for i, (t, u) in enumerate(fetched0)
    ]
    f1 = spark.createDataFrame(
        rows,
        "ingest_type string, canonical_url string, host string, priority int, "
        "citation_priority double, depth int, hops array<string>, seq long, "
        "force_recrawl boolean, attempt int, not_before int",
    ).withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
    # generation 1 = a re-ingest cycle: forced rows bypass gen-0 results
    rr1 = run_round(spark, f1, seen0, robots, captures, docs, round_id=1, generation=1)
    redone = {
        (r["ingest_type"], r["canonical_url"]) for r in rr1.url_seen_delta.collect()
    }
    want_forced = {k for i, k in enumerate(fetched0) if i % 2 == 0}
    assert redone == want_forced  # unforced dupes dropped, forced re-done

    # read-side resolution: latest round wins per key
    merged = seen0.unionByName(rr1.url_seen_delta.withColumn("round_id", F.lit(1)))
    resolved = resolve_url_seen(merged)
    by_key = {
        (r["ingest_type"], r["canonical_url"]): r["round_id"]
        for r in resolved.collect()
    }
    for k in want_forced:
        assert by_key[k] == 1
    assert resolved.count() == seen0.count()  # one row per key


def test_force_zero_pct_keeps_oracle_parity(spark, tmp_path):
    """Datagen with force column present (all False) must not perturb the
    oracle-parity pipeline."""
    from sandcrawler_spark.plans.frontier import run_crawl

    d = str(tmp_path / "data0")
    gen_frontier(d, n_urls=400, n_hosts=12, n_seeds=120, seed=5, force_recrawl_pct=0.0)
    oracle = run_oracle(d, max_rounds=2)
    store = run_crawl(spark, d, str(tmp_path / "st"), max_rounds=2)
    orders = []
    for r in store.committed_rounds:
        df = store.read_round_table(r, "fetch_order")
        orders.append([row["canonical_url"] for row in df.orderBy("rank").collect()])
    assert orders == oracle.fetch_orders
