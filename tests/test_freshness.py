"""Adaptive re-crawl scheduling (operators/freshness): the Cho &
Garcia-Molina change-rate estimator against hand-computed goldens, the
capture_history adapter, and the freshness seed-rescore generation loop
(engine/oracle parity by construction — both consume the rescored
seeds file)."""

from __future__ import annotations

import math
import shutil

import pytest

from sandcrawler_spark.operators.freshness import (
    capture_history_rates,
    estimate_change_rates,
    rescore_seeds_by_freshness,
)
from sandcrawler_spark.plans.datagen import gen_frontier
from sandcrawler_spark.plans.frontier import run_crawl
from sandcrawler_spark.plans.oracle import run_oracle


def _lam(n, x, span_s):
    return -math.log((n - x + 0.5) / (n + 0.5)) / (span_s / n)


def test_estimator_golden(spark):
    rows = [
        # url A: 3 captures, 1 change, span 200s, last at t=200
        ("A", 0, "x"), ("A", 100, "y"), ("A", 200, "y"),
        # url B: 2 captures, 0 changes, span 50s, last at t=50
        ("B", 0, "x"), ("B", 50, "x"),
        # url C: single capture → dropped (no frequency information)
        ("C", 10, "z"),
    ]
    df = spark.createDataFrame(rows, "url string, t long, dg string")
    out = {
        r["url"]: r
        for r in estimate_change_rates(
            df, url_col="url", ts_col="t", digest_col="dg", min_captures=2
        ).collect()
    }
    assert set(out) == {"A", "B"}
    a, b = out["A"], out["B"]
    assert (a["n_caps"], a["n_changes"], a["span_seconds"]) == (3, 1, 200)
    assert (b["n_caps"], b["n_changes"], b["span_seconds"]) == (2, 0, 50)
    assert a["lambda_day"] == pytest.approx(
        round(_lam(3, 1, 200) * 86400, 6), abs=1e-6
    )
    # decision time = max last capture (t=200): A's age is 0 → staleness 0
    assert a["staleness"] == 0.0
    # B: age 150s at its (zero-change) λ̂ = 0 → staleness 0 as well
    assert b["lambda_day"] == 0.0 and b["staleness"] == 0.0


def test_estimator_staleness_monotone(spark):
    # same change behavior, different last-capture age → staleness ranks
    # the longer-unvisited URL higher
    rows = [
        ("old", 0, "a"), ("old", 100, "b"), ("old", 200, "c"),
        ("new", 700, "a"), ("new", 800, "b"), ("new", 900, "c"),
    ]
    df = spark.createDataFrame(rows, "url string, t long, dg string")
    out = {
        r["url"]: r
        for r in estimate_change_rates(
            df, url_col="url", ts_col="t", digest_col="dg"
        ).collect()
    }
    assert out["old"]["lambda_day"] == out["new"]["lambda_day"]
    assert out["old"]["staleness"] > out["new"]["staleness"] == 0.0


def test_capture_history_adapter(spark, tmp_path):
    d = str(tmp_path / "data")
    gen_frontier(d, n_urls=600, n_hosts=20, n_seeds=150, seed=13)
    caps = spark.read.parquet(f"{d}/capture_history.parquet")
    rates = capture_history_rates(caps)
    rows = rates.collect()
    assert rows, "fixture must yield multi-capture URLs"
    assert all(r["n_caps"] >= 2 and r["span_seconds"] > 0 for r in rows)
    assert all(r["lambda_day"] >= 0 and 0 <= r["staleness"] <= 1 for r in rows)
    # spot-check one URL against a pandas recomputation
    pdf = caps.toPandas()
    url = rows[0]["url"]
    sub = pdf[pdf.url == url].copy()
    sub["ts"] = sub["datetime"].astype("int64")
    sub = sub.sort_values(["ts", "sha1b32"])
    x = int((sub["sha1b32"].values[1:] != sub["sha1b32"].values[:-1]).sum())
    assert rows[0]["n_changes"] == x


def test_freshness_rescore_generation_parity(spark, tmp_path):
    data1 = str(tmp_path / "data")
    gen_frontier(data1, n_urls=600, n_hosts=20, n_seeds=150, seed=17)
    store1 = run_crawl(spark, data1, str(tmp_path / "s1"), max_rounds=2)

    data2 = str(tmp_path / "gen2")
    shutil.copytree(data1, data2)
    n = rescore_seeds_by_freshness(
        spark, data1, f"{data2}/seeds.parquet", weight=5.0
    )
    assert n > 0  # some seeds have multi-capture history

    import duckdb

    changed = duckdb.sql(
        f"""SELECT count(*) FROM '{data1}/seeds.parquet' a
            JOIN '{data2}/seeds.parquet' b USING (seq)
            WHERE a.citation_priority <> b.citation_priority"""
    ).fetchone()[0]
    assert changed > 0

    # engine and oracle consume the SAME rescored seeds file → exact parity
    oracle = run_oracle(data2, max_rounds=2)
    store2 = run_crawl(spark, data2, str(tmp_path / "s2"), max_rounds=2)

    def _orders(store):
        return [
            [
                r["canonical_url"]
                for r in store.read_round_table(i, "fetch_order")
                .orderBy("rank")
                .collect()
            ]
            for i in store.committed_rounds
        ]

    got = _orders(store2)
    assert len(got) == len(oracle.fetch_orders)
    for r, (g, w) in enumerate(zip(got, oracle.fetch_orders)):
        assert g == w, f"freshness-gen fetch order diverged in round {r}"
    # and the rescore genuinely reordered the crawl vs generation 1
    assert _orders(store1) != got


def test_staleness_reingest_seeds(spark):
    """Adaptive reingest trigger: only multi-capture, seen, above-tau
    URLs become force_recrawl seeds; citation_priority carries the
    staleness; contract matches the sitemap trigger's seed schema."""
    from sandcrawler_spark.operators.freshness import staleness_reingest_seeds

    # hot: 3 captures all different (high λ̂), last capture long ago
    # cold: 3 captures identical digests (λ̂=0 → staleness 0)
    # thin: 1 capture (no evidence → never due)
    caps = spark.createDataFrame(
        [
            ("http://h/hot", "20200101000000", "a"),
            ("http://h/hot", "20200102000000", "b"),
            ("http://h/hot", "20200103000000", "c"),
            ("http://h/cold", "20200101000000", "x"),
            ("http://h/cold", "20200102000000", "x"),
            ("http://h/cold", "20240101000000", "x"),  # sets "now" horizon
            ("http://h/thin", "20200101000000", "z"),
        ],
        "url string, datetime string, sha1b32 string",
    )
    seen = spark.createDataFrame(
        [
            ("html", "http://h/hot", "20200103000000"),
            ("html", "http://h/cold", "20240101000000"),
            ("html", "http://h/thin", "20200101000000"),
            ("html", "http://h/never-fetched", None),
        ],
        "ingest_type string, canonical_url string, terminal_dt string",
    )
    seeds = staleness_reingest_seeds(caps, seen, tau=0.5)
    rows = seeds.collect()
    assert [r["base_url"] for r in rows] == ["http://h/hot"]
    r = rows[0]
    assert r["seq"] == 0 and r["force_recrawl"] and r["priority"] == 0
    assert r["link_source"] == "change-rate"
    assert 0.5 <= r["citation_priority"] <= 1.0

    # schema contract identical to the sitemap trigger's seed frame
    from sandcrawler_spark.sources.sitemaps import freshness_reingest_seeds

    entries = spark.createDataFrame(
        [], "kind string, url string, lastmod string, fetch_url string"
    )
    assert seeds.columns == freshness_reingest_seeds(entries, seen).columns

    # tau=0: cold joins the due set too (staleness 0 >= 0)... but its
    # λ̂=0 keeps staleness at exactly 0, and hot outranks it
    all_due = staleness_reingest_seeds(caps, seen, tau=0.0).collect()
    assert {r["base_url"] for r in all_due} == {"http://h/hot", "http://h/cold"}
    by_url = {r["base_url"]: r["citation_priority"] for r in all_due}
    assert by_url["http://h/cold"] == 0.0 < by_url["http://h/hot"]
