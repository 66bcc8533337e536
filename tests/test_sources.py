"""Fixture generator test: chunked ``gen_frontier`` output equals a
single-chunk run."""

from __future__ import annotations


def test_datagen_chunked_identical():
    """gen_frontier's chunked string assembly must be value-identical
    to a single-chunk run (all RNG draws are global; chunking only
    bounds peak memory for 10^7-10^8-row fixtures)."""
    import duckdb

    import sandcrawler_spark.plans.datagen as dg

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        one, many = f"{d}/one", f"{d}/many"
        prev = dg.GEN_CHUNK_ROWS
        try:
            dg.GEN_CHUNK_ROWS = 10**9
            dg.gen_frontier(one, n_urls=8000, n_hosts=80, n_seeds=2500,
                            seed=33, force_recrawl_pct=0.05)
            dg.GEN_CHUNK_ROWS = 700  # force many chunks incl. docs/span cuts
            dg.gen_frontier(many, n_urls=8000, n_hosts=80, n_seeds=2500,
                            seed=33, force_recrawl_pct=0.05)
        finally:
            dg.GEN_CHUNK_ROWS = prev
        for t in ("seeds", "capture_history", "docs", "robots"):
            a = duckdb.sql(f"SELECT * FROM '{one}/{t}.parquet'").fetchall()
            b = duckdb.sql(f"SELECT * FROM '{many}/{t}.parquet'").fetchall()
            assert a == b, t
            assert len(a) > 0
