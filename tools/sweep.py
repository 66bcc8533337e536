"""Corpus-growth + round-depth sweep (BENCH.md evidence runner).

Two scaling axes the local bench can't see in one 2-round crawl:

- data axis: the identical crawl over growing fixtures (µs/URL should
  FALL as constant per-round cost amortizes — the 10^10 signature);
- round axis: a deep crawl (≥8 rounds) on one fixture, where the
  per-round candidate-scan input (``frontier_input_rows``) must stay
  O(active frontier), not O(cumulative additions) — the compaction
  claim from VERDICT r2 #2.

Usage: python tools/sweep.py [--sizes 4000000,12000000,40000000]
       [--rounds 8] [--cores 32]
Prints one JSON line; run on an otherwise-idle box (shared-VM numbers
are best-of-2 on a warm session).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_TMPFS", "1")

BENCH_CACHE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".bench_cache"
)


def fixture(n_urls: int, n_hosts: int, tag: str = "rel1") -> str:
    from sandcrawler_spark.plans.datagen import gen_frontier

    d = os.path.join(BENCH_CACHE, f"u{n_urls}_h{n_hosts}_{tag}_s42")
    if not os.path.exists(os.path.join(d, "seeds.parquet")):
        os.makedirs(d, exist_ok=True)
        gen_frontier(d, n_urls=n_urls, n_hosts=n_hosts, n_seeds=n_urls // 3,
                     seed=42, budget_range=(16, 48))
    return d


def crawl(spark, data_dir: str, rounds: int) -> dict:
    from sandcrawler_spark.plans.frontier import run_crawl

    state = tempfile.mkdtemp(prefix="sweep_state_")
    try:
        t0 = time.perf_counter()
        store = run_crawl(spark, data_dir, state, max_rounds=rounds)
        elapsed = time.perf_counter() - t0
        c = store.counters()
        processed = sum(
            v for rc in c.values() for k, v in rc.items()
            if k.startswith("status:")
        )
        per_round_input = {
            r: c[r].get("frontier_input_rows") for r in sorted(c, key=int)
        }
        digests = [c[r]["order_digest"] for r in sorted(c, key=int)]
        return {
            "seconds": round(elapsed, 2),
            "urls_processed": processed,
            "urls_per_sec": round(processed / elapsed, 1),
            "us_per_url": round(1e6 * elapsed / max(processed, 1), 2),
            "frontier_input_rows": per_round_input,
            "digests": digests,
        }
    finally:
        shutil.rmtree(state, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="4000000,12000000,40000000")
    ap.add_argument("--rounds", type=int, default=8)
    ap.add_argument("--deep-size", type=int, default=4_000_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--growth-rounds", type=int, default=2)
    ap.add_argument("--skip-deep", action="store_true")
    args = ap.parse_args()

    from sandcrawler_spark.session import get_spark

    spark = get_spark(f"sweep-{args.cores}", cores=args.cores,
                      shuffle_partitions=args.cores)

    # warm-up crawl (JIT, python workers)
    crawl(spark, fixture(50_000, 2_000, tag="warm"), 2)

    growth = {}
    for n in [int(s) for s in args.sizes.split(",") if s]:
        d = fixture(n, max(2_000, n // 80))
        best = None
        for _ in range(2):
            r = crawl(spark, d, args.growth_rounds)
            if best is None or r["seconds"] < best["seconds"]:
                best = r
        growth[str(n)] = best

    # round-depth: one deep crawl, per-round input evidence
    deep = None
    if not args.skip_deep:
        deep_fix = fixture(args.deep_size, max(2_000, args.deep_size // 80))
        deep = crawl(spark, deep_fix, args.rounds)
        deep = {"n_urls": args.deep_size, "rounds": args.rounds, **deep}

    out = {
        "cores": args.cores,
        "growth_rounds": args.growth_rounds,
        "corpus_growth": growth,
        "deep_crawl": deep,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
