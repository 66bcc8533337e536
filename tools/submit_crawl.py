"""spark-submit entry point for the frontier crawl (north_rule: runs via
``spark-submit --py-files`` on multi-executor clusters).

Local sandbox:
    python tools/submit_crawl.py --data DIR --state DIR --rounds 4

Cluster:
    zip -r sandcrawler_spark.zip sandcrawler_spark
    spark-submit --py-files sandcrawler_spark.zip \
        --num-executors N --executor-cores C \
        tools/submit_crawl.py --data s3://... --state s3://... --rounds 8

The session is taken from the environment when launched by
spark-submit (its master/conf win); the local factory is only a
fallback for direct python invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# runnable as a plain script: the package lives one level up from tools/
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True, help="dir with seeds/capture_history/docs/robots parquet")
    ap.add_argument("--state", required=True, help="snapshot state dir")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--budget", type=int, default=3)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--token-bucket",
        action="store_true",
        help="per-host token-bucket politeness (persisted hosts state table) "
        "instead of the flat per-round budget",
    )
    ap.add_argument(
        "--max-retries",
        type=int,
        default=0,
        help="re-enqueue fetches whose best capture is 429/5xx up to N times "
        "with exponential round backoff before recording remote-server-error "
        "(0 = historical terminal-bad semantics)",
    )
    ap.add_argument(
        "--refresh-freshness",
        action="store_true",
        help="before crawling, bump seed citation_priority by expected "
        "staleness (Cho & Garcia-Molina change-rate estimate over the data "
        "dir's own capture history) so fast-changing pages are fetched "
        "earlier — the adaptive counterpart of the fixed reingest schedule",
    )
    ap.add_argument(
        "--freshness-weight",
        type=float,
        default=1.0,
        help="staleness bump weight for --refresh-freshness",
    )
    ap.add_argument(
        "--refresh-citations-from",
        metavar="STATE_DIR",
        help="before crawling, recompute seed citation_priority via PageRank "
        "over the link graph of the committed crawl at STATE_DIR (the "
        "generation loop: crawl N feeds crawl N+1's fetch priorities); "
        "writes the refreshed seeds next to --state and crawls from a "
        "data dir that uses them",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        from sandcrawler_spark.session import get_spark

        spark = get_spark("frontier-crawl")

    from sandcrawler_spark.plans.frontier import run_crawl

    data_dir = args.data
    refreshed = None
    if args.refresh_citations_from:
        import shutil

        from sandcrawler_spark.operators.linkgraph import refresh_seed_citations

        gen_dir = os.path.join(args.state + "_gen_data")
        if not os.path.isdir(gen_dir):
            shutil.copytree(args.data, gen_dir)
        refreshed = refresh_seed_citations(
            spark,
            args.data,
            args.refresh_citations_from,
            os.path.join(gen_dir, "seeds.parquet"),
        )
        data_dir = gen_dir

    rescored_fresh = None
    if args.refresh_freshness:
        import shutil

        from sandcrawler_spark.operators.freshness import rescore_seeds_by_freshness

        gen_dir = os.path.join(args.state + "_fresh_data")
        if not os.path.isdir(gen_dir):
            shutil.copytree(data_dir, gen_dir)
        rescored_fresh = rescore_seeds_by_freshness(
            spark,
            gen_dir,
            os.path.join(gen_dir, "seeds.parquet"),
            weight=args.freshness_weight,
        )
        data_dir = gen_dir

    store = run_crawl(
        spark,
        data_dir,
        args.state,
        max_rounds=args.rounds,
        default_budget=args.budget,
        resume=args.resume,
        token_bucket=args.token_bucket,
        max_retries=args.max_retries,
    )
    out = {"rounds": store.committed_rounds, "counters": store.counters()}
    if refreshed is not None:
        out["seeds_rescored"] = refreshed
    if rescored_fresh is not None:
        out["seeds_rescored_freshness"] = rescored_fresh
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
