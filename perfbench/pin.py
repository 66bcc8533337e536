"""Pin the benchmark's correctness references, confirming each against
the oracles once.

    python3 perfbench/pin.py --seeds 0-15

For every seed and workload this runs the program once and the oracle
once, and pins nothing for a seed on which they disagree (the seed is
reported, and the benchmark, which picks its inputs among pinned seeds,
never uses it):

* crawl: the per-round fetch order of ``run_crawl`` must equal
  ``plans.oracle.run_oracle``'s; the per-round ``order_digest`` values
  are pinned;
* battery: each leaf's full result must equal its registered DuckDB
  oracle's (row for row, order-insensitive, floats to 9 places); the
  row count is pinned.

Pins are merged into ``perfbench/pins.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _normalized(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def pin_crawl(spark, wl, data: str, work: str) -> tuple[list[int] | None, str | None]:
    from sandcrawler_spark.plans.frontier import run_crawl
    from sandcrawler_spark.plans.oracle import run_oracle

    # a fresh path per crawl: Python workers cache bloom bitmaps by path
    state = os.path.join(work, f"pin-state-{os.path.basename(data)}")
    shutil.rmtree(state, ignore_errors=True)
    store = run_crawl(spark, data, state, max_rounds=wl.rounds)
    rounds = store.committed_rounds
    got = [
        [r["canonical_url"] for r in
         store.read_round_table(rid, "fetch_order").orderBy("rank").collect()]
        for rid in rounds
    ]
    want = run_oracle(data, max_rounds=wl.rounds).fetch_orders
    counters = store.counters()
    shutil.rmtree(state, ignore_errors=True)
    if got != want:
        bad = next(r for r, (g, w) in enumerate(zip(got, want)) if g != w)
        return None, f"fetch order differs from run_oracle in round {bad}"
    return [int(counters[str(r)]["order_digest"]) for r in rounds], None


def pin_battery(spark, wl, data: str) -> tuple[dict[str, int] | None, str | None]:
    import duckdb

    from perfbench.tables import TABLES
    from sandcrawler_spark.queries import ORACLES, QUERIES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    rows = {}
    for leaf in wl.leaves:
        sdf = QUERIES[leaf](spark, data)
        got = [tuple(r) for r in sdf.collect()]
        rel = con.sql(ORACLES[leaf])
        want = rel.fetchall()
        if sorted(sdf.columns) != sorted(rel.columns) or _normalized(
            got, sdf.columns
        ) != _normalized(want, rel.columns):
            con.close()
            return None, f"{leaf} differs from its DuckDB oracle"
        rows[leaf] = len(got)
    con.close()
    return rows, None


def pin_seeds(names: list[str], seeds, pins_path: str) -> None:
    """Pin ``names`` x ``seeds`` into ``pins_path``, in one Spark session."""
    from perfbench.run import fit_box, make_workload, stop_spark
    from sandcrawler_spark.session import get_spark

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"pin-{os.getpid()}")
    box = fit_box(run_dir)
    pins = {}
    if os.path.isfile(pins_path):
        with open(pins_path) as f:
            pins = json.load(f)
    spark = get_spark("perfbench-pin", cores=box["cores"], shuffle_partitions=box["cores"])
    try:
        for seed in seeds:
            for name in names:
                wl = make_workload(name)
                data = wl.prepare(os.path.join(work, "inputs"), seed)
                if name == "crawl":
                    ref, why = pin_crawl(spark, wl, data, run_dir)
                else:
                    ref, why = pin_battery(spark, wl, data)
                if ref is None:
                    # never pinned, so the benchmark never selects it
                    print(f"not pinned: {name} seed {seed}: {why}", flush=True)
                    continue
                pins.setdefault(name, {})[str(seed)] = ref
                with open(pins_path, "w") as f:
                    json.dump(pins, f, indent=1, sort_keys=True)
                print(f"pinned {name} seed {seed}", flush=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="0-15", help="inclusive range, e.g. 0-15")
    p.add_argument("--workloads", default="crawl,battery")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    sys.path.insert(0, ROOT)
    from perfbench.run import PINS

    pin_seeds(args.workloads.split(","), range(lo, hi + 1), PINS)


if __name__ == "__main__":
    main()
