"""The benchmark's workloads: what one operation is, how its inputs are
made from the seed, how its outputs are checked, and which metrics it
yields untraced (end to end) and traced (per layer).

Every workload is a closed loop with one client: the next operation is
submitted only after the previous one returns.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import inputs, tables
from perfbench.trace import CommitClock, Tracer, covered, job_totals

# the frozen bench.py HEADLINE list: the battery's 38 leaves, in order
HEADLINE = (
    "q1_pricing_summary", "j1_broadcast_join", "j2_sortmerge_join",
    "a5_cube_rollup", "a8_last_wins_dedup", "w1_dedup_top1",
    "w3_politeness_topk", "o1_global_rank", "st_session_window",
    "dd_minhash_lsh", "dd_simhash", "ann_cosine_topk", "med_binary_meta",
    "txt_tokens", "txt_langid_ngram", "med_sniff", "smp_hash_sample",
    "smp_stratified", "pack_shards_lpt", "rb_longest_match",
    "txt_line_dedup", "txt_pii_redact", "lg_pagerank", "lg_bfs_depth",
    "ir_bm25_topk", "fr_change_rate", "cu_dsir_score",
    "bib_metadata_filter", "ann_pq_search", "med_audio_segments",
    "aj_asof_join", "iv_interval_join", "fs_dataset_ingest",
    "mon_broken_domains", "txt_ccnet_buckets", "cdx_revisit_resolve",
    "med_pdf_spans", "cls_quality_score",
)
BATTERY_WARMUP = ("q1_pricing_summary", "txt_tokens")

CRAWL_LAYER_METRICS = (
    ("frontier.run_round.plan_s", "s"),
    ("frontier.jobs_per_round", "count"),
    ("frontier.stages_per_round", "count"),
    ("frontier.driver_idle_s", "s"),
    ("frontier.round_self_s", "s"),
    ("frontier.shuffle_write_bytes", "bytes"),
    ("frontier.spill_bytes", "bytes"),
    ("frontier.scheduled_per_candidate", "ratio"),
    ("frontier.frontier_input_rows", "count"),
    ("urlkeys.prepare_seeds_s", "s"),
    ("urlkeys.rows_per_s", "1/s"),
    ("state.write_table_s", "s"),
    ("state.write_table_wall_s", "s"),
    ("state.read_table_s", "s"),
    ("state.commit_round_s", "s"),
    ("state.bytes_written", "bytes"),
    ("state.bytes_per_url", "bytes/url"),
    ("bloom.update_s", "s"),
    ("bloom.update_calls", "count"),
    ("bloom.rebuild_calls", "count"),
    ("bloom.might_contain_udf_s", "s"),
    ("bloom.total_bytes", "bytes"),
)
BATTERY_LAYER_METRICS = tuple((f"battery.{leaf}_s", "s") for leaf in HEADLINE) + (
    ("battery.plan_s", "s"),
    ("battery.exec_s", "s"),
    ("battery.shuffle_write_bytes", "bytes"),
    ("battery.spill_bytes", "bytes"),
    ("battery.scan_bytes", "bytes"),
)


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def median(xs) -> float:
    return float(statistics.median(xs))


@dataclass
class Outcome:
    """What the loop collected: one entry per operation attempted."""

    ops: list[dict] = field(default_factory=list)
    failed: int = 0
    attempted: int = 0
    notes: list[str] = field(default_factory=list)

    def fail(self, note: str) -> None:
        self.failed += 1
        self.notes.append(note)


# ----------------------------------------------------------------- crawls


@dataclass(frozen=True)
class Crawl:
    """``run_crawl`` with library defaults over a ``gen_frontier`` fixture:
    one operation is one whole crawl; its unit of latency is one round,
    timed commit to commit."""

    name: str
    n_urls: int
    n_hosts: int
    n_seeds: int
    rounds: int
    budget_range: tuple[int, int] = (16, 48)

    def gen_args(self, seed: int) -> dict:
        return {
            "n_urls": self.n_urls, "n_hosts": self.n_hosts, "n_seeds": self.n_seeds,
            "seed": seed, "budget_range": list(self.budget_range),
        }

    def prepare(self, cache_dir: str, seed: int) -> str:
        from sandcrawler_spark.plans.datagen import gen_frontier

        def gen(out, budget_range, **kw):
            gen_frontier(out, budget_range=tuple(budget_range), **kw)

        return inputs.cached(cache_dir, self.name, self.gen_args(seed), gen)

    def warm_up(self, spark, cache_dir: str, work: str) -> None:
        """One small crawl of as many rounds as the measured one, so the
        measured crawl finds Python workers started and the plans of every
        round, the incremental ones included, run once in this JVM."""
        from sandcrawler_spark.plans import frontier
        from sandcrawler_spark.plans.datagen import gen_frontier

        def gen(out, budget_range, **kw):
            gen_frontier(out, budget_range=tuple(budget_range), **kw)

        data = inputs.cached(cache_dir, "crawl_warmup", {
            "n_urls": 2_000, "n_hosts": 40, "n_seeds": 700, "seed": 0,
            "budget_range": list(self.budget_range),
        }, gen)
        state = os.path.join(work, "state-warmup")
        shutil.rmtree(state, ignore_errors=True)
        frontier.run_crawl(spark, data, state, max_rounds=self.rounds)
        shutil.rmtree(state, ignore_errors=True)

    def run_op(self, spark, data: str, work: str, clock: CommitClock, out: Outcome,
               expected: list[int], tracer: Tracer | None) -> None:
        """One crawl, held to the pinned per-round order digests."""
        from sandcrawler_spark.operators.bloom import BloomStore
        from sandcrawler_spark.plans import frontier

        # never reuse a state path within one session: Python workers
        # cache bloom bitmaps by path, so a reused path reads stale bits
        state = os.path.join(work, f"state-{out.attempted}")
        out.attempted += 1
        n0 = len(clock.stamps)
        t0 = time.perf_counter()
        try:
            store = frontier.run_crawl(spark, data, state, max_rounds=self.rounds)
        except Exception as e:  # noqa: BLE001 — a failed crawl is a counted outcome
            out.fail(f"{self.name} crawl {len(out.ops)} raised {type(e).__name__}: {e}")
            shutil.rmtree(state, ignore_errors=True)
            return
        wall = time.perf_counter() - t0
        stamps = [t0] + clock.stamps[n0:]
        counters = store.counters()
        rounds = sorted(map(int, counters))
        digests = [int(counters[str(r)]["order_digest"]) for r in rounds]
        notes = []
        if digests != [int(d) for d in expected]:
            notes.append(f"order digests {digests} != expected")
        processed = sum(
            v for rc in counters.values() for k, v in rc.items() if k.startswith("status:")
        )
        op = {
            "wall": wall,
            "round_walls": [b - a for a, b in zip(stamps, stamps[1:])],
            "processed": processed,
            "digests": digests,
            "scheduled": sum(int(counters[str(r)]["scheduled"]) for r in rounds),
            "frontier_input_rows": sum(
                int(counters[str(r)]["frontier_input_rows"]) for r in rounds
            ),
            "state_bytes": dir_bytes(state),
            "bloom_bytes": BloomStore(store.aux_path("bloom")).total_bytes(),
        }
        if tracer is not None:
            op["bloom_probe_s"], missed = self._probe_bloom(spark, store, rounds)
            if missed:
                notes.append(f"bloom probe missed {missed} of the crawl's url_seen hashes")
        if notes:
            out.fail(f"{self.name} crawl {len(out.ops)}: " + "; ".join(notes))
        out.ops.append(op)
        shutil.rmtree(state, ignore_errors=True)

    @staticmethod
    def _probe_bloom(spark, store, rounds) -> tuple[float, int]:
        """Seconds for the bloom's sideload probe on its own (the final
        version's ``might_contain_udf`` over every url_seen hash of the
        crawl, scan included, as the round loop applies it, into a noop
        sink), and how many of those hashes it missed: a bloom has no false
        negatives, so that must be 0."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sandcrawler_spark.operators.bloom import BloomStore

        seen = [store.read_round_table(r, "url_seen") for r in rounds]
        hashes = functools.reduce(
            lambda a, b: a.unionByName(b), [t.select("url_hash") for t in seen if t is not None]
        )
        probe = BloomStore(store.aux_path("bloom")).might_contain_udf(spark)
        obs = Observation()
        t0 = time.perf_counter()
        hashes.withColumn("hit", probe("url_hash")).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum(F.col("hit").cast("long")).alias("hits")
        ).write.format("noop").mode("overwrite").save()
        s = time.perf_counter() - t0
        return s, int(obs.get["n"]) - int(obs.get["hits"] or 0)

    def end_to_end(self, outcome: Outcome) -> dict[str, tuple[float, str]]:
        ops = outcome.ops
        # rounds after the first: incremental, dominated by per-round fixed cost
        later = [w for o in ops for w in o["round_walls"][1:]]
        return {
            "op_s_p50": (median(later), "s"),
            "pass_s": (median([o["wall"] for o in ops]), "s"),
        }

    def layers(self, outcome: Outcome, tracer: Tracer, jobs, stages) -> dict[str, tuple[float, str]]:
        crawls = sorted(tracer.named("frontier.run_crawl"), key=lambda s: s.start)
        per_crawl = []
        for span, op in zip(crawls, outcome.ops):
            per_crawl.append(self._crawl_layers(span, op, tracer, jobs, stages))
        vals = {k: median([c[k] for c in per_crawl]) for k in per_crawl[0]}
        units = dict(CRAWL_LAYER_METRICS)
        return {k: (v, units[k]) for k, v in vals.items()}

    @staticmethod
    def _crawl_layers(crawl, op, tracer, jobs, stages) -> dict[str, float]:
        kids = tracer.children(crawl.sid)
        commits = sorted((s for s in kids if s.name == "state.commit_round"),
                         key=lambda s: s.end)
        bounds = [crawl.start] + [c.end for c in commits]
        rounds = list(zip(bounds, bounds[1:]))
        in_crawl = [j for j in jobs if crawl.start <= j.start <= crawl.end]
        self_s, idle, n_jobs, n_stages = [], [], [], []
        for lo, hi in rounds:
            rk = [s for s in kids if lo <= s.start < hi]
            self_s.append((hi - lo) - covered([(s.start, s.end) for s in rk], lo, hi))
            rj = [j for j in in_crawl if lo <= j.start < hi]
            idle.append((hi - lo) - covered([(j.start, j.end) for j in rj], lo, hi))
            n_jobs.append(len(rj))
            n_stages.append(job_totals(rj, stages)["stages"])
        tot = job_totals(in_crawl, stages)
        within = [s for s in tracer.spans if crawl.start <= s.start <= crawl.end]

        def walls(name):
            return [s.wall for s in within if s.name == name]

        writes = [(s.start, s.end) for s in within if s.name == "state.write_table"]
        return {
            "frontier.run_round.plan_s": median(walls("frontier.run_round")),
            "frontier.jobs_per_round": sum(n_jobs) / len(rounds),
            "frontier.stages_per_round": sum(n_stages) / len(rounds),
            "frontier.driver_idle_s": sum(idle) / len(rounds),
            "frontier.round_self_s": sum(self_s) / len(rounds),
            "frontier.shuffle_write_bytes": tot["shuffle_write"],
            "frontier.spill_bytes": tot["spill"],
            "frontier.scheduled_per_candidate": op["scheduled"] / op["frontier_input_rows"],
            "frontier.frontier_input_rows": op["frontier_input_rows"],
            "state.write_table_s": sum(walls("state.write_table")),
            "state.write_table_wall_s": covered(writes, crawl.start, crawl.end),
            "state.read_table_s": sum(walls("state.read_table") + walls("state.read_round_table")),
            "state.commit_round_s": sum(walls("state.commit_round")),
            "state.bytes_written": op["state_bytes"],
            "state.bytes_per_url": op["state_bytes"] / op["processed"],
            "bloom.update_s": sum(walls("bloom.update")),
            "bloom.update_calls": len(walls("bloom.update")),
            "bloom.rebuild_calls": len(walls("bloom.rebuild")),
            "bloom.might_contain_udf_s": op["bloom_probe_s"],
            "bloom.total_bytes": op["bloom_bytes"],
        }

    @staticmethod
    def probe(spark, data: str) -> dict[str, tuple[float, str]]:
        """Seed canonicalization alone: ``prepare_seeds`` over the
        workload's seeds into a noop sink, so the Arrow UDF columns are
        computed and nothing is written."""
        import pyarrow.parquet as pq

        from sandcrawler_spark.plans import frontier

        path = os.path.join(data, "seeds.parquet")
        rows = pq.ParquetFile(path).metadata.num_rows
        t0 = time.perf_counter()
        frontier.prepare_seeds(spark.read.parquet(path)).write.format("noop").mode(
            "overwrite"
        ).save()
        s = time.perf_counter() - t0
        return {"urlkeys.prepare_seeds_s": (s, "s"), "urlkeys.rows_per_s": (rows / s, "1/s")}

    def install(self, tracer: Tracer) -> None:
        from sandcrawler_spark.operators.bloom import BloomStore
        from sandcrawler_spark.plans import frontier
        from sandcrawler_spark.plans.state import SnapshotStore

        tracer.wrap(frontier, "run_crawl", "frontier.run_crawl", root=True)
        tracer.wrap(frontier, "run_round", "frontier.run_round")
        tracer.wrap(frontier, "prepare_seeds", "frontier.prepare_seeds")
        for m in ("write_table", "read_table", "read_round_table", "commit_round"):
            tracer.wrap(SnapshotStore, m, f"state.{m}")
        for m in ("update", "rebuild", "might_contain_udf", "probe_cogrouped"):
            tracer.wrap(BloomStore, m, f"bloom.{m}")

    def info(self, outcome: Outcome) -> dict:
        return {"digests": [o["digests"] for o in outcome.ops[:1]],
                "round_walls": [o["round_walls"] for o in outcome.ops]}


# ---------------------------------------------------------------- battery


@dataclass(frozen=True)
class Battery:
    """The 38 headline leaves over generated tables: one operation is one
    pass; its unit of latency is one leaf, built with
    ``QUERIES[name](spark, dir)`` and executed into a ``noop`` sink with
    the row count taken by an in-action ``Observation`` (so no output
    column is pruned away, as ``.count()`` would allow)."""

    name: str
    scale: float
    leaves: tuple[str, ...] = HEADLINE

    def prepare(self, cache_dir: str, seed: int) -> str:
        return inputs.cached(
            cache_dir, self.name, {"scale": self.scale, "seed": seed},
            lambda out, scale, seed: tables.gen_tables(out, scale, seed),
        )

    def warm_up(self, spark, cache_dir: str, work: str) -> None:
        """Two cheap leaves on tiny tables: starts the Python workers and
        the Arrow path. The other leaves run for the first time in this JVM
        inside the measured pass: warming all 38 (one per core at a time,
        on these tables) added ~29 s of set-up and took only 5-10 s off a
        ~41 s pass, more than the run budget allows."""
        tiny = inputs.cached(
            cache_dir, "battery_warmup", {"scale": 0.001, "seed": 0},
            lambda out, scale, seed: tables.gen_tables(out, scale, seed),
        )
        for leaf in BATTERY_WARMUP:
            self._leaf(spark, tiny, leaf, None)

    @staticmethod
    def _leaf(spark, data: str, leaf: str, tracer: Tracer | None):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from sandcrawler_spark.queries import QUERIES

        t0 = time.perf_counter()
        df = QUERIES[leaf](spark, data)
        t1 = time.perf_counter()
        obs = Observation()
        sink = df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        )
        if tracer is None:
            sink.save()
        else:
            with tracer.span(f"battery.exec:{leaf}"):
                sink.save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1, int(obs.get["n"])

    def run_op(self, spark, data: str, work: str, clock, out: Outcome,
               expected: dict, tracer: Tracer | None) -> None:
        leaves = {}
        t_pass = time.perf_counter()
        for leaf in self.leaves:
            out.attempted += 1
            try:
                if tracer is None:
                    build, run, rows = self._leaf(spark, data, leaf, None)
                else:
                    with tracer.span(f"battery.leaf:{leaf}", root=True):
                        build, run, rows = self._leaf(spark, data, leaf, tracer)
            except Exception as e:  # noqa: BLE001 — a failed leaf is a counted outcome
                out.fail(f"{leaf} raised {type(e).__name__}: {e}")
                continue
            if rows != expected.get(leaf):
                out.fail(f"{leaf}: {rows} rows, expected {expected.get(leaf)}")
            leaves[leaf] = {"build": build, "exec": run, "rows": rows}
        out.ops.append({
            "wall": time.perf_counter() - t_pass,
            "leaves": leaves,
        })

    def end_to_end(self, outcome: Outcome) -> dict[str, tuple[float, str]]:
        ops = outcome.ops
        walls = [v["build"] + v["exec"] for o in ops for v in o["leaves"].values()]
        passes = [sum(v["build"] + v["exec"] for v in o["leaves"].values()) for o in ops]
        return {
            "op_s_p50": (median(walls), "s"),
            "pass_s": (median(passes), "s"),
        }

    @staticmethod
    def probe(spark, data: str) -> dict:
        return {}

    def layers(self, outcome: Outcome, tracer: Tracer, jobs, stages) -> dict[str, tuple[float, str]]:
        leaf_spans = tracer.named("battery.leaf:")
        vals: dict[str, float] = {}
        for leaf in self.leaves:
            w = [s.wall for s in leaf_spans if s.name == f"battery.leaf:{leaf}"]
            vals[f"battery.{leaf}_s"] = median(w) if w else 0.0
        passes = outcome.ops
        vals["battery.plan_s"] = median(
            [sum(v["build"] for v in o["leaves"].values()) for o in passes])
        vals["battery.exec_s"] = median(
            [sum(v["exec"] for v in o["leaves"].values()) for o in passes])
        if leaf_spans:
            lo = min(s.start for s in leaf_spans)
            hi = max(s.end for s in leaf_spans)
            tot = job_totals([j for j in jobs if lo <= j.start <= hi], stages)
            n = len(passes)
            vals["battery.shuffle_write_bytes"] = tot["shuffle_write"] / n
            vals["battery.spill_bytes"] = tot["spill"] / n
            vals["battery.scan_bytes"] = tot["input_bytes"] / n
        units = dict(BATTERY_LAYER_METRICS)
        return {k: (v, units[k]) for k, v in vals.items()}

    def install(self, tracer: Tracer) -> None:
        from sandcrawler_spark.queries import QUERIES

        tracer.wrap_items(QUERIES, self.leaves, "battery.build:")

    def info(self, outcome: Outcome) -> dict:
        first = outcome.ops[0]["leaves"] if outcome.ops else {}
        return {"rows": {k: v["rows"] for k, v in first.items()},
                "leaf_s": {k: v["build"] + v["exec"] for k, v in first.items()}}
