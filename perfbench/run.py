"""The repository's benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 20 --trace 0

Runs the named workload as a closed loop (one client, operations back to
back) on ``local[nproc]`` from this single process, checks every
operation's output against pinned references, and prints as its last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` they are the per-layer ones, from spans recorded around
each layer's public calls and from Spark's event log, which only the
traced run enables. The line before it is a JSON object with the
machine fit, the failure notes and per-operation details.

The seed selects one of the input sets pinned in ``pins.json`` (seed
modulo their number); each was confirmed against the oracles when it was
pinned (``perfbench/pin.py``). A workload with no pins is an error.
Inputs are generated outside every timed region and cached under
``.perfbench/`` at the checkout root, next to the run's Spark local dirs,
state dirs and event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINS = os.path.join(HERE, "pins.json")

WORKLOAD_SPECS = {
    "crawl": dict(kind="crawl", n_urls=100_000, n_hosts=2_000, n_seeds=33_333, rounds=2),
    "battery": dict(kind="battery", scale=0.01),
}


def make_workload(name: str):
    from perfbench.workloads import Battery, Crawl

    spec = dict(WORKLOAD_SPECS[name])
    kind = spec.pop("kind")
    return Crawl(name, **spec) if kind == "crawl" else Battery(name, **spec)


def fit_box(run_dir: str) -> dict:
    """Size the Spark driver to this machine, explicitly: a quarter of
    physical memory for the heap (at most 8g), half that again off-heap,
    local dirs inside the checkout, one core per task slot."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    cores = len(os.sched_getaffinity(0))
    heap_g = max(1, min(8, mem_kb // (4 << 20)))
    box = {
        "SPARK_DRIVER_MEM": f"{heap_g}g",
        "SPARK_OFFHEAP": f"{max(1, heap_g // 2)}g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
    }
    os.makedirs(box["SPARK_LOCAL_DIRS"], exist_ok=True)
    os.environ.update(box)
    os.environ.pop("SPARK_GRAFT_TMPFS", None)
    return {**box, "mem_total_kb": mem_kb, "cores": cores}


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return None
    todo = [proc.pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0", 1)[0]:
                    return pid
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                todo += [int(c) for c in f.read().split()]
        except OSError:
            continue
    return None


def peak_rss_mb(pid: int | None) -> float:
    if pid is None:
        return float("nan")
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def closed_loop(seconds: float, op) -> None:
    """Run ``op()`` back to back, at least once; start another only while
    it is expected to end within ``seconds`` (judged by the previous
    one's length)."""
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        op()
        last = time.perf_counter() - t
        if time.perf_counter() - t0 + last > seconds:
            return


def layer_names() -> list[tuple[str, str]]:
    from perfbench.workloads import BATTERY_LAYER_METRICS, CRAWL_LAYER_METRICS

    return (
        [("session.build_s", "s"), ("session.warmup_s", "s"), ("session.jvm_peak_rss_mb", "MB")]
        + list(CRAWL_LAYER_METRICS)
        + list(BATTERY_LAYER_METRICS)
        + [("trace.pass_s", "s")]
    )


def run(args):
    """Returns (info, result, tracer); the tracer is None untraced."""
    from perfbench.trace import CommitClock, Tracer, event_log_conf, read_event_log
    from perfbench.workloads import Outcome

    wl = make_workload(args.workload)
    work = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(work, "inputs")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    box = fit_box(run_dir)
    try:
        with open(PINS) as f:
            pins = json.load(f).get(wl.name)
        if not pins:
            raise RuntimeError(f"no pinned references for {wl.name} in {PINS}")
        # the seed picks one of the input sets whose references were
        # confirmed against the oracles when they were pinned
        input_seed = sorted(map(int, pins))[args.seed % len(pins)]
        data = wl.prepare(cache, input_seed)
        expected = pins[str(input_seed)]

        from sandcrawler_spark.plans.state import SnapshotStore
        from sandcrawler_spark.session import get_spark

        log_dir = os.path.join(run_dir, "eventlog")
        t0 = time.perf_counter()
        spark = get_spark(
            f"perfbench-{wl.name}", cores=box["cores"], shuffle_partitions=box["cores"],
            extra_conf=event_log_conf(log_dir) if args.trace else None,
        )
        spark.range(1).count()
        build_s = time.perf_counter() - t0
        try:
            t1 = time.perf_counter()
            wl.warm_up(spark, cache, run_dir)
            warmup_s = time.perf_counter() - t1
            clock = CommitClock(SnapshotStore)
            tracer = Tracer(spark) if args.trace else None
            if tracer is not None:
                wl.install(tracer)
            outcome = Outcome()

            def op() -> None:
                wl.run_op(spark, data, run_dir, clock, outcome, expected, tracer)

            try:
                closed_loop(args.seconds, op)
            finally:
                if tracer is not None:
                    tracer.unwrap()
                clock.close()
            rss = peak_rss_mb(jvm_pid())
            probe = wl.probe(spark, data) if args.trace else {}
        finally:
            stop_spark(spark)

        metrics: dict[str, tuple[float, str]] = {}
        if not outcome.ops:
            pass  # every operation failed: nothing was timed
        elif not args.trace:
            metrics["setup_s"] = (build_s + warmup_s, "s")
            metrics.update(wl.end_to_end(outcome))
        else:
            jobs, stages = read_event_log(log_dir)
            layer = {
                "session.build_s": (build_s, "s"), "session.warmup_s": (warmup_s, "s"),
                # per layer, not end to end: it varies by a quarter run to
                # run, with the heap's growth
                "session.jvm_peak_rss_mb": (rss, "MB"),
            }
            layer.update(wl.layers(outcome, tracer, jobs, stages))
            layer.update(probe)
            # the traced twin of the untraced run's pass_s: their
            # difference, same seed, is the tracing overhead
            layer["trace.pass_s"] = (statistics.median(o["wall"] for o in outcome.ops), "s")
            # every per-layer metric is printed; a layer this workload
            # never calls reads 0
            metrics = {k: layer.get(k, (0.0, u)) for k, u in layer_names()}
        info = {
            "workload": wl.name, "seed": args.seed, "input_seed": input_seed,
            "trace": args.trace, "box": box, "ops": len(outcome.ops),
            "fail_frac": outcome.failed / max(1, outcome.attempted),
            "failures": outcome.notes[:10], **wl.info(outcome),
        }
        result = {
            "correct": outcome.failed == 0 and outcome.attempted > 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return info, result, tracer
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOAD_SPECS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sandcrawler_spark", "__init__.py")):
        print(f"perfbench: no sandcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    info, result, _ = run(args)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
