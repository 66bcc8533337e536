"""SparkSession factory tuned for the frontier workload.

Local mode is the sandbox stand-in for a multi-executor cluster; all
settings below are the ones that matter identically at cluster scale:
AQE on (runtime skew-join + partition coalescing), Arrow on (every
pandas UDF crosses the JVM/Python boundary in columnar batches), UTC
session timezone (oracle comparability), shuffle partitions sized to
parallelism instead of the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tmpfs_local_dir() -> str | None:
    """tmpfs shuffle dir iff explicitly requested AND safely sized.

    Layout is one subdir per driver PID so a SIGKILLed run's shuffle
    files (which tmpfs keeps — they are RAM — and Spark's shutdown hook
    never deletes after a hard kill) are reaped on the next session
    instead of silently eating memory until the OOM killer fires.

    Best-effort reaper caveats: liveness is "PID exists AND its cmdline
    looks like a java/python process" — if the driver's PID was recycled
    by an unrelated java/python process the dir survives one more
    session (bounded leak, reaped when that PID moves on); and two
    sessions starting concurrently can race to rmtree the same dead dir
    (harmless: ignore_errors + distinct per-PID targets).
    """
    if os.environ.get("SPARK_GRAFT_TMPFS", "").lower() not in ("1", "true", "yes"):
        return None
    if "SPARK_LOCAL_DIRS" in os.environ or not os.path.isdir("/dev/shm"):
        return None
    import shutil

    def _alive(pid: str) -> bool:
        # /proc/<pid> existing is not enough — the PID may have been
        # recycled. A Spark driver is always a java or python process;
        # anything else holding the PID means the original owner died.
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0", 1)[0].lower()
        except OSError:
            return False
        return b"java" in argv0 or b"python" in argv0

    base = "/dev/shm/sandcrawler-spark-local"
    if os.path.isdir(base):
        for sub in os.listdir(base):
            pid = sub.removeprefix("pid-")
            if not (pid.isdigit() and _alive(pid)):
                shutil.rmtree(os.path.join(base, sub), ignore_errors=True)
    if shutil.disk_usage("/dev/shm").free < 8 << 30:
        return None
    return os.path.join(base, f"pid-{os.getpid()}")


def memory_for(mem_total_kb: int) -> tuple[str, str]:
    """(driver heap, off-heap) sizes for a machine with ``mem_total_kb``
    of RAM: a quarter of it for the heap, at most 8g, and half the heap
    again off-heap, each at least 1g (16 GB -> 3g/1g). A larger heap
    than the machine can back lets the JVM grow until the kernel kills
    it instead of collecting."""
    heap_g = max(1, min(8, mem_total_kb // (4 << 20)))
    return f"{heap_g}g", f"{max(1, heap_g // 2)}g"


def _machine_memory() -> tuple[str, str]:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return memory_for(kb)


def get_spark(
    app: str = "sandcrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. On a real cluster this factory is
    bypassed — ``spark-submit --py-files`` provides the session and these
    configs move to ``spark-defaults.conf``.
    """
    # python workers must be able to unpickle our UDFs regardless of the
    # driver's cwd — export the package root before the JVM forks them
    # (cluster mode ships the package via spark-submit --py-files instead)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else 0
    master = f"local[{cores}]" if cores and cores > 0 else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores and cores > 0 else (os.cpu_count() or 8)
    heap = os.environ.get("SPARK_DRIVER_MEM")
    offheap = os.environ.get("SPARK_OFFHEAP")
    if heap is None or offheap is None:
        fit_heap, fit_offheap = _machine_memory()
        heap, offheap = heap or fit_heap, offheap or fit_offheap

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k rows per Arrow batch (default 10k): fewer JVM↔Python
        # round-trips per pandas-UDF task. Measured on the 13.3M-row
        # seed canonicalization at 32 cores: ~20% faster warm
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        # plan strings feed only logs and listener events, yet AQE renders
        # one per plan update; a long lazy lineage (a round fed another
        # round's unmaterialized output) made them outgrow a machine-sized
        # heap. Spark's documented bound for that; audited plans are <100k
        .config("spark.sql.maxPlanStringLength", "4m")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # sandbox-scale inputs are single files of tens of MB; 16m keeps
        # their row groups fanning out across cores (production/100TB:
        # leave at the 128m default — files there dwarf it)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # Tungsten execution + storage off-heap: measured 1.6× on the
        # frontier round (GC was 266s/round at 16 concurrent tasks with
        # on-heap caches). Heap and off-heap default to memory_for(this
        # machine); SPARK_DRIVER_MEM / SPARK_OFFHEAP override each.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", offheap)
        # raise the min_by/max_by (ObjectHashAggregate) sort fallback —
        # the 128-entry default silently degrades the dedup aggregation
        # to sort-based; the frontier dedup keys fit comfortably in RAM
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
        # let AQE rewrite sort-merge → shuffled-hash when every
        # post-shuffle partition of the build side is under 64 MB
        # (guide §3.1; default 0 = never). Runtime-size-checked by AQE,
        # so it is safe at any scale: partitions sized per §2.2
        # (100 MB–1 GB) simply keep SMJ, while string-keyed joins whose
        # partitions fit skip both sorts (measured: fs_dataset_ingest
        # 7.9 → 5.6 s interleaved A/B at sf1.0).
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
    )
    # shuffle/spill files on tmpfs — OPT-IN (SPARK_GRAFT_TMPFS=1, set by
    # bench.py/submit_crawl): this VM's disk is the scaling bottleneck for
    # concurrent shuffle writers (measured: 16-core 2-round crawl 27.8s →
    # 23.2s, N→4N ratio 1.6 → 2.1). Not the library default because tmpfs
    # is RAM-capped: a spill larger than free tmpfs would fail where disk
    # succeeds, so it also requires ≥8 GiB free at session build time. On
    # a real cluster local NVMe via SPARK_LOCAL_DIRS is the equivalent.
    tmpfs = _tmpfs_local_dir()
    if tmpfs:
        b = b.config("spark.local.dir", tmpfs)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
