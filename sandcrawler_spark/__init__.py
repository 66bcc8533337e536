"""sandcrawler_spark — a from-scratch, PySpark-native rebuild of the
internetarchive/sandcrawler crawl frontier + fetch scheduler.

Architecture (Spark-first, NOT a port of the reference):

- Every dataset is a DataFrame; every scheduling round is one declarative
  DataFrame job planned by Catalyst (predicate pushdown, broadcast joins,
  AQE skew handling come for free).
- Row-level logic that Spark lacks (WHATWG URL canonicalization, SURT
  keying) runs in vectorized pandas/Arrow UDFs — no per-row Python.
- Frontier state (url_seen, hosts, counters) lives in a parquet
  snapshot table store (plans.state): each round commits its deltas
  atomically, with per-round lineage.

Reference semantics are pinned in docstrings with file:line citations into
/root/reference (read-only snapshot of internetarchive/sandcrawler).
"""

__version__ = "0.1.0"
