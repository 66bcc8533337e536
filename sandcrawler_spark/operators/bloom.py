"""Sharded, incrementally-built bloom prefilter for the URL-seen
anti-join (north_rule; SURVEY §7.0).

Exactness contract: the bloom is ONLY a prefilter. Candidates that are
*definitely unseen* (bloom says no) bypass the anti-join shuffle
entirely; *maybe-seen* candidates are confirmed by the exact anti-join
on the full canonical string. False positives therefore cost extra
confirm-join work, never correctness (SURVEY §7.3 #4).

Layout (the design that survives 10^10 seen URLs):

- The key space is hash-partitioned into ``num_shards`` shards by
  ``pmod(xxhash64(url), B)``; each shard owns an independent bitmap of
  ``m_bits // B`` bits. k=7 probe positions are double-hashed from the
  single 64-bit key hash (h1 + i·h2 — Kirsch-Mitzenmacher), offset into
  the shard's bit range, so membership tests vectorize to pure numpy
  over Arrow batches.
- Shard bitmaps are STORED AS A TABLE (one row per shard, binary bitmap
  column) under a versioned directory next to the snapshot manifest —
  never driver-resident. The per-round update is a distributed job:
  build this round's per-shard DELTA bitmaps (`groupBy(shard).
  applyInPandas` — one parallel task per shard from only its rows), OR
  them into the stored shard rows with a full-outer join + vectorized
  binary-OR, and write the next version. The driver moves only the
  ≤B-row plan, no bitmap bytes.
- Probing never moves bitmaps through the driver either.
  :meth:`BloomStore.probe` picks one of two modes from the measured
  bitmap size:
  * sideload probe (while the bloom fits executor memory): a pandas UDF
    whose WORKERS read the current shard files directly from shared
    storage (the same storage the Iceberg/snapshot state lives on) and
    cache the assembled bitmap per written version — broadcast
    semantics without a driver hop, zero candidate shuffle.
  * cogrouped probe (the 12-GiB design point): candidates co-partition
    with the stored shard rows on the shard key, so each task holds ONE
    shard's bitmap and only candidates move.
- A standalone anti-join with no store builds a throwaway sharded bloom
  lazily in the same plan (per-shard bitmaps sized from each shard's
  own key count) and probes it through the same cogroup function.
- Capacity: ``m = 16n`` bits for the EXPECTED key count with headroom;
  when the live count outgrows it (fpr would degrade), the store
  schedules a full distributed rebuild at double capacity — amortized
  O(log n) rebuilds over the crawl's lifetime.
- Crash safety: a new version directory is fully written BEFORE the
  (os.replace-atomic) metadata pointer moves to it; a corrupt/missing
  version falls back to one distributed rebuild.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_K = 7  # probes; with m = 16n bits → fpr ≈ 0.6%
DEFAULT_SHARDS = 32
# above this total bitmap size BloomStore.probe switches from the
# worker-sideload probe to the cogrouped probe (bytes)
SIDELOAD_MAX_BYTES = 256 << 20


def _next_pow2(x: int) -> int:
    return 1 << max(10, (x - 1).bit_length())


def _probe_positions(h: np.ndarray, mask: int) -> list[np.ndarray]:
    h1 = h & mask
    h2 = ((h >> 33) | 1) & mask
    return [(h1 + i * h2) & mask for i in range(_K)]


def _shard_of(h: np.ndarray, num_shards: int) -> np.ndarray:
    # pmod semantics (Spark's pmod(xxhash64, B)): non-negative remainder
    return (h.astype(np.int64) % num_shards + num_shards) % num_shards


# Worker-side cache of assembled bitmaps, keyed by the token each
# committed version carries in bloom_meta.json. A version dir path is
# not unique: a store deleted and rebuilt at the same root writes
# ``shards/v000000`` again. Old versions are evicted to bound worker
# memory.
_SIDELOAD_CACHE: dict[str, np.ndarray] = {}


def _sideload_bits(path: str, token: str, num_shards: int, n_bytes: int) -> np.ndarray:
    bits = _SIDELOAD_CACHE.get(token)
    if bits is None:
        bits = np.zeros(num_shards * n_bytes, dtype=np.uint8)
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            import pyarrow.parquet as pq

            t = pq.read_table(f, columns=["shard", "bm"])
            for s, bm in zip(t.column("shard").to_pylist(), t.column("bm").to_pylist()):
                if bm is not None:
                    arr = np.frombuffer(bm, dtype=np.uint8)
                    bits[s * n_bytes : s * n_bytes + len(arr)] = arr
        if len(_SIDELOAD_CACHE) >= 4:
            _SIDELOAD_CACHE.clear()
        _SIDELOAD_CACHE[token] = bits
    return bits


def _shard_delta_df(hashes: DataFrame, num_shards: int, m_shard_bits: int = 0) -> DataFrame:
    """Distributed per-shard bitmap build over an int64 ``h`` column:
    one parallel task per shard, each emitting its own (small) bitmap
    row — ready to join/write/cogroup, never collected.
    ``m_shard_bits=0`` sizes each shard from its own key count (m = 16n,
    pow2), so a throwaway bloom needs no count job up front."""

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
        m = m_shard_bits or _next_pow2(16 * len(h))
        bm = np.zeros(m // 8, dtype=np.uint8)
        for pos in _probe_positions(h, m - 1):
            np.bitwise_or.at(bm, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])], "bm": [bm.tobytes()]})

    tagged = hashes.withColumn("shard", F.pmod(F.col("h"), F.lit(num_shards)))
    return tagged.groupBy("shard").applyInPandas(build, schema="shard int, bm binary")


def _probe_cogrouped(
    candidates: DataFrame, hash_col: str, shards: DataFrame, num_shards: int
) -> DataFrame:
    """Co-partition candidates with the ``(shard, bm)`` rows on the shard
    key so each task holds ONE shard's bitmap — nothing driver-resident
    or broadcast. Each shard's mask comes from its bitmap length. Returns
    candidates with a ``__maybe`` boolean appended."""
    # int like the shard rows' key: both sides must hash-partition alike,
    # or a candidate's group meets no bitmap once partitions outnumber one
    tagged = candidates.withColumn(
        "__h", F.xxhash64(hash_col)
    ).withColumn("shard", F.pmod(F.col("__h"), F.lit(num_shards)).cast("int"))
    out_schema = T.StructType(
        [f for f in tagged.schema.fields if f.name != "shard"]
        + [T.StructField("__maybe", T.BooleanType())]
    )
    cols = [f.name for f in tagged.schema.fields if f.name != "shard"]

    def probe(cand: pd.DataFrame, bm_rows: pd.DataFrame) -> pd.DataFrame:
        if cand.empty:
            return pd.DataFrame(columns=cols + ["__maybe"])
        if bm_rows.empty:
            cand = cand[cols]
            cand["__maybe"] = False
            return cand
        bm = np.frombuffer(bytes(bm_rows["bm"].iloc[0]), dtype=np.uint8)
        hv = cand["__h"].to_numpy(dtype=np.int64).astype(np.uint64)
        out = np.ones(len(hv), dtype=bool)
        for pos in _probe_positions(hv, len(bm) * 8 - 1):
            out &= (bm[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
        cand = cand[cols]
        cand["__maybe"] = out
        return cand

    return (
        tagged.groupBy("shard")
        .cogroup(shards.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
        .drop("__h")
    )


@F.pandas_udf(T.BinaryType())
def _or_bitmaps(a: pd.Series, b: pd.Series) -> pd.Series:
    def one(x, y):
        if x is None:
            return y
        if y is None:
            return x
        return np.bitwise_or(
            np.frombuffer(x, dtype=np.uint8), np.frombuffer(y, dtype=np.uint8)
        ).tobytes()

    return pd.Series([one(x, y) for x, y in zip(a, b)])


class BloomStore:
    """Persistent sharded bloom over int64 key hashes.

    The durable form is a per-shard table: ``shards/v{version}/``
    parquet with rows ``(shard int, bm binary)``; an absent shard row is
    an all-zero bitmap. NOTHING bitmap-sized ever lives on the driver —
    updates are distributed OR-jobs over this table and probes read it
    executor-side (sideload or cogroup, chosen by :meth:`probe`)."""

    def __init__(self, root: str, num_shards: int = DEFAULT_SHARDS) -> None:
        self.root = root
        self.num_shards = num_shards
        self.m_shard_bits = 0  # bits per shard (pow2)
        self.n_keys = 0
        self.round_id = -1
        self.version = -1
        self.token = ""  # names the committed version for worker caches
        os.makedirs(root, exist_ok=True)
        self._load()

    # ------------------------------------------------------------ persistence
    def _meta_path(self) -> str:
        return os.path.join(self.root, "bloom_meta.json")

    def _version_dir(self, version: int) -> str:
        return os.path.join(self.root, "shards", f"v{version:06d}")

    @property
    def shards_path(self) -> str | None:
        return self._version_dir(self.version) if self.version >= 0 else None

    def _load(self) -> None:
        if not os.path.exists(self._meta_path()):
            return
        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
            self.num_shards = meta["num_shards"]
            self.m_shard_bits = meta["m_shard_bits"]
            self.n_keys = meta["n_keys"]
            self.round_id = meta["round_id"]
            self.version = meta.get("version", -1)
            self.token = meta.get("token") or uuid.uuid4().hex
            if self.version >= 0 and not os.path.isdir(self._version_dir(self.version)):
                raise FileNotFoundError(self._version_dir(self.version))
        except (OSError, ValueError, KeyError, FileNotFoundError):
            # corrupt/partial state (crash mid-write): discard; the
            # crawl driver falls back to one distributed rebuild
            self.m_shard_bits = 0
            self.n_keys = 0
            self.round_id = -1
            self.version = -1

    def _commit_meta(self) -> None:
        """Atomic pointer move (os.replace) AFTER the version dir is
        fully written; then prune superseded version dirs (keep one
        prior for crash-window reads)."""
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "num_shards": self.num_shards,
                    "m_shard_bits": self.m_shard_bits,
                    "n_keys": self.n_keys,
                    "round_id": self.round_id,
                    "version": self.version,
                    "token": self.token,
                },
                f,
            )
        os.replace(tmp, self._meta_path())
        for d in glob.glob(os.path.join(self.root, "shards", "v*")):
            try:
                v = int(os.path.basename(d)[1:])
            except ValueError:
                continue
            if v < self.version - 1:
                shutil.rmtree(d, ignore_errors=True)

    # ------------------------------------------------------------ state
    def ready_for(self, round_id: int) -> bool:
        """True iff the bloom reflects all rounds < ``round_id``."""
        return self.version >= 0 and self.round_id == round_id - 1

    def _alloc(self, expected_keys: int) -> None:
        m_total = _next_pow2(16 * max(expected_keys, 1024))
        self.m_shard_bits = max(1024, m_total // self.num_shards)

    def total_bytes(self) -> int:
        return self.num_shards * self.m_shard_bits // 8

    def _write_version(self, shards: DataFrame) -> None:
        self.version += 1
        self.token = uuid.uuid4().hex
        # ≤num_shards rows of bitmap bytes — one output file per shard
        # row keeps the sideload read and the cogroup scan aligned
        shards.repartition(min(self.num_shards, 32), "shard").write.mode(
            "overwrite"
        ).parquet(self._version_dir(self.version))

    def update(self, delta_hashes: DataFrame, n_delta: int, round_id: int) -> None:
        """OR this round's url_seen delta into the stored shard table —
        one distributed job (delta build → outer-join OR → write), no
        driver-side bitmap transfer.

        ``delta_hashes``: DataFrame with int64 column ``h``."""
        if self.version < 0 and self.m_shard_bits == 0:
            self._alloc(max(8 * n_delta, 1 << 16))
        delta = _shard_delta_df(delta_hashes, self.num_shards, self.m_shard_bits)
        if self.version >= 0:
            spark = delta_hashes.sparkSession
            cur = spark.read.parquet(self._version_dir(self.version)).select(
                "shard", F.col("bm").alias("bm_old")
            )
            merged = (
                delta.select("shard", F.col("bm").alias("bm_new"))
                .join(cur, "shard", "full_outer")
                .select("shard", _or_bitmaps("bm_old", "bm_new").alias("bm"))
            )
        else:
            merged = delta
        self._write_version(merged)
        self.n_keys += n_delta
        self.round_id = round_id
        self._commit_meta()

    def needs_rebuild(self) -> bool:
        return (
            self.version >= 0
            and 16 * self.n_keys > self.num_shards * self.m_shard_bits * 2
        )

    def rebuild(self, url_seen_hashes: DataFrame, n_keys: int, round_id: int) -> None:
        """Full distributed rebuild (capacity growth or resume without a
        persisted bloom). Amortized: capacity doubles each time, so over
        a crawl's lifetime total rebuild work is O(final size)."""
        self._alloc(2 * max(n_keys, 1))
        self._write_version(
            _shard_delta_df(url_seen_hashes, self.num_shards, self.m_shard_bits)
        )
        self.n_keys = n_keys
        self.round_id = round_id
        self._commit_meta()

    # ------------------------------------------------------------ probe
    def probe(self, candidates: DataFrame, hash_col: str) -> DataFrame:
        """Candidates with a ``__maybe`` boolean appended: the sideload
        probe while the bitmaps total at most ``SIDELOAD_MAX_BYTES``, the
        cogrouped probe past that. Both give the same answers."""
        if self.total_bytes() <= SIDELOAD_MAX_BYTES:
            might_contain = self.might_contain_udf(candidates.sparkSession)
            return candidates.withColumn("__maybe", might_contain(F.xxhash64(hash_col)))
        return self.probe_cogrouped(candidates, hash_col)

    def might_contain_udf(self, spark=None):
        """Vectorized membership probe over an int64 hash column.

        Sideload mode: each PYTHON WORKER reads the current version's
        shard files from shared storage once and caches the assembled
        bitmap under the version's token — the driver ships only the
        path and token strings."""
        path = self.shards_path
        if path is None:
            raise ValueError("bloom has no committed version yet")
        token = self.token
        mask = self.m_shard_bits - 1
        n_bytes = self.m_shard_bits // 8
        B = self.num_shards

        @F.pandas_udf(T.BooleanType())
        def might_contain(h: pd.Series) -> pd.Series:
            bm = _sideload_bits(path, token, B, n_bytes)
            hv = h.to_numpy(dtype=np.int64).astype(np.uint64)
            base = _shard_of(hv, B).astype(np.uint64) * n_bytes
            out = np.ones(len(hv), dtype=bool)
            for pos in _probe_positions(hv, mask):
                idx = base + (pos >> 3)
                out &= (bm[idx] & (1 << (pos & 7)).astype(np.uint8)) != 0
            return pd.Series(out)

        return might_contain

    def probe_cogrouped(self, candidates: DataFrame, hash_col: str) -> DataFrame:
        """12-GiB-bloom probe path: cogroup candidates with the STORED
        shard rows. Same answers as the sideload probe (property-tested)."""
        if self.shards_path is None:
            raise ValueError("bloom has no committed version yet")
        shards = candidates.sparkSession.read.parquet(self.shards_path).select("shard", "bm")
        return _probe_cogrouped(candidates, hash_col, shards, self.num_shards)


def seen_anti_join(
    candidates: DataFrame,
    url_seen: DataFrame,
    keys: list[str],
    hash_key: str,
    bloom: BloomStore | None = None,
    scratch: list | None = None,
) -> DataFrame:
    """candidates ∖ url_seen on ``keys`` (J3 left_anti), with the bloom
    short-circuit for definitely-new rows.

    ``bloom``: the crawl's incrementally-maintained store, probed with
    :meth:`BloomStore.probe`. Without one (standalone use), a throwaway
    sharded bloom over ``url_seen`` is built lazily inside the same plan
    and probed through the same cogroup function.

    ``scratch``: when given with a store, the probed candidates are
    cached (both branches read them) and appended here for the caller
    to unpersist.
    """

    cond = None
    for k in keys:
        c = F.col(k) == F.col(f"__s_{k}")
        cond = c if cond is None else (cond & c)

    if bloom is not None:
        tagged = bloom.probe(candidates, hash_key)
        if scratch is not None:
            tagged = tagged.persist()  # reused for both branches (columnar cache)
            scratch.append(tagged)
    else:
        # not cached: the cached plan would carry the seen set's whole
        # lineage, and AQE re-renders it on every plan update
        shards = _shard_delta_df(
            url_seen.select(F.xxhash64(hash_key).alias("h")), DEFAULT_SHARDS
        )
        tagged = _probe_cogrouped(candidates, hash_key, shards, DEFAULT_SHARDS)
    definitely_new = tagged.filter(~F.col("__maybe")).drop("__maybe")
    maybe = tagged.filter(F.col("__maybe")).drop("__maybe")
    confirmed_new = maybe.join(
        url_seen.select(*[F.col(k).alias(f"__s_{k}") for k in keys]), cond, "left_anti"
    )
    return definitely_new.unionByName(confirmed_new)
