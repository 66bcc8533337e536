"""Snapshot table store: per-round committed state with lineage.

Production target is Apache Iceberg (MERGE INTO upserts, snapshot
time-travel, per-partition file lineage). The Iceberg runtime jars are
not in this environment, so the same contract is provided over plain
parquet with an atomically-renamed JSON manifest:

- each round writes its deltas under ``rounds/round=K/<table>/``
- ``manifest.json`` lists committed rounds (+ row counts = counters);
  it is replaced via ``os.replace`` AFTER all round files land, so a
  crash mid-round leaves the previous manifest intact and the job
  resumes from the last committed round exactly (north_rule
  "resumable from checkpoint with per-partition lineage").

Upsert policies mirror the reference's per-table ON CONFLICT choices
(db.py:153-508): url_seen = insert-new-only (anti-join upstream
guarantees key-novelty, like ON CONFLICT DO NOTHING); counters =
append-only.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class SnapshotStore:
    root: str
    spark: SparkSession
    _manifest: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        mpath = self._manifest_path()
        if os.path.exists(mpath):
            with open(mpath) as f:
                self._manifest = json.load(f)
        else:
            self._manifest = {"rounds": [], "counters": {}}

    # ------------------------------------------------------------ paths
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _round_dir(self, round_id: int, table: str) -> str:
        return os.path.join(self.root, f"rounds/round={round_id:05d}", table)

    def aux_path(self, name: str) -> str:
        """Path for a one-time auxiliary table (e.g. prepared seeds)."""
        return os.path.join(self.root, "aux", name)

    # -------------------------------------------------------- generation
    @property
    def generation(self) -> int:
        """Crawl generation: bumped by re-ingest cycles; force_recrawl
        bypasses only results of EARLIER generations."""
        return int(self._manifest.get("generation", 0))

    def bump_generation(self) -> int:
        self._manifest["generation"] = self.generation + 1
        self.save_manifest()
        return self.generation

    @property
    def seed_tables(self) -> list[str]:
        return list(self._manifest.get("seed_tables", ["seeds_prepared"]))

    def seed_table_round(self, name: str) -> int:
        """Round at which a seed table was registered (0 for the initial
        seeds) — compaction folds in only tables registered at or before
        the compaction round."""
        return int(self._manifest.get("seed_table_rounds", {}).get(name, 0))

    def add_seed_table(self, name: str, at_round: int, rows: int, forced: int) -> None:
        """Register a prepared seed table for round ``at_round`` with its
        row and force_recrawl counts, in ONE manifest write. New seeds
        re-arm the crawl even if the previous round made no progress
        (exhausted-state re-ingest)."""
        m = self._manifest
        if name not in self.seed_tables:
            m["seed_tables"] = [*self.seed_tables, name]
        m["seeds_added_at_round"] = int(at_round)
        m["seed_table_rounds"] = {**m.get("seed_table_rounds", {}), name: int(at_round)}
        m["seed_table_rows"] = {**m.get("seed_table_rows", {}), name: int(rows)}
        m["forced_seeds"] = int(m.get("forced_seeds", 0)) + int(forced)
        self.save_manifest()

    def seed_table_rows(self, name: str) -> int:
        return int(self._manifest.get("seed_table_rows", {}).get(name, 0))

    @property
    def seed_rows(self) -> int:
        return sum(self._manifest.get("seed_table_rows", {}).values())

    # ------------------------------------------------------- compaction
    @property
    def compaction(self) -> dict | None:
        """Latest frontier compaction: {"round", "table", "rows"} — the
        base table replaces seeds ∪ frontier_add deltas ≤ round in the
        per-round candidate assembly, keeping round input O(active
        frontier) instead of O(cumulative additions)."""
        c = self._manifest.get("compaction")
        return dict(c) if c else None

    def set_compaction(self, round_id: int, table: str, rows: int) -> None:
        self._manifest["compaction"] = {
            "round": int(round_id),
            "table": table,
            "rows": int(rows),
        }
        self.save_manifest()

    @property
    def seeds_added_at_round(self) -> int:
        return int(self._manifest.get("seeds_added_at_round", -1))

    @property
    def forced_seeds(self) -> int:
        """Total force_recrawl rows across registered seed tables. The
        scheduler skips the whole forced-bypass branch (and its
        per-round max-generation shuffle over the seen set) when this
        is zero. Missing key (pre-existing state dirs) → assume forced
        rows may exist."""
        return int(self._manifest.get("forced_seeds", 1 << 30))

    def save_manifest(self) -> None:
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    # ----------------------------------------------------------- rounds
    @property
    def committed_rounds(self) -> list[int]:
        return list(self._manifest["rounds"])

    @property
    def last_round(self) -> int:
        return self._manifest["rounds"][-1] if self._manifest["rounds"] else -1

    def write_table(self, round_id: int, name: str, df: DataFrame) -> None:
        """Write ONE per-round delta (NOT yet committed — a crash here
        leaves the manifest at the previous round). run_crawl submits
        every round table plus the bloom update on one pool."""
        if round_id in self._manifest["rounds"]:
            raise ValueError(f"round {round_id} already committed")
        df.write.mode("overwrite").parquet(self._round_dir(round_id, name))

    def commit_round(self, round_id: int, counters: dict[str, int] | None = None) -> None:
        """Atomic commit point: manifest replacement via os.replace."""
        self._manifest["rounds"].append(round_id)
        if counters:
            self._manifest["counters"][str(round_id)] = counters
        self.save_manifest()

    def read_table(
        self,
        table: str,
        upto_round: int | None = None,
        from_round: int | None = None,
    ) -> DataFrame | None:
        """Union of a table's committed deltas (Iceberg snapshot-read
        emulation). Parquet multi-path read keeps partition parallelism.
        ``from_round`` skips deltas already folded into a compaction
        base."""
        rounds = [
            r
            for r in self._manifest["rounds"]
            if (upto_round is None or r <= upto_round)
            and (from_round is None or r >= from_round)
        ]
        paths = [
            self._round_dir(r, table)
            for r in rounds
            if os.path.exists(self._round_dir(r, table))
        ]
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def read_round_table(self, round_id: int, table: str) -> DataFrame | None:
        p = self._round_dir(round_id, table)
        return self.spark.read.parquet(p) if os.path.exists(p) else None

    def counters(self) -> dict[str, dict[str, int]]:
        return dict(self._manifest["counters"])
