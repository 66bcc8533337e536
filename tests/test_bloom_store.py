"""Sharded incremental BloomStore invariants (north_rule URL-seen
design): no false negatives ever, incremental == rebuilt, broadcast
probe == cogrouped probe, persistence across reopen."""

from __future__ import annotations

import contextlib

from pyspark.sql import functions as F

from sandcrawler_spark.operators.bloom import BloomStore


def _hashes(spark, start, n):
    return spark.range(start, start + n).select(
        F.xxhash64(F.col("id").cast("string")).alias("h")
    )


def test_incremental_update_equals_rebuild(spark, tmp_path):
    a = BloomStore(str(tmp_path / "a"), num_shards=8)
    a.update(_hashes(spark, 0, 2000), n_delta=2000, round_id=0)
    a.update(_hashes(spark, 2000, 1500), n_delta=1500, round_id=1)

    b = BloomStore(str(tmp_path / "b"), num_shards=8)
    b.rebuild(_hashes(spark, 0, 3500), n_keys=3500, round_id=1)

    # no false negatives on either build path
    members = _hashes(spark, 0, 3500)
    for st in (a, b):
        probe = st.might_contain_udf(spark)
        n_hit = members.select(probe(F.col("h")).alias("m")).filter("m").count()
        assert n_hit == 3500
    probe_a = a.might_contain_udf(spark)

    # false-positive rate bounded on non-members
    others = _hashes(spark, 10_000_000, 4000)
    fp = others.select(probe_a(F.col("h")).alias("m")).filter("m").count()
    assert fp / 4000 < 0.02

    assert a.ready_for(2) and not a.ready_for(3)


@contextlib.contextmanager
def _no_aqe(spark):
    """AQE off, as run_crawl runs its rounds: small shuffles then keep all
    their partitions instead of coalescing into one, so a cogroup whose
    two sides partition differently shows up as missed bitmaps."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_broadcast_probe_equals_cogrouped_probe(spark, tmp_path):
    st = BloomStore(str(tmp_path / "c"), num_shards=8)
    st.update(_hashes(spark, 0, 3000), n_delta=3000, round_id=0)

    cand = spark.range(0, 6000).select(
        F.col("id").cast("string").alias("url"), F.col("id").alias("seq")
    )
    probe = st.might_contain_udf(spark)
    bc = {
        r["url"]: r["m"]
        for r in cand.select(
            "url", probe(F.xxhash64("url")).alias("m")
        ).collect()
    }
    with _no_aqe(spark):
        cg = {
            r["url"]: r["__maybe"]
            for r in st.probe_cogrouped(cand, "url").collect()
        }
    assert bc == cg
    assert sum(bc.values()) >= 3000  # every member probes true


def test_persistence_roundtrip(spark, tmp_path):
    p = str(tmp_path / "p")
    st = BloomStore(p, num_shards=4)
    st.update(_hashes(spark, 0, 1000), n_delta=1000, round_id=0)
    re = BloomStore(p)
    assert re.num_shards == 4
    assert re.ready_for(1)
    probe = re.might_contain_udf(spark)
    n = (
        _hashes(spark, 0, 1000)
        .select(probe(F.col("h")).alias("m"))
        .filter("m")
        .count()
    )
    assert n == 1000


def test_corrupt_state_falls_back_to_rebuild(spark, tmp_path):
    """Crash-recovery contract (ADVICE r2): corrupt meta JSON or a
    meta pointing at a missing version dir must NOT raise on reopen —
    the store discards state and reports not-ready, and one rebuild
    restores exact membership."""
    import json
    import os
    import shutil

    root = str(tmp_path / "c")
    st = BloomStore(root, num_shards=4)
    st.update(_hashes(spark, 0, 1000), n_delta=1000, round_id=0)
    assert st.ready_for(1)

    # corrupt meta: truncated JSON (crash mid-write of a non-atomic file)
    with open(os.path.join(root, "bloom_meta.json"), "w") as f:
        f.write('{"num_shards": 4, "m_shard')
    st2 = BloomStore(root, num_shards=4)
    assert st2.version == -1 and not st2.ready_for(1)
    st2.rebuild(_hashes(spark, 0, 1000), n_keys=1000, round_id=0)
    probe = st2.might_contain_udf(spark)
    assert (
        _hashes(spark, 0, 1000).select(probe(F.col("h")).alias("m")).filter("m").count()
        == 1000
    )

    # valid meta, missing version dir (partial delete)
    meta = json.load(open(os.path.join(root, "bloom_meta.json")))
    shutil.rmtree(os.path.join(root, "shards"))
    with open(os.path.join(root, "bloom_meta.json"), "w") as f:
        json.dump(meta, f)
    st3 = BloomStore(root, num_shards=4)
    assert st3.version == -1 and not st3.ready_for(1)


def test_rebuilt_store_at_same_root_is_not_served_stale_bits(spark, tmp_path):
    """Python workers cache the sideloaded bitmap across tasks. A store
    deleted and rebuilt at the same root writes the same version dir
    name, so the cache must be keyed by the written version, not its
    path: every member of the new store has to probe true."""
    import shutil

    root = str(tmp_path / "same")
    first = BloomStore(root, num_shards=4)
    first.update(_hashes(spark, 0, 2000), n_delta=2000, round_id=0)
    probe = first.might_contain_udf(spark)
    assert _hashes(spark, 0, 2000).filter(probe(F.col("h"))).count() == 2000

    shutil.rmtree(root)
    second = BloomStore(root, num_shards=4)
    second.update(_hashes(spark, 5000, 2000), n_delta=2000, round_id=0)
    assert second.shards_path == first.shards_path
    probe = second.might_contain_udf(spark)
    assert _hashes(spark, 5000, 2000).filter(probe(F.col("h"))).count() == 2000


def _throwaway_shards(spark, n_members):
    """Shard-partitioned bloom bits over ``n_members`` urls, built the
    way ``seen_anti_join`` builds them when it is given no store."""
    from sandcrawler_spark.operators.bloom import _shard_delta_df

    return _shard_delta_df(_urls(spark, "s", n_members).select(F.xxhash64("url").alias("h")), 8)


def _urls(spark, prefix, n):
    return spark.range(0, n).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
    )


def test_throwaway_bloom_has_no_false_negatives(spark):
    """With no store, ``seen_anti_join`` prefilters through a sharded
    bloom built inside the same plan, each shard sized from its own key
    count: every member probes as maybe-seen, and the FPR is bounded."""
    from sandcrawler_spark.operators.bloom import _probe_cogrouped

    shards = _throwaway_shards(spark, 2000)
    members = _probe_cogrouped(_urls(spark, "s", 2000), "url", shards, 8)
    others = _probe_cogrouped(_urls(spark, "o", 4000), "url", shards, 8)
    with _no_aqe(spark):
        assert members.where(~F.col("__maybe")).count() == 0
        assert others.where(F.col("__maybe")).count() / 4000 < 0.02


def test_throwaway_bloom_never_touches_driver(spark):
    """The throwaway bloom is built and probed by grouped-Arrow nodes
    over the hash partitioning: no collect, no broadcast of bitmaps."""
    from sandcrawler_spark.operators.bloom import _probe_cogrouped

    shards = _throwaway_shards(spark, 100)
    members = _probe_cogrouped(_urls(spark, "s", 100), "url", shards, 8)
    plan = members._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan and "FlatMapCoGroupsInPandas" in plan
