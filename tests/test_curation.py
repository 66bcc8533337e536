"""Curation operators: deterministic sampling, mixture weights, packing.

Invariants that the DuckDB oracle cannot express (determinism across
partitionings, FFD budget/totality) are pinned here; value parity for
the SQL-expressible ones lives in the battery (check_oracle)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from sandcrawler_spark.operators import curation


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_hash_sample_deterministic_and_salted(spark, sf_dir):
    import hashlib

    d = _docs(spark, sf_dir)
    a = {r.doc_id for r in curation.hash_sample(d, "doc_id", 2000).select("doc_id").collect()}
    # repartitioning must not change the picked set (rand() would)
    b = {
        r.doc_id
        for r in curation.hash_sample(d.repartition(7), "doc_id", 2000)
        .select("doc_id")
        .collect()
    }
    assert a == b and a
    # the draw is the portable salted-md5 rule with salt "smp"
    want = {
        r.doc_id
        for r in d.select("doc_id").collect()
        if int(hashlib.md5(f"smp{r.doc_id}".encode()).hexdigest()[:15], 16) % 10000 < 2000
    }
    assert a == want


def test_stratified_exact_quota(spark, sf_dir):
    d = _docs(spark, sf_dir)
    rate = 0.3
    got = (
        curation.stratified_sample(d, "lang", "doc_id", rate, exact=True)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    want = {
        r.lang: math.ceil(r.n * rate)
        for r in d.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    for r in got.collect():
        assert r.n == want[r.lang], (r.lang, r.n, want[r.lang])
    # picked set is independent of input partitioning
    s1 = {r.doc_id for r in curation.stratified_sample(d, "lang", "doc_id", rate).select("doc_id").collect()}
    s2 = {
        r.doc_id
        for r in curation.stratified_sample(d.repartition(5), "lang", "doc_id", rate)
        .select("doc_id")
        .collect()
    }
    assert s1 == s2


def test_stratified_approx_rate(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n = d.count()
    got = curation.stratified_sample(d, "lang", "doc_id", 0.5, exact=False).count()
    assert abs(got - 0.5 * n) < 0.2 * n  # binomial, loose bound


def test_mixture_weights_sum_to_one(spark, sf_dir):
    w = curation.mixture_weights(_docs(spark, sf_dir), "source", "n_chars", alpha=0.5)
    rows = w.collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # alpha<1 anneals: weight > share for the smallest domain, < for largest
    smallest = min(rows, key=lambda r: r.size_total)
    largest = max(rows, key=lambda r: r.size_total)
    assert smallest.weight > smallest.share
    assert largest.weight < largest.share


def test_pack_shards_balanced(spark, sf_dir):
    d = _docs(spark, sf_dir)
    out = curation.pack_shards(d, "n_chars", "doc_id", 8)
    per = out.groupBy("shard").agg(F.count("*").alias("n")).collect()
    ns = [r.n for r in per]
    assert len(ns) == 8 and max(ns) - min(ns) <= 1  # round-robin property
    assert out.count() == d.count()


def test_pack_ffd_invariants(spark, sf_dir):
    budget = 4000
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    sharded = curation.pack_shards(d, "n_chars", "doc_id", 4)
    packed = curation.pack_ffd(sharded, "n_chars", "doc_id", budget).collect()
    assert len(packed) == d.count()  # no doc dropped
    fills: dict[tuple, int] = {}
    for r in packed:
        fills[(r.shard, r.bin)] = fills.get((r.shard, r.bin), 0) + r.n_chars
    for (shard, b), fill in fills.items():
        members = [r for r in packed if r.shard == shard and r.bin == b]
        if len(members) > 1:
            assert fill <= budget, (shard, b, fill)
        # reported bin_fill equals the recomputed sum
        assert all(r.bin_fill == fill for r in members)
    # deterministic across reruns
    again = curation.pack_ffd(sharded, "n_chars", "doc_id", budget).collect()
    assert sorted((r.shard, r.bin, r.doc_id) for r in again) == sorted(
        (r.shard, r.bin, r.doc_id) for r in packed
    )
    # an oversize doc gets its own bin, never dropped
    big = spark.createDataFrame(
        [(1, 9000, 0), (2, 100, 0), (3, 150, 0)], "doc_id long, n_chars long, shard int"
    )
    rows = curation.pack_ffd(big, "n_chars", "doc_id", budget=200).collect()
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].bin_fill == 9000
    assert len(rows) == 3


def test_weighted_sample_deterministic_and_proportional(spark):
    from sandcrawler_spark.operators.curation import weighted_sample

    df = spark.range(0, 400).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.lit(10.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    a = [r["id"] for r in weighted_sample(df, "id", "w", k=80).collect()]
    b = [r["id"] for r in weighted_sample(df, "id", "w", k=80).collect()]
    assert a == b  # pure function of the id: stable across runs
    # inclusion probability tracks weight: pool the draw over many
    # disjoint id ranges (each an independent draw)
    heavy = light = 0
    for i in range(12):
        rows = weighted_sample(df.withColumn("id", F.col("id") + 400 * (i + 1)),
                               "id", "w", k=80).collect()
        heavy += sum(1 for r in rows if r["id"] % 2 == 0)
        light += sum(1 for r in rows if r["id"] % 2 != 0)
    assert heavy > 3 * light  # 10x weight >> parity, with slack for k-cap


def test_curation_decisions_reasons(spark):
    from sandcrawler_spark.operators.curation import curation_decisions

    good = "the quick brown fox and the lazy dog have words with " * 10
    rows = [
        (1, good),            # canonical, passes gopher
        (2, good),            # exact dup of 1
        (3, "  " + good + " "),  # dup after trim-normalization
        (4, "short junk"),    # canonical but fails gopher (n_words < 50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["reason"] for r in curation_decisions(df).collect()}
    assert got == {1: "kept", 2: "exact_dup", 3: "exact_dup", 4: "gopher_fail"}


def test_duplicated_spans_exact(spark):
    from sandcrawler_spark.operators.dedup import duplicated_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"  # 10 toks
    rows = [
        (1, "one two three " + shared + " x y z"),
        (2, "uno dos " + shared + " fin"),
        (3, "no overlap here at all whatsoever truly none"),
        # doc 4 repeats the shared run twice -> two diagonals vs doc 1
        (4, shared + " pause " + shared),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id1"], r["id2"], r["start1"], r["start2"]): r["span_len"]
        for r in duplicated_spans(df, "doc_id", "text", k=4, min_len=8).collect()
    }
    # doc1 tokens: shared starts at 3; doc2: at 2; doc4: at 0 and 11
    assert got[(1, 2, 3, 2)] == 10
    assert got[(1, 4, 3, 0)] == 10
    assert got[(1, 4, 3, 11)] == 10
    assert got[(2, 4, 2, 0)] == 10
    assert got[(2, 4, 2, 11)] == 10
    # doc4 self-pairs excluded (id1 < id2 on distinct docs only);
    # doc3 shares nothing long enough
    assert not any(3 in (i, j) for i, j, *_ in got)


def test_mirror_hosts(spark):
    from sandcrawler_spark.operators.dedup import mirror_hosts

    rows = (
        [("a.org", f"c{i}") for i in range(10)]
        + [("b.org", f"c{i}") for i in range(10)]          # exact mirror of a
        + [("c.org", f"c{i}") for i in range(5)]
        + [("c.org", f"x{i}") for i in range(5)]           # half-overlap
        + [("d.org", f"y{i}") for i in range(10)]          # disjoint
        + [("a.org", "c0")]                                 # dup row: sets, not bags
    )
    df = spark.createDataFrame(rows, "host string, sha1hex string")
    got = {(r["host1"], r["host2"]): (r["inter"], r["jacc"])
           for r in mirror_hosts(df, tau=0.3).collect()}
    assert got[("a.org", "b.org")] == (10, 1.0)
    assert got[("a.org", "c.org")] == (5, pytest.approx(5 / 15, abs=1e-6))
    assert got[("b.org", "c.org")] == (5, pytest.approx(5 / 15, abs=1e-6))
    assert not any("d.org" in k for k in got)


def test_trap_host_stats(spark):
    from sandcrawler_spark.operators.dedup import trap_host_stats

    rows = (
        # session-id trap: 6 unique urls, 2 contents, all querystringed
        [("trap.org", f"https://trap.org/cal?sid={i}", f"d{i % 2}") for i in range(6)]
        # healthy host: 6 urls, 6 contents, no querystrings, depth 2
        + [("ok.org", f"https://ok.org/a/p{i}", f"c{i}") for i in range(6)]
        # small host: trap-shaped but under min_urls
        + [("tiny.org", f"https://tiny.org/x?s={i}", "same") for i in range(3)]
        # re-captures of one url must not inflate n_urls
        + [("ok.org", "https://ok.org/a/p0", "c0")] * 4
    )
    df = spark.createDataFrame(rows, "host string, url string, digest string")
    got = {
        r["host"]: r
        for r in trap_host_stats(df, min_urls=5).collect()
    }
    t = got["trap.org"]
    assert (t["n_urls"], t["n_digests"]) == (6, 2)
    assert t["content_diversity"] == pytest.approx(2 / 6, abs=1e-4)
    assert t["query_ratio"] == 1.0 and t["trap_suspect"] is True
    ok = got["ok.org"]
    assert (ok["n_captures"], ok["n_urls"]) == (10, 6)
    assert ok["content_diversity"] == 1.0
    assert ok["avg_path_depth"] == 2.0
    assert ok["trap_suspect"] is False
    assert got["tiny.org"]["trap_suspect"] is False  # below min_urls

    plan = (
        trap_host_stats(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2  # one Expand-agg exchange pair, no more


def test_mixture_sample_budget_application(spark):
    from sandcrawler_spark.operators.curation import mixture_sample

    # two domains, big:small = 90:10 by size; alpha=0 → uniform weights
    rows = [(i, "big", 100) for i in range(90)] + [
        (i + 100, "small", 100) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, domain string, sz long")
    total = 100 * 100
    out = mixture_sample(df, "domain", "sz", "doc_id", budget=0.5 * total, alpha=0.0)
    rates = {r["domain"]: r["rate_ppm"] for r in
             out.select("domain", "rate_ppm").distinct().collect()}
    # uniform weights → each domain targets 2500; small (1000) caps at 1.0
    assert rates["small"] == 1_000_000
    assert abs(rates["big"] - int(2500 / 9000 * 1_000_000)) <= 1
    # capped domain is fully included
    assert out.filter("domain = 'small'").count() == 10
    # deterministic across partitioning
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_sample(
            df.repartition(7), "domain", "sz", "doc_id",
            budget=0.5 * total, alpha=0.0,
        ).collect()
    )
    assert a == b


def test_dsir_scores_numpy_parity(spark):
    """DSIR log-ratio scoring against a direct Python recomputation
    of the same hashed-unigram LMs."""
    import hashlib
    import math

    rows = [
        (1, "alpha beta gamma", True),
        (2, "alpha alpha delta", True),
        (3, "beta beta beta epsilon", False),
        (4, "gamma delta zeta", False),
        (5, "alpha beta", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    out = {
        r["doc_id"]: r
        for r in curation.dsir_scores(df, "doc_id", "text", "tgt", buckets=64).collect()
    }

    def bucket(tok):
        return int(hashlib.md5(("dsir" + tok).encode()).hexdigest()[:15], 16) % 64

    nt, nr = {}, {}
    for _id, text, tgt in rows:
        for tok in text.split():
            b = bucket(tok)
            (nt if tgt else nr)[b] = (nt if tgt else nr).get(b, 0) + 1
    T, R = sum(nt.values()), sum(nr.values())
    for _id, text, tgt in rows:
        toks = text.split()
        want = sum(
            math.log((nt.get(bucket(t), 0) + 1) / (T + 64))
            - math.log((nr.get(bucket(t), 0) + 1) / (R + 64))
            for t in toks
        )
        assert out[_id]["n_toks"] == len(toks)
        assert out[_id]["dsir_score"] == pytest.approx(round(want, 6), abs=1e-6)

    # in-target docs should on average outscore out-of-target ones
    tgt_mean = (out[1]["dsir_score"] + out[2]["dsir_score"]) / 2
    rest_mean = (out[3]["dsir_score"] + out[4]["dsir_score"]) / 2
    assert tgt_mean > rest_mean


def test_dsir_partitioning_invariant(spark, sf_dir):
    d = _docs(spark, sf_dir).withColumn("is_en", F.col("lang") == "en")
    a = curation.dsir_scores(d, "doc_id", "text", "is_en").collect()
    b = curation.dsir_scores(d.repartition(13), "doc_id", "text", "is_en").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_pack_token_chunks_invariants(spark):
    """Concat-and-chunk packing: spans tile every document exactly,
    chunks tile the global token stream exactly (every chunk but the
    last is full), zero-token docs are dropped, and the output is
    independent of input partitioning."""
    rows = [
        ("d01", 100), ("d02", 0), ("d03", 2048), ("d04", 5000),
        ("d05", 1), ("d06", 2047), ("d07", 9000), ("d08", 3),
    ]
    df = spark.createDataFrame(rows, "doc_id string, toks int")
    out = curation.pack_token_chunks(df, "doc_id", "toks", 2048).collect()

    toks = {d: t for d, t in rows if t > 0}
    total = sum(toks.values())
    n_chunks = -(-total // 2048)

    # per-doc tiling: doc_offs cover [0, toks) contiguously, in
    # consecutive chunks
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(toks)
    for d, spans in by_doc.items():
        spans.sort(key=lambda r: r["chunk"])
        assert spans[0]["doc_off"] == 0
        assert sum(s["n_toks"] for s in spans) == toks[d]
        for a, b in zip(spans, spans[1:]):
            assert b["chunk"] == a["chunk"] + 1
            assert b["doc_off"] == a["doc_off"] + a["n_toks"]

    # per-chunk tiling: offsets cover [0, 2048) (last chunk: [0, rem))
    by_chunk = {}
    for r in out:
        by_chunk.setdefault(r["chunk"], []).append(r)
    assert set(by_chunk) == set(range(n_chunks))
    for k, spans in by_chunk.items():
        spans.sort(key=lambda r: r["chunk_off"])
        assert spans[0]["chunk_off"] == 0
        fill = sum(s["n_toks"] for s in spans)
        assert fill == (2048 if k < n_chunks - 1 else total - 2048 * k)
        for a, b in zip(spans, spans[1:]):
            assert b["chunk_off"] == a["chunk_off"] + a["n_toks"]

    # partitioning-independence: same spans from a 1-partition layout
    got1 = {tuple(r) for r in out}
    got2 = {
        tuple(r)
        for r in curation.pack_token_chunks(
            df.repartition(1), "doc_id", "toks", 2048
        ).collect()
    }
    assert got1 == got2


def test_epoch_shuffle_permutation_and_determinism(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "source")
    n = d.count()
    out = curation.epoch_shuffle(d, "doc_id", epoch=3, n_shards=4)
    rows = out.select("doc_id", "epoch_pos", "shard").collect()
    # a permutation: every position 0..n-1 exactly once
    assert sorted(r.epoch_pos for r in rows) == list(range(n))
    # shard deal is balanced to ±1 and consistent with the position
    assert all(r.shard == r.epoch_pos % 4 for r in rows)
    per = [sum(1 for r in rows if r.shard == s) for s in range(4)]
    assert max(per) - min(per) <= 1
    # partitioning independence: identical permutation from a 7-way split
    again = {
        r.doc_id: r.epoch_pos
        for r in curation.epoch_shuffle(
            d.repartition(7), "doc_id", epoch=3, n_shards=4
        ).collect()
    }
    assert again == {r.doc_id: r.epoch_pos for r in rows}
    # a different epoch is a different permutation
    other = {
        r.doc_id: r.epoch_pos
        for r in curation.epoch_shuffle(d, "doc_id", epoch=4).collect()
    }
    assert other != {r.doc_id: r.epoch_pos for r in rows}


def test_interleave_sources_stride_and_python_parity(spark):
    # 3 sources with weights 3:2:1 over 60 rows; compare against a pure
    # Python stride scheduler on the same salted-hash permutation.
    rows = [(i, f"s{i % 3}") for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, source string")
    w = {"s0": 3.0, "s1": 2.0, "s2": 1.0}
    out = curation.interleave_sources(d, "source", "doc_id", w, epoch=0).collect()

    import hashlib

    def h60(s: str) -> int:
        return int(hashlib.md5(f"il:0:{s}".encode()).hexdigest()[:15], 16)

    per_src: dict[str, list[int]] = {}
    for i, s in rows:
        per_src.setdefault(s, []).append(i)
    sched = []
    for s, ids in per_src.items():
        ids.sort(key=lambda i: (h60(str(i)), i))
        for r, i in enumerate(ids):
            sched.append(((r + 1) / w[s], s, r, i))
    sched.sort()
    expect = {i: pos for pos, (_, _, _, i) in enumerate(sched)}
    got = {r.doc_id: r.interleave_pos for r in out}
    assert got == expect
    # prefix proportionality: in the first 30 slots, s0:s1:s2 ≈ 3:2:1
    prefix = [r.source for r in sorted(out, key=lambda r: r.interleave_pos)[:30]]
    assert prefix.count("s0") == 15 and prefix.count("s1") == 10
    assert prefix.count("s2") == 5
    # weight-0 / unknown sources are dropped
    dropped = curation.interleave_sources(
        d, "source", "doc_id", {"s0": 1.0, "s1": 0.0}, epoch=0
    )
    assert {r.source for r in dropped.collect()} == {"s0"}


def test_interleave_sources_weight_dataframe_input(spark):
    d = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(20)], "doc_id long, source string"
    )
    wdf = d.sparkSession.createDataFrame(
        [("s0", 1.0), ("s1", 1.0)], "source string, weight double"
    )
    a = curation.interleave_sources(d, "source", "doc_id", wdf).collect()
    b = curation.interleave_sources(
        d, "source", "doc_id", {"s0": 1.0, "s1": 1.0}
    ).collect()
    assert {(r.doc_id, r.interleave_pos) for r in a} == {
        (r.doc_id, r.interleave_pos) for r in b
    }
