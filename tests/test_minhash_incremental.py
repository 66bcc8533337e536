"""Incremental MinHash-LSH (dedup.build_minhash_index +
dedup.minhash_probe_index): probing a persisted band index with a new
batch must reproduce exactly the full-batch pipeline's pairs that touch
the batch — nothing more, nothing less — including after the index
round-trips through parquet (the persisted-state path a crawl uses).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sandcrawler_spark.operators.dedup import (
    build_minhash_index,
    minhash_near_dups,
    minhash_probe_index,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text").cache()


def _pairs(df):
    return {(r["id1"], r["id2"], r["jacc"]) for r in df.collect()}


def test_probe_equals_batch_restricted_to_delta(spark, docs, tmp_path):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)

    # the index round-trips through parquet, like real persisted state
    ix_path = str(tmp_path / "minhash_index")
    build_minhash_index(corpus, "doc_id", "text").write.parquet(ix_path)
    ix = spark.read.parquet(ix_path)

    got = _pairs(minhash_probe_index(delta, ix, corpus, "doc_id", "text", tau=0.8))

    batch = _pairs(minhash_near_dups(docs, "doc_id", "text", tau=0.8))
    want = {p for p in batch if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert got == want
    assert len(got) > 0  # the fixture must actually exercise the path
    # and no corpus-corpus pair leaks through
    assert all(a % 2 == 1 or b % 2 == 1 for a, b, _ in got)


def test_probe_empty_delta_is_empty(spark, docs):
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") < 0)
    ix = build_minhash_index(corpus, "doc_id", "text")
    out = minhash_probe_index(delta, ix, corpus, "doc_id", "text", tau=0.8)
    assert out.count() == 0


def test_simhash_probe_equals_batch_restricted(spark, docs):
    from sandcrawler_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
        simhash_probe_index,
    )

    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    ix = simhash(corpus, "doc_id", "text")
    got = {
        (r["id1"], r["id2"], r["hamming"])
        for r in simhash_probe_index(delta, ix, "doc_id", "text", max_hamming=3).collect()
    }
    batch = {
        (r["id1"], r["id2"], r["hamming"])
        for r in simhash_near_dups(docs, "doc_id", "text", max_hamming=3).collect()
    }
    want = {p for p in batch if p[0] % 2 == 1 or p[1] % 2 == 1}
    assert got == want
    assert len(got) > 0

