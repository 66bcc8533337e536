"""Unit tests: bloom prefilter exactness, distributed global ranking."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_seen_anti_join_exact(spark, tmp_path):
    """Exact with the crawl's store and with the throwaway bloom built
    when no store is given."""
    from sandcrawler_spark.operators.bloom import BloomStore, seen_anti_join

    cand = spark.createDataFrame(
        [("pdf", f"http://h/{i}") for i in range(500)], "ingest_type string, u string"
    )
    seen = spark.createDataFrame(
        [("pdf", f"http://h/{i}") for i in range(0, 500, 2)],
        "ingest_type string, u string",
    )
    store = BloomStore(str(tmp_path / "bloom"), num_shards=4)
    store.update(seen.select(F.xxhash64("u").alias("h")), n_delta=250, round_id=0)
    for bloom in (store, None):
        out = seen_anti_join(cand, seen, ["ingest_type", "u"], "u", bloom=bloom)
        got = sorted(r["u"] for r in out.collect())
        want = sorted(f"http://h/{i}" for i in range(1, 500, 2))
        assert got == want


def test_with_global_rank_total_order(spark):
    from sandcrawler_spark.operators.ranking import with_global_rank

    df = spark.createDataFrame(
        [(i % 7, f"k{i:04d}") for i in range(1000)], "v int, k string"
    ).repartition(13)
    ranked = with_global_rank(df, [F.col("v").asc(), F.col("k").asc()], num_partitions=5)
    rows = sorted((r["rank"], r["v"], r["k"]) for r in ranked.collect())
    assert [r[0] for r in rows] == list(range(1000))  # gap-free 0..n-1
    seq = [(r[1], r[2]) for r in rows]
    assert seq == sorted(seq)  # rank order == sort order


def test_token_stats_goldens(spark):
    """Hand-tokenized goldens for the BPE-ish pre-token counter; the
    Spark-vs-DuckDB battery parity (txt_tokens) covers the oracle side."""
    from sandcrawler_spark.operators.text import token_stats

    rows = [
        (1, "Hello world, it's 2024!"),   # Hello/ world/,/ it/'s/ 2024/!
        (2, "a  b\nc"),                   # a/"  "/b/"\n"/c
        (3, "café naïve"),      # unicode letters: café/ naïve
        (4, "   "),                       # trims to empty: 0 bpe, null ratio
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: r.asDict()
        for r in token_stats(df, "doc_id", "text").collect()
    }
    assert (got[1]["n_ws_tokens"], got[1]["n_bpe_tokens"]) == (4, 7)
    assert got[1]["chars_per_bpe_token"] == round(23 / 7, 4)
    assert (got[2]["n_ws_tokens"], got[2]["n_bpe_tokens"]) == (3, 5)
    assert got[2]["chars_per_bpe_token"] == 1.2
    assert (got[3]["n_ws_tokens"], got[3]["n_bpe_tokens"]) == (2, 2)
    assert got[3]["chars_per_bpe_token"] == 5.0
    assert got[4]["n_bpe_tokens"] == 0
    assert got[4]["chars_per_bpe_token"] is None


def test_lang_guess_ngram_goldens(spark):
    """Trigram-profile LID on real sentences in each profiled language,
    plus the density-floor and empty-text fallbacks."""
    from sandcrawler_spark.operators.text import lang_guess_ngram

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs to the barn"),
        (2, "die Kinder spielen in der Schule und der Lehrer erklärt die Aufgabe"),
        (3, "le chat noir et le chien de la maison sont dans le jardin ensemble"),
        (4, "la casa de la abuela está en el pueblo y los niños juegan en el patio"),
        (5, "zzzz qqqq xxxx wwww kkkk"),  # matches no profile → other
        (6, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["id"]: r["lang_ngram"]
        for r in lang_guess_ngram(df, "doc_id", "text").collect()
    }
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[4] == "es"
    assert got[5] == "other"
    assert got[6] == "other"


def test_doc_quality_punct_ratio(spark):
    from sandcrawler_spark.operators.text import doc_quality

    df = spark.createDataFrame(
        [(1, "ab, cd!"), (2, "no punct here"), (3, "   ")], ["doc_id", "text"]
    )
    got = {r["id"]: r["punct_ratio"] for r in doc_quality(df, "doc_id", "text").collect()}
    assert got[1] == round(2 / 7, 4)
    assert got[2] == 0.0
    assert got[3] is None
