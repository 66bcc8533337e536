"""Keyword retrieval over the document corpus: BM25 top-k search and
tf-idf keyword extraction — pure Catalyst (no Python in the plan).

The reference has no ranked retrieval, but a training-data analytics
engine needs it constantly: "show me the docs that match this probe
query" (contamination triage, corpus QA, seed expansion by content).
Tokenization reuses the battery-wide whitespace convention
(``text.tokens_col``: lower + trim + split ``\\s+``) so every text
operator and its DuckDB oracle agree on term identity.

Scale design (10^10 documents):

- the postings build is ONE explode + groupBy(doc, term) — the shuffle
  is keyed by (doc_id, term) and combines map-side, so it moves one
  partial per distinct pair, not one row per token occurrence.
- corpus constants (N, avgdl) are scalar aggregates crossJoined as
  broadcast 1-row frames; document frequencies are a term-keyed agg.
- query term lists are tiny and broadcast; the postings side is never
  re-shuffled for the query join (term-keyed equi-join, and Catalyst
  broadcasts the query side).
- per-query top-k is a keyed window; at large k-fleet scale swap for
  the two-phase top-k in ``operators/ranking.py`` (same contract).

Determinism: BM25/tf-idf sums per (query, doc) cover at most
|query-terms| addends, so fp ordering noise is << the 6dp rounding all
battery queries share; ties break (score DESC, doc_id ASC, term ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sandcrawler_spark.operators.text import tokens_col

BM25_K1 = 1.2
BM25_B = 0.75


def postings(docs: DataFrame) -> DataFrame:
    """Term-frequency postings over a ``(doc_id, text)`` corpus:
    ``(doc_id, term, tf)`` plus per-doc
    length ``dl`` (token count) carried on every row — one explode, one
    map-side-combining groupBy."""
    toks = docs.select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("toks")
    ).select(
        "doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term")
    ).filter(F.length("term") > 0)
    return toks.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Okapi BM25 ranked retrieval (``BM25_K1``, ``BM25_B``) over a
    ``(doc_id, text)`` corpus: top-``k`` documents per query.

    ``queries`` is ``(query_id, term)`` — one row per query term
    (pre-lowercased).  Returns ``(query_id, doc_id, score, rk)`` with
    ``score`` rounded to 6dp and a total tie order (score DESC, doc_id
    ASC).  idf is the standard smoothed form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always positive, so
    matching any rare term can only help.
    """
    # Query-term pushdown (guide §2.3 "aggregate before you shuffle" /
    # "project before the exchange"): only |query| distinct terms can
    # score, so the exploded token stream is broadcast-semi-joined to
    # the query terms BEFORE any aggregation. The old shape built
    # full-corpus postings (one shuffle of every (doc, term) pair) and
    # a full-corpus document-frequency table, then threw away every
    # non-query term. tf/df for surviving terms are identical integer
    # counts; avgdl is computed at document granularity from the same
    # membership (docs with >= 1 non-empty token) and dl definition
    # (token count incl. empties) as the postings-based form.
    q = queries.select(
        F.col("query_id"), F.lower(F.trim(F.col("term"))).alias("term")
    ).distinct()
    toks = docs.select(
        F.col("doc_id").alias("doc_id"), tokens_col("text").alias("toks")
    )
    n_docs = docs.select(F.count("*").alias("n_docs"))
    avgdl = (
        toks.filter(F.exists("toks", lambda t: F.length(t) > 0))
        .select(F.size("toks").alias("dl"))
        .agg(F.avg("dl").alias("avgdl"))
    )
    qterms = q.select("term").distinct()
    tok_rows = (
        toks.select("doc_id", F.size("toks").alias("dl"), F.explode("toks").alias("term"))
        .filter(F.length("term") > 0)
        .join(F.broadcast(qterms), "term", "left_semi")
    )
    post = tok_rows.groupBy("doc_id", "dl", "term").agg(F.count("*").alias("tf"))
    df_ = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))

    scored = (
        post.join(F.broadcast(q), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(avgdl))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "score", "rk")
    )


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` tf-idf keywords per document — the corpus-QA
    "what is this doc about" signal.  ``score = tf * ln(N / df)``
    rounded to 6dp; ties break (score DESC, term ASC).  Terms present
    in every document get idf 0 and lose to any distinctive term."""
    post = postings(docs)
    n_docs = docs.select(F.count("*").alias("n_docs"))
    df_ = post.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        post.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "term", "score", "rk")
    )


def unigram_nll(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus's own
    add-alpha-smoothed unigram LM — the classic model-based quality
    proxy (CCNet-style perplexity filtering with the KenLM 5-gram
    replaced by a self-trained unigram, which keeps it exactly
    SQL-replayable): documents full of corpus-typical words score low,
    outliers (boilerplate, other languages, encoding garbage) score
    high.

    ``p(w) = (count(w) + alpha) / (T + alpha·V)`` over the corpus's own
    token stream (T tokens, V observed vocab);
    ``nll(doc) = −Σ tf·ln p(w) / dl``.  Returns ``(doc_id, nll)``
    rounded to 6dp.

    Scale: one postings build (map-side combined), a term-keyed join
    against the (small) term-count table, broadcast scalar totals, one
    per-doc aggregation — the same shuffle shape as BM25 without the
    query side."""
    post = postings(docs)
    counts = post.groupBy("term").agg(F.sum("tf").alias("cnt"))
    totals = counts.agg(
        F.sum("cnt").alias("t_tokens"), F.count("*").alias("v_size")
    )
    return (
        post.join(counts, "term")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lp",
            F.log(
                (F.col("cnt") + F.lit(alpha))
                / (F.col("t_tokens") + F.lit(alpha) * F.col("v_size"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(-F.sum(F.col("tf") * F.col("lp")) / F.first("dl"), 6).alias(
                "nll"
            )
        )
    )


def ccnet_buckets(docs: DataFrame, alpha: float = 0.5) -> DataFrame:
    """CCNet's head/middle/tail split (Wenzek et al. 2020 §4.4, public
    paper): per language, partition documents into quality buckets by
    LM score terciles — ``head`` (lowest NLL, most corpus-typical),
    ``middle``, ``tail``. This is the stage whose output CCNet actually
    ships; downstream recipes train on head(+middle) only.

    ``docs`` is ``(doc_id, text, lang)``. Returns
    ``(doc_id, lang, nll, bucket)`` for every scorable doc.

    Scale shape: the per-doc NLL is :func:`unigram_nll` (one postings
    build, term-keyed join, per-doc agg); the per-language cut points
    are ONE tiny aggregate (``n_langs`` rows — Spark's exact
    interpolated ``percentile``, same definition as DuckDB
    ``quantile_cont``) broadcast back onto the scored stream. No global
    sort, no ntile window over the corpus — bucketing is a threshold
    comparison, which is also how CCNet applies it (cutoffs from a
    held-out sample, then a streaming filter)."""
    nll = unigram_nll(docs, alpha=alpha)
    scored = nll.join(
        docs.select(F.col("doc_id").alias("doc_id"), F.col("lang").alias("lang")),
        "doc_id",
    )
    th = scored.groupBy("lang").agg(
        F.percentile("nll", [1 / 3, 2 / 3]).alias("qs")
    )
    return scored.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "nll",
        F.when(F.col("nll") <= F.col("qs")[0], F.lit("head"))
        .when(F.col("nll") <= F.col("qs")[1], F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
