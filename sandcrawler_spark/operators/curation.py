"""Training-corpus curation: deterministic sampling, domain mixture
weighting, and context-window shard packing.

The reference curates its corpus with one-shot filter/sample jobs
(e.g. ``please`` dump slices and the filter scripts under
``python/scripts/`` — filter_cdx_paper_pdfs.py, filter_grobid_metadata.py
— each a full-scan filter with an ad-hoc acceptance rule). These
operators generalize that stage to what a large-scale training-data
pipeline needs after dedup: reproducible sampling (hash-derived, not
``rand()`` — reruns and resumes must pick the SAME rows), per-stratum
quota sampling for domain re-balancing, temperature-scaled mixture
weights, and packing documents into fixed-budget shards/bins for
sequence assembly.

Scale notes (the design points, in order of appearance):

- ``hash_sample`` is a pure filter — no shuffle, no state, trivially
  parallel at any scale; the md5-derived keep-decision is a pure
  function of (salt, id) so it is stable across reruns, partitionings,
  and engine versions (unlike ``df.sample``, whose output depends on
  partition layout).
- ``stratified_sample(exact=True)`` needs a per-stratum total order by
  hash. A naive ``Window.partitionBy(stratum)`` collapses each stratum
  into ONE task — fatal when a stratum holds 10^9 rows. Instead it
  rides :func:`~sandcrawler_spark.operators.ranking.with_global_rank`
  (range-shuffle two-phase rank over (stratum, hash, id)) and converts
  global rank to per-stratum rank with a broadcast of per-stratum
  offsets (|strata| rows). All heavy work stays distributed.
- ``mixture_weights`` is one partial-aggregable groupBy to |domains|
  rows, then a broadcast of the 1-row corpus total — no second big
  shuffle.
- ``pack_shards`` (LPT-style round-robin over a size-descending total
  order) reuses the same two-phase global rank; assignment is then a
  pure projection ``rank % n_shards``.
- ``pack_ffd`` (first-fit-decreasing into fixed-budget bins) is
  inherently sequential WITHIN a shard, so it runs as one
  ``applyInPandas`` group per shard — parallel across shards, which is
  the knob that scales (shard count grows with the cluster, per-shard
  work stays bounded by the LPT pre-split).
- ``pack_token_chunks`` (concat-and-chunk into fixed-length training
  sequences, docs split at chunk boundaries — the GPT-pretraining
  packing) is a closed-form function of the global token cumsum, so it
  needs NO sequential pass at all: two-phase cumsum (range shuffle +
  broadcast of per-partition totals) then a pure span projection with
  a bounded `sequence` fan-out for docs longer than one chunk.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sandcrawler_spark.operators.ranking import with_global_rank


def _hash60(col: Column, salt: str) -> Column:
    """60-bit non-negative hash, portable to the DuckDB oracle:
    ``CAST(concat('0x', substr(md5(concat(salt, x)), 1, 15)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 15), 16, 10
    ).cast("long")


def hash_sample(df: DataFrame, id_col: str, rate_bps: int) -> DataFrame:
    """Deterministic ~``rate_bps``/10000 sample keyed on an md5 of the
    id salted with ``"smp"``. Binomial per-partition (not an exact
    global quota — see :func:`stratified_sample` for exact quotas)."""
    return df.filter(_hash60(F.col(id_col), "smp") % 10000 < rate_bps)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    rate: float,
    exact: bool = True,
) -> DataFrame:
    """Per-stratum sample at ``rate``.

    ``exact=False``: hash-threshold keep (zero shuffle, binomial per
    stratum) — the 100-TB default when ±0.1% quota error is fine.

    ``exact=True``: exactly ``ceil(rate * |stratum|)`` rows per stratum,
    chosen as the stratum's smallest salted hashes (deterministic, order-
    and partitioning-independent). Distributed via two-phase global rank
    over (stratum, hash, id) + a broadcast per-stratum offset/quota map.
    """
    h = _hash60(F.col(id_col), "strat").alias("__h")
    if not exact:
        return df.filter(_hash60(F.col(id_col), "strat") % 1_000_000 < int(rate * 1_000_000))
    scratch: list[DataFrame] = []
    ranked = with_global_rank(
        df.withColumn("__h", h),
        [strata_col, "__h", id_col],
        rank_col="__grank",
        scratch=scratch,
    )
    quota = ranked.groupBy(strata_col).agg(
        F.min("__grank").alias("__off"),
        F.ceil(F.count("*") * F.lit(rate)).alias("__quota"),
    )
    out = (
        ranked.join(F.broadcast(quota), strata_col)
        .filter(F.col("__grank") - F.col("__off") < F.col("__quota"))
        .drop("__h", "__grank", "__off", "__quota")
    )
    # materialization caveat: with_global_rank persists its range-
    # shuffled input; callers that keep `out` lazy should unpersist via
    # their own lifecycle. At battery scale the frames are tiny.
    return out


def mixture_weights(
    df: DataFrame,
    domain_col: str,
    size_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain mixture table: per-domain size share and
    the alpha-annealed sampling weight ``size^alpha / sum(size^alpha)``
    (the standard multilingual/multi-domain re-balancing rule — alpha=1
    is proportional, alpha=0 uniform). One partial-aggregable groupBy to
    |domains| rows; corpus totals join back via broadcast."""
    per = df.groupBy(domain_col).agg(
        F.count("*").alias("n_docs"), F.sum(size_col).alias("size_total")
    )
    tot = per.agg(
        F.sum("size_total").alias("__tot"),
        F.sum(F.pow("size_total", F.lit(alpha))).alias("__z"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            domain_col,
            "n_docs",
            "size_total",
            F.round(F.col("size_total") / F.col("__tot"), 6).alias("share"),
            F.round(F.pow("size_total", F.lit(alpha)) / F.col("__z"), 6).alias("weight"),
        )
    )


def pack_shards(
    df: DataFrame, size_col: str, id_col: str, n_shards: int
) -> DataFrame:
    """LPT-style balanced shard assignment: global order by (size desc,
    id), shard = rank mod n_shards (round-robin over the sorted stream —
    the classic longest-processing-time load-balance approximation).
    Adds ``shard``; ranking is the two-phase distributed kind."""
    scratch: list[DataFrame] = []
    ranked = with_global_rank(
        df, [F.col(size_col).desc(), F.col(id_col)], rank_col="__grank", scratch=scratch
    )
    return ranked.withColumn(
        "shard", (F.col("__grank") % n_shards).cast("int")
    ).drop("__grank")


FFD_SCHEMA_SUFFIX = "bin int, bin_fill long"


def pack_ffd(
    df: DataFrame,
    size_col: str,
    id_col: str,
    budget: int,
) -> DataFrame:
    """First-fit-decreasing bin packing within each ``shard``: docs sorted by
    (size desc, id) go into the first bin with room; a doc larger than
    ``budget`` gets a singleton bin (never dropped). Sequential per
    shard — parallelism comes from the shard fan-out (pair with
    :func:`pack_shards`). Output adds ``bin`` (0-based per shard) and
    ``bin_fill`` (the bin's total size, repeated on each member)."""
    out_schema = (
        ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        + ", "
        + FFD_SCHEMA_SUFFIX
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([size_col, id_col], ascending=[False, True]).reset_index(
            drop=True
        )
        fills: list[int] = []
        bins: list[int] = []
        for sz in pdf[size_col].tolist():
            placed = None
            for b, fill in enumerate(fills):
                if fill + sz <= budget:
                    placed = b
                    fills[b] = fill + sz
                    break
            if placed is None:
                placed = len(fills)
                fills.append(sz)
            bins.append(placed)
        pdf["bin"] = pd.array(bins, dtype="int32")
        pdf["bin_fill"] = pd.array([fills[b] for b in bins], dtype="int64")
        return pdf

    return df.groupBy("shard").applyInPandas(_pack, out_schema)


def pack_token_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    max_tokens: int,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are concatenated in
    ``id_col`` order into one token stream, which is cut into
    fixed-``max_tokens`` training sequences ("chunks"); documents split
    at chunk boundaries. One output row per (doc, chunk) span:

    - ``chunk``     global 0-based sequence index
    - ``chunk_off`` where the span starts inside the chunk
    - ``doc_off``   where the span starts inside the document
    - ``n_toks``    span length

    Every chunk except the last is exactly full, so the packing is a
    closed-form function of the exclusive global cumsum ``c0``:
    doc occupies [c0, c0+toks) and lands in chunks
    floor(c0/max) .. floor((c0+toks-1)/max). The cumsum is two-phase
    (range shuffle on id into ``spark.sql.shuffle.partitions`` ranges,
    per-partition totals broadcast — the with_global_rank pattern,
    driver traffic = #partitions rows), the rest is a pure
    projection + bounded `sequence` fan-out. No
    applyInPandas, no per-shard sequential pass. Zero-token docs are
    dropped (they contribute no span).
    """
    spark = df.sparkSession
    n = spark.conf.get("spark.sql.shuffle.partitions")
    src = df.filter(F.col(tokens_col) > 0).select(
        id_col, F.col(tokens_col).cast("long").alias("__toks")
    )
    ranged = (
        src.repartitionByRange(int(n), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
        .persist()  # offsets below are valid ONLY for this materialized
        # range layout (range bounds come from sampling) — keep it
        # cached until the result is consumed
    )
    sums = {
        r["__pid"]: r["s"]
        for r in ranged.groupBy("__pid").agg(F.sum("__toks").alias("s")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "__pid int, __off long"
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c0 = F.coalesce(F.sum("__toks").over(w), F.lit(0)) + F.col("__off")
    m = F.lit(int(max_tokens))
    spans = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn("__c0", c0)
        .withColumn(
            "chunk",
            F.explode(
                F.sequence(
                    F.floor(F.col("__c0") / m),
                    F.floor((F.col("__c0") + F.col("__toks") - 1) / m),
                )
            ),
        )
    )
    k0 = F.col("chunk") * m
    doc_off = F.greatest(k0 - F.col("__c0"), F.lit(0))
    chunk_off = F.greatest(F.col("__c0") - k0, F.lit(0))
    span_end = F.least(F.col("__toks"), k0 + m - F.col("__c0"))
    out = spans.select(
        id_col,
        F.col("chunk").cast("long").alias("chunk"),
        chunk_off.cast("long").alias("chunk_off"),
        doc_off.cast("long").alias("doc_off"),
        (span_end - doc_off).cast("long").alias("n_toks"),
    )
    return out


def weighted_sample(df: DataFrame, id_col: str, weight_col: str, k: int) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, public paper): each row draws u = hash-uniform(0,1)
    from an md5 of its id salted with ``"ws"`` and ranks by key =
    u^(1/weight); the top-k keys are the sample, with inclusion
    probability proportional to weight. No rand(): the draw is a pure
    function of the id, so
    the sample is stable across reruns, partitionings, and resumes —
    the property `df.sample` cannot give. The key is rounded to 6
    decimals (with id tiebreak) so ordering is engine-portable.

    Scale shape: orderBy+limit compiles to TakeOrderedAndProject —
    per-partition top-k then a single k-row merge; no global sort, no
    full shuffle."""
    u = (_hash60(F.col(id_col), "ws").cast("double") + 0.5) / float(1 << 60)
    key = F.round(F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 6)
    return (
        df.select(F.col(id_col), F.col(weight_col), key.alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col(id_col))
        .limit(k)
    )


def curation_decisions(docs):
    """End-to-end keep/drop decision per document — the composed
    curation pipeline a corpus build actually runs, as ONE plan:

    1. exact dedup: one canonical doc (min id) per normalized content
       hash; the rest are ``exact_dup``.
    2. quality gate: canonical docs that fail the Gopher rule set
       (:func:`..text.gopher_rules`) are ``gopher_fail``.
    3. everything else is ``kept``.

    ``docs`` is (doc_id, text). Returns ``(doc_id, reason)`` with
    reason ∈ {kept, exact_dup,
    gopher_fail}.  Stage 1 is a keyed min-aggregation joined back on
    the hash (two shuffles on the content hash, map-side combined —
    never a window over a skewed global ordering); stage 2 is a pure
    projection, so the composition adds nothing beyond the dedup
    shuffles.  Deterministic: canonical choice is min(id).
    """
    from pyspark.sql import functions as F

    from sandcrawler_spark.operators.text import gopher_rules

    hashed = docs.select(
        F.col("doc_id").alias("doc_id"),
        F.col("text").alias("_text"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("_h"),
    )
    canon = hashed.groupBy("_h").agg(F.min("doc_id").alias("_keep_id"))
    staged = hashed.join(canon, "_h").withColumn(
        "_is_canon", F.col("doc_id") == F.col("_keep_id")
    )
    rules = gopher_rules(
        staged.filter("_is_canon"), "doc_id", "_text"
    ).select(F.col("id").alias("doc_id"), "pass_gopher")
    return (
        staged.join(rules, "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.col("_is_canon"), F.lit("exact_dup"))
            .when(~F.col("pass_gopher"), F.lit("gopher_fail"))
            .otherwise(F.lit("kept"))
            .alias("reason"),
        )
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    size_col: str,
    id_col: str,
    budget: float,
    alpha: float = 0.5,
) -> DataFrame:
    """Budget-constrained mixture sampling — the step that APPLIES a
    :func:`mixture_weights` table: each domain gets ``weight × budget``
    of the size budget, converted to a per-domain sampling rate
    ``min(1, target / size_total)`` and applied as a deterministic
    per-document hash draw (ppm integer threshold, so engine and
    oracle agree exactly).  Returns the sampled rows with their
    ``rate_ppm`` attached.

    Scale: the rate table is |domains| rows broadcast onto the corpus
    scan — one filter pass, no shuffle beyond the weights aggregation.
    Expected sampled size per domain is ``rate × size_total``; exact
    quotas (at the cost of a per-domain rank) are
    :func:`stratified_sample`'s job.
    """
    w = mixture_weights(df, domain_col, size_col, alpha)
    rates = w.select(
        domain_col,
        F.floor(
            F.least(
                F.lit(1.0),
                (F.col("weight") * F.lit(float(budget))) / F.col("size_total"),
            )
            * 1_000_000
        )
        .cast("long")
        .alias("rate_ppm"),
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(_hash60(F.col(id_col), "mix") % 1_000_000 < F.col("rate_ppm"))
    )


def dsir_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    buckets: int = 4096,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al., NeurIPS
    2023): score every document by the log-likelihood ratio of a
    hashed-unigram language model of the TARGET corpus vs the REST,
    so raw documents that "look like" the curated target distribution
    can be up-sampled. ``target_col`` is a boolean column marking the
    in-target rows (e.g. gold in-domain docs); scores are comparable
    across the whole frame.

    Per-token feature = ``"dsir"``-salted 60-bit md5 hash mod ``buckets`` (the
    hashed n-gram trick from the paper, portable to the DuckDB oracle);
    bucket LMs use add-one smoothing:

        score(doc) = Σ_tok  log p_target(b(tok)) − log p_rest(b(tok))

    Scale notes: the token explode is linear and shuffle-free; bucket
    counts are ONE partial-aggregable groupBy down to ≤``buckets``
    rows; the log-ratio table broadcasts back onto the token stream
    (no shuffle), and the per-doc sum is the only real shuffle —
    partial-aggregated on the map side. Nothing is quadratic and no
    state touches the driver.
    """
    toks = (
        df.select(
            F.col(id_col),
            F.col(target_col).cast("boolean").alias("__tgt"),
            F.explode(
                F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
            ).alias("__tok"),
        )
        .filter(F.col("__tok") != "")
        .withColumn("__b", _hash60(F.col("__tok"), "dsir") % buckets)
    )
    # NOTE (round-6 measurement): a (id, tgt, bucket, cnt) pre-
    # aggregation "single pass" variant was tried and REVERTED — the
    # intermediate barely collapses (≈ one row per distinct (doc,
    # bucket)), so it shuffled ~the whole token stream where the shape
    # below shuffles almost nothing: both consumers partial-aggregate
    # map-side (per-bucket to ≤``buckets`` rows, per-doc to one row per
    # doc), so the only duplicated work is the narrow explode+hash
    # lineage, which is cheaper than the extra wide shuffle
    # (interleaved A/B at sf1.0: 2.48 s vs 3.33 s median).
    per_bucket = toks.groupBy("__b").agg(
        F.sum(F.col("__tgt").cast("long")).alias("__nt"),
        F.sum((~F.col("__tgt")).cast("long")).alias("__nr"),
    )
    totals = per_bucket.agg(
        F.sum("__nt").alias("__T"), F.sum("__nr").alias("__R")
    )
    ratio = per_bucket.crossJoin(F.broadcast(totals)).select(
        "__b",
        (
            F.log((F.col("__nt") + 1.0) / (F.col("__T") + F.lit(float(buckets))))
            - F.log((F.col("__nr") + 1.0) / (F.col("__R") + F.lit(float(buckets))))
        ).alias("__lr"),
    )
    return (
        toks.join(F.broadcast(ratio), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.sum("__lr"), 6).alias("dsir_score"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    epoch: int = 0,
    n_shards: int | None = None,
) -> DataFrame:
    """Deterministic global training-order shuffle for one epoch.

    Pretraining loaders need every epoch to visit the corpus in a
    different pseudo-random order, and that order must be REPRODUCIBLE:
    a preempted job that restarts (or a second consumer of the same
    epoch) has to see the identical sequence. ``df.orderBy(rand())``
    fails both ways — nondeterministic across retries and dependent on
    partition layout. Here the sort key is an md5 of
    ``("epoch", epoch, id)``, so the permutation is a pure function of the
    epoch number, and ``epoch_pos`` (0-based) is the global position in
    that permutation. With ``n_shards``, ``shard = epoch_pos mod
    n_shards`` deals the shuffled stream round-robin — each shard is
    both balanced (±1 row) and itself a uniform random sample, so
    data-parallel ranks can each read one shard.

    Scale shape: ONE range shuffle (the two-phase global rank of
    :func:`~sandcrawler_spark.operators.ranking.with_global_rank` — no
    single-task window); the hash key is a pure codegen projection.
    """
    h = _hash60(F.col(id_col), f"epoch:{epoch}:").alias("__h")
    ranked = with_global_rank(
        df.withColumn("__h", h), ["__h", id_col], rank_col="epoch_pos"
    ).drop("__h")
    if n_shards is not None:
        ranked = ranked.withColumn(
            "shard", (F.col("epoch_pos") % n_shards).cast("int")
        )
    return ranked


def interleave_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weights: dict | DataFrame,
    *,
    epoch: int = 0,
) -> DataFrame:
    """Weighted deterministic interleave of multiple corpus sources into
    ONE global training stream (stride scheduling / weighted fair
    queuing — the "data mixing" step after :func:`mixture_weights`
    decides the rates).

    Each source's rows are first shuffled deterministically within the
    source (md5 of ``("il", epoch, id)``), giving ``src_rank``
    (0-based within source). Row r of source s is then released at
    virtual time ``(r + 1) / weight(s)``; the global stream orders by
    ``(vtime, source, src_rank)`` — a total order — so in any prefix of
    the output each source appears in proportion to its weight (a
    weight-3 source emits 3 rows for every 1 of a weight-1 source),
    while within-source order stays the epoch permutation. The whole
    schedule is a pure function of (weights, epoch, ids): reruns,
    resumes, and re-partitionings produce the identical stream.

    ``weights``: ``{source_value: weight}`` dict (broadcast as a map
    literal) or a 2-column DataFrame ``(source_col, weight)`` — e.g.
    :func:`mixture_weights` output — broadcast-joined. Sources with no
    weight are dropped (weight 0).

    Scale shape: two range shuffles (per-source rank rides ONE global
    rank over (source, hash, id) plus a broadcast per-source offset map
    — never a per-source single-task window — and the final ordering is
    the same two-phase rank); everything else is codegen projections.
    """
    h = _hash60(F.col(id_col), f"il:{epoch}:").alias("__h")
    scratch: list[DataFrame] = []
    ranked = with_global_rank(
        df.withColumn("__h", h),
        [source_col, "__h", id_col],
        rank_col="__grank",
        scratch=scratch,
    )
    offs = ranked.groupBy(source_col).agg(F.min("__grank").alias("__off"))
    per_src = (
        ranked.join(F.broadcast(offs), source_col)
        .withColumn("src_rank", F.col("__grank") - F.col("__off"))
        .drop("__grank", "__off", "__h")
    )
    if isinstance(weights, DataFrame):
        wdf = weights.select(
            F.col(weights.columns[0]).alias(source_col),
            F.col(weights.columns[1]).cast("double").alias("__w"),
        )
        per_src = per_src.join(F.broadcast(wdf), source_col)
    else:
        pairs: list[Column] = []
        for k, v in weights.items():
            pairs.extend([F.lit(k), F.lit(float(v))])
        per_src = per_src.withColumn(
            "__w", F.create_map(*pairs)[F.col(source_col)]
        ).filter(F.col("__w").isNotNull())
    per_src = per_src.filter(F.col("__w") > 0).withColumn(
        "__vt", (F.col("src_rank") + 1).cast("double") / F.col("__w")
    )
    out = with_global_rank(
        per_src,
        ["__vt", source_col, "src_rank"],
        rank_col="interleave_pos",
    )
    return out.drop("__vt", "__w")


def quality_filter(
    docs,
    decisions,
    weights,
    bias: float = 0.0,
    threshold: float = 0.5,
    dim: int = 4096,
):
    """Model-based quality-filter stage (the DCLM / FineWeb-Edu second
    gate after rule-based curation): score every ``kept`` doc with the
    hashed-ngram linear classifier (:mod:`..classifier`) and demote
    those under ``threshold`` to reason ``quality_fail``.

    docs: the full (doc_id, text) corpus; decisions: output of
    :func:`curation_decisions`; weights: (bucket, w) table. Returns
    (decisions', survivors, scores): decisions with ``kept`` rows
    re-labeled ``quality_fail`` where score < threshold, the docs
    still kept, and the (id, score) table for the audit trail. Only
    rule-survivors are scored (the model never sees docs already
    dropped — matching how real pipelines order the stages, and
    keeping the explode/agg cost proportional to the kept set).
    """
    from pyspark.sql import functions as F

    from sandcrawler_spark.operators.classifier import classify_documents

    survivors = docs.join(
        decisions.filter(F.col("reason") == "kept"),
        docs["doc_id"] == decisions["doc_id"],
        "left_semi",
    )
    scores = classify_documents(survivors, "doc_id", "text", weights, bias=bias, dim=dim)
    fails = scores.filter(F.col("score") < threshold).select(
        F.col("id").alias("doc_id")
    )
    decisions2 = decisions.join(
        fails.withColumn("__q", F.lit(1)), "doc_id", "left"
    ).select(
        "doc_id",
        F.when(
            (F.col("reason") == "kept") & F.col("__q").isNotNull(),
            F.lit("quality_fail"),
        )
        .otherwise(F.col("reason"))
        .alias("reason"),
    )
    kept = survivors.join(fails, survivors["doc_id"] == fails["doc_id"], "left_anti")
    return decisions2, kept, scores
