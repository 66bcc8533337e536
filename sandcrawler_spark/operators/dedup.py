"""Deduplication suite for training-data pipelines:

- exact dedup (hash-groupBy)                       — trivially scalable
- exact n-gram Jaccard pairs (shingle-join)        — the verify stage
- MinHash + LSH banding                            — the candidate stage
  (signatures via (a·h+b) mod p permutations over shingle hashes;
  band buckets joined to propose pairs; exact Jaccard confirms)
- SimHash (64-bit, bitwise-majority of token hashes)

Everything is pure Catalyst expressions over exploded shingle/token
rows — shuffles are groupBy/join on (id) or (shingle)/(band,hash) keys,
no Python UDFs, so the same pipeline runs unchanged on a cluster.

Scale notes (100 TB corpus): the shingle-join verify stage is only ever
run on LSH candidates (quadratic blowup is bounded by band-bucket
sizes); hot shingles (stopword trigrams) are the skew risk — cap bucket
width or pre-drop top-frequency shingles, both set ops here. SimHash
near-dup search at scale bands on hash prefixes instead of the
all-pairs XOR used for small-n verification.

Hash/permutation constants are part of the public contract (DuckDB
oracles reproduce them literally).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sandcrawler_spark.operators.text import hash28_col, hash60_col, shingles, tokens_col

MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne); (a*h28 + b) < 2^59 → int64-safe
MINHASH_PERMS: list[tuple[int, int]] = [
    (1103515245, 12345),
    (1103577, 987654321),
    (29943829, 7777777),
    (1299709, 104729),
    (15485863, 3571),
    (32452843, 999983),
    (49979687, 123457),
    (67867967, 31337),
]
LSH_ROWS_PER_BAND = 2  # 8 hashes → 4 bands × 2 rows


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate profile: docs vs distinct normalized texts
    (content-hash groupBy; the sha1-keyed dedup of the reference's HBase
    table, python_hadoop/backfill_hbase_from_cdx.py:2-5)."""
    return df.select(
        F.md5(F.lower(F.trim(F.col(text_col)))).alias("h")
    ).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_distinct"),
    )


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str, tau: float = 0.8) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (ground truth / verify stage).

    inter(i,j) via shingle equi-join; |A∪B| = |A|+|B|−inter. Output
    (id1, id2, jacc) with jacc ≥ tau, id1 < id2.
    """
    sh = shingles(df, id_col, text_col)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("id").alias("id1"), "shingle")
    b = sh.select(F.col("id").alias("id2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn(
            "jacc",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4),
        )
        .filter(F.col("jacc") >= tau)
        .select("id1", "id2", "jacc")
    )


def minhash_signatures_wide(
    df: DataFrame, id_col: str, text_col: str, _shingles: DataFrame | None = None
) -> DataFrame:
    """(id, mh0..mh7): k-permutation MinHash over 28-bit shingle hashes.

    The k permutation hashes are k COLUMN EXPRESSIONS over the
    un-exploded shingle rows, aggregated in ONE groupBy(id) with k
    ``min``s — map-side partial aggregation shrinks the shuffle to one
    row per (partition, id). The previous form crossJoined a k-row
    permutation table, multiplying every (id, shingle) row ×k before
    the shuffle — 8× the shuffle input for the identical result."""
    base = _shingles if _shingles is not None else shingles(df, id_col, text_col)
    sh = base.withColumn("h", hash28_col("shingle"))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{j}")
        for j, (a, b) in enumerate(MINHASH_PERMS)
    ]
    return sh.groupBy("id").agg(*aggs)


def lsh_band_keys(signatures_wide: DataFrame) -> DataFrame:
    """(id, band, band_key) from wide signatures: each band key is an
    md5 over its rows-per-band minhash values in permutation order —
    pure projection, zero extra shuffles (the old long-form version
    needed a second groupBy + collect_list per band)."""
    k = len(MINHASH_PERMS)
    n_bands = k // LSH_ROWS_PER_BAND
    bands = []
    for band in range(n_bands):
        js = range(band * LSH_ROWS_PER_BAND, (band + 1) * LSH_ROWS_PER_BAND)
        key = F.md5(F.concat_ws("-", *[F.col(f"mh{j}").cast("string") for j in js]))
        bands.append(
            F.struct(F.lit(band).cast("long").alias("band"), key.alias("band_key"))
        )
    return signatures_wide.select(
        "id", F.explode(F.array(*bands)).alias("bk")
    ).select("id", "bk.band", "bk.band_key")


# Default hot-bucket cap for banded candidate generation. Generous: at
# tau >= 0.8 a genuine near-dup cluster rarely exceeds a few thousand
# members per band bucket, while boilerplate clusters (shared headers /
# footers / templates across millions of pages) blow past it and would
# make the band self-join quadratic in the bucket. Pass
# ``max_bucket=None`` to opt out (exact small-scale/oracle runs at
# sf0.01 never have a bucket anywhere near this wide, so the default is
# value-neutral for the correctness gate).
DEFAULT_MAX_BUCKET = 10_000

# (label, Observation) pairs registered by cap_bucket_width — drained by
# pop_cap_observations(). Metrics materialize when an action runs over
# the capped plan; nothing is silently truncated without a counter.
# Thread-LOCAL (each caller thread drains only its own registrations —
# concurrent jobs can no longer steal each other's metrics) and
# bounded (oldest entries beyond _CAP_OBS_MAXLEN are discarded with a
# counted drop, so a long-lived process that never drains cannot grow
# without bound).
import threading as _threading

_CAP_OBS_MAXLEN = 1024
_cap_obs_tls = _threading.local()


def _cap_obs_state():
    st = getattr(_cap_obs_tls, "state", None)
    if st is None:
        st = {"obs": [], "dropped": 0}
        _cap_obs_tls.state = st
    return st


def pop_cap_observations() -> list:
    """Drain the (label, pyspark.sql.Observation) pairs registered by
    :func:`cap_bucket_width` in THIS thread since the last drain. Only
    call ``obs.get`` after an action has run over the capped DataFrame
    (it blocks until the plan executes); it then yields
    ``{"buckets_capped": n, "rows_capped": m, "widest_bucket": w}`` —
    the no-silent-truncation audit trail for the skew cap.

    Same-thread contract (ADVICE r5): the registry is thread-local, so
    the capped plan must be BUILT and DRAINED on the same thread — a
    caller that builds on one thread and runs/drains on another (e.g.
    an executor pool) sees an empty drain, indistinguishable from
    "nothing was capped"."""
    st = _cap_obs_state()
    out = list(st["obs"])
    st["obs"].clear()
    st["dropped"] = 0
    return out


def cap_observations_dropped() -> int:
    """Entries discarded from this thread's registry because it grew
    past ``_CAP_OBS_MAXLEN`` without being drained."""
    return _cap_obs_state()["dropped"]


def cap_bucket_width(
    bands: DataFrame, keys: list[str], max_bucket: int | None
) -> DataFrame:
    """Hot-bucket skew guard for banded candidate generation: DROP
    buckets wider than ``max_bucket`` before the self-join (a bucket of
    m members proposes m²/2 pairs — one boilerplate cluster of 10^5
    docs would otherwise put 5·10^9 pairs in a single task). Oversized
    buckets are near-boilerplate by construction; at corpus scale the
    cap trades their (usually worthless) pairs for bounded tasks. ON by
    default in every banded operator (``DEFAULT_MAX_BUCKET``);
    ``None`` opts out for exact runs. Capped-bucket counts are
    surfaced via :func:`pop_cap_observations`, not dropped silently.

    NULL-key note (ADVICE r5): ``Window.partitionBy`` groups NULL keys
    into one bucket, which is then capped/retained like any other —
    unlike the pre-r5 left-semi-join form, where NULL keys never
    equi-joined and were silently dropped. Current callers derive keys
    from md5/literals (never NULL), so this is only visible to new
    callers with nullable keys.

    Plan shape (round-5 fix): ONE pass — a window count over the bucket
    keys, filter, observe. The round-4 version aggregated bucket sizes
    and left-semi-joined them back, which computed the bands lineage
    (shingle → minhash groupBy → band projection) TWICE — the exchanges
    differ (partial-agg vs raw rows) so Spark cannot reuse them, and
    dd_minhash_lsh regressed +24%. The window costs one shuffle+sort on
    the bucket keys, and the downstream band self-join reuses exactly
    that partitioning, so the cap is now nearly free."""
    if max_bucket is None:
        return bands
    from pyspark.sql import Observation, Window

    w = Window.partitionBy(*keys).orderBy(F.lit(1))
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sized = bands.withColumn("__bsz", F.count(F.lit(1)).over(wf)).withColumn(
        "__rn", F.row_number().over(w)
    )
    obs = Observation()
    capped = F.col("__bsz") > max_bucket
    sized = sized.observe(
        obs,
        F.coalesce(
            F.sum((capped & (F.col("__rn") == 1)).cast("long")), F.lit(0)
        ).alias("buckets_capped"),
        F.coalesce(F.sum(capped.cast("long")), F.lit(0)).alias("rows_capped"),
        F.coalesce(F.max("__bsz"), F.lit(0)).alias("widest_bucket"),
    )
    st = _cap_obs_state()
    st["obs"].append(("/".join(keys), obs))
    if len(st["obs"]) > _CAP_OBS_MAXLEN:
        st["dropped"] += len(st["obs"]) - _CAP_OBS_MAXLEN
        del st["obs"][: len(st["obs"]) - _CAP_OBS_MAXLEN]
    return sized.filter(~capped).drop("__bsz", "__rn")


def minhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, tau: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Full MinHash-LSH pipeline: band-bucket candidate pairs, then exact
    Jaccard confirmation ≥ tau. Output (id1, id2, jacc).
    ``max_bucket`` enables the hot-bucket skew cap (see
    :func:`cap_bucket_width`)."""
    # the shingle set feeds BOTH the signature build and the verify
    # stage — cache it once (columnar) instead of re-tokenizing
    sh = shingles(df, id_col, text_col).persist()
    sig = minhash_signatures_wide(df, id_col, text_col, _shingles=sh)
    bands = cap_bucket_width(lsh_band_keys(sig), ["band", "band_key"], max_bucket)
    b1 = bands.select(F.col("id").alias("id1"), "band", "band_key")
    b2 = bands.select(F.col("id").alias("id2"), "band", "band_key")
    cand = (
        b1.join(b2, ["band", "band_key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )
    # verify: exact jaccard restricted to candidates. The id2 shingle
    # side is first semi-joined to the candidate id2 set (round 6):
    # the (id2, shingle) equi-join otherwise shuffles the ENTIRE
    # shingle table when only candidate documents can match — the same
    # pushdown minhash_probe_index applies to the corpus re-shingle
    # (guide §3.2: reduce the big side before shuffling it).
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    s1 = sh.select(F.col("id").alias("id1"), "shingle")
    s2 = sh.select(F.col("id").alias("id2"), "shingle").join(
        F.broadcast(cand.select("id2").distinct()), "id2", "left_semi"
    )
    inter = (
        cand.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn(
            "jacc",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4),
        )
        .filter(F.col("jacc") >= tau)
        .select("id1", "id2", "jacc")
    )


def build_minhash_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The persistable LSH state of a long-running crawl: (id, band,
    band_key) rows, one write per corpus batch, kept in a parquet/
    Iceberg table partitioned by band. Each later batch PROBES this
    table (:func:`minhash_probe_index`) instead of re-signing the whole
    corpus — the incremental twin of the sharded bloom store, and the
    only shape that works at 10^9+ documents (re-running
    :func:`minhash_near_dups` over corpus ∪ delta is O(corpus) per
    batch; probing is O(delta + matched buckets))."""
    return lsh_band_keys(minhash_signatures_wide(df, id_col, text_col))


def minhash_probe_index(
    delta: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    tau: float = 0.8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs that TOUCH a new batch.

    candidates = (delta bands ⋈ stored index) ∪ (banded intra-delta
    self-join); verify = exact word-3-gram Jaccard, with the corpus side
    re-shingled ONLY for candidate ids (semi-join pushdown — the 100 TB
    corpus scan reads matched docs, not everything). Output
    (id1, id2, jacc) with the same canonical id1 < id2 orientation and
    rounding as :func:`minhash_near_dups`, so the union of this result
    with the corpus's own historical pairs equals the full batch run.

    ``corpus`` must be the table the index was built from (text is
    needed for verification); delta and corpus ids must be disjoint.
    """
    sh_delta = shingles(delta, id_col, text_col).persist()
    sig = minhash_signatures_wide(delta, id_col, text_col, _shingles=sh_delta)
    dbands = cap_bucket_width(lsh_band_keys(sig), ["band", "band_key"], max_bucket)
    ix = cap_bucket_width(
        index.select(F.col("id").alias("cid"), "band", "band_key"),
        ["band", "band_key"],
        max_bucket,
    )
    cross = (
        dbands.join(ix, ["band", "band_key"])
        .filter(F.col("id") != F.col("cid"))
        .select(
            F.least("id", "cid").alias("id1"), F.greatest("id", "cid").alias("id2")
        )
    )
    b1 = dbands.select(F.col("id").alias("id1"), "band", "band_key")
    b2 = dbands.select(F.col("id").alias("id2"), "band", "band_key")
    intra = (
        b1.join(b2, ["band", "band_key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    cand = cross.unionByName(intra).distinct()
    # corpus shingles only for docs that appear in a candidate pair
    cand_ids = cand.select(F.col("id1").alias(id_col)).unionByName(
        cand.select(F.col("id2").alias(id_col))
    ).distinct()
    sh_corpus = shingles(corpus.join(cand_ids, id_col, "left_semi"), id_col, text_col)
    sh = sh_delta.unionByName(sh_corpus).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    s1 = sh.select(F.col("id").alias("id1"), "shingle")
    s2 = sh.select(F.col("id").alias("id2"), "shingle")
    inter = (
        cand.join(s1, "id1")
        .join(s2, ["id2", "shingle"])
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id1").withColumnRenamed("sz", "sz1"), "id1")
        .join(sizes.withColumnRenamed("id", "id2").withColumnRenamed("sz", "sz2"), "id2")
        .withColumn(
            "jacc",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4),
        )
        .filter(F.col("jacc") >= tau)
        .select("id1", "id2", "jacc")
    )


SIMHASH_BITS = 60


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash: per token (with multiplicity) take hash60; each
    bit contributes ±1; simhash bit = majority. Output (id, simhash).

    Per-bit vote sums are 60 aggregate COLUMNS in one
    groupBy(id) over the token rows (all whole-stage codegen, partial
    aggregation map-side) — the previous form exploded every token
    into 60 rows (60× shuffle input) and aggregated twice."""
    toks = (
        df.select(F.col(id_col).alias("id"), tokens_col(text_col).alias("toks"))
        .select("id", F.explode("toks").alias("tok"))
        .withColumn("h", hash60_col("tok"))
    )
    votes = toks.groupBy("id").agg(
        *[
            F.sum(F.expr(f"(shiftright(h, {b}) & 1) * 2 - 1")).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    acc = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        acc = acc + F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("id", acc.alias("simhash"))


def simhash_bands(sh: DataFrame, max_hamming: int = 3) -> DataFrame:
    """(id, chunk, chunk_val): split each simhash into ``max_hamming+1``
    disjoint bit chunks. Pigeonhole: two hashes within Hamming distance
    ``max_hamming`` differ in ≤ max_hamming chunks, so they AGREE on at
    least one chunk — equi-joining on (chunk, chunk_val) proposes every
    true pair with zero false negatives."""
    n_chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // n_chunks)  # ceil
    chunks = [
        F.struct(
            F.lit(c).cast("int").alias("chunk"),
            F.expr(
                f"shiftright(simhash, {c * width}) & {(1 << width) - 1}"
            ).alias("chunk_val"),
        )
        for c in range(n_chunks)
    ]
    return sh.select("id", F.explode(F.array(*chunks)).alias("ck")).select(
        "id", "ck.chunk", "ck.chunk_val"
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance — BANDED, not
    all-pairs: candidates come from the chunk equi-join (exact by the
    pigeonhole bound in :func:`simhash_bands`), then one XOR verifies.
    The plan contains no cross join and scales as the bucket sizes, not
    O(n²). ``max_bucket`` enables the hot-bucket skew cap
    (:func:`cap_bucket_width`; trades exactness for bounded tasks)."""
    sh = simhash(df, id_col, text_col)
    bands = cap_bucket_width(
        simhash_bands(sh, max_hamming), ["chunk", "chunk_val"], max_bucket
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["chunk", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    h1 = sh.select(F.col("id").alias("id1"), F.col("simhash").alias("h1"))
    h2 = sh.select(F.col("id").alias("id2"), F.col("simhash").alias("h2"))
    return (
        cand.join(h1, "id1")
        .join(h2, "id2")
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def simhash_probe_index(
    delta: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental SimHash: near-dup pairs touching a new batch, probed
    against a persisted signature table instead of re-hashing the
    corpus (the SimHash twin of :func:`minhash_probe_index` — the
    corpus-side state is just (id, simhash), 8 bytes a doc, and chunk
    keys are a cheap projection of it, so no corpus text is ever read).

    ``index``: the stored (id, simhash) table (the output of
    :func:`simhash` on prior batches, appended per batch); delta and
    index ids must be disjoint. Output (id1, id2, hamming) with the
    same canonical orientation as :func:`simhash_near_dups`, so this
    result ∪ historical pairs == the full batch run."""
    # Both signature tables feed the band build AND the verify join —
    # persist so each is computed (delta) / read (stored index) once,
    # mirroring minhash_probe_index's persisted delta shingles.
    sh_d = simhash(delta, id_col, text_col).persist()
    sigs_i = index.select("id", "simhash").persist()
    bands_d = cap_bucket_width(
        simhash_bands(sh_d, max_hamming), ["chunk", "chunk_val"], max_bucket
    )
    bands_i = cap_bucket_width(
        simhash_bands(sigs_i, max_hamming),
        ["chunk", "chunk_val"],
        max_bucket,
    )
    cross = (
        bands_d.alias("a")
        .join(bands_i.alias("b"), ["chunk", "chunk_val"])
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id1"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id2"),
        )
    )
    intra = (
        bands_d.alias("a")
        .join(bands_d.alias("b"), ["chunk", "chunk_val"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
    )
    cand = cross.unionByName(intra).distinct()
    sigs = sh_d.unionByName(sigs_i)
    h1 = sigs.select(F.col("id").alias("id1"), F.col("simhash").alias("h1"))
    h2 = sigs.select(F.col("id").alias("id2"), F.col("simhash").alias("h2"))
    return (
        cand.join(h1, "id1")
        .join(h2, "id2")
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def self_join_matchable(
    df,
    slug_col: str = "slug",
    release_col: str = "release",
    work_col: str = "work",
):
    """J6: self-join work grouping (GroupFatcatWorksJob.scala:23-42):
    join a table to itself on the slug key, keep pairs that are
    "self-matchable" (Scorable.scala:63-80) — both releases present and
    different, both works present, and ``work1 > work2`` so each pair is
    emitted exactly once. Returns (slug, release/work pairs) with every
    left/right payload column suffixed _1/_2.

    Spark shape: one shuffle on the slug key (sort-merge or AQE-chosen);
    the work1>work2 predicate halves the pair space the same way the
    reference's reducer-side check does — no distinct needed since the
    join key + id predicate is already unique per pair."""
    payload = [c for c in df.columns if c != slug_col]
    l = df.select(
        F.col(slug_col).alias("slug"),
        *[F.col(c).alias(f"{c}_1") for c in payload],
    )
    r = df.select(
        F.col(slug_col).alias("slug"),
        *[F.col(c).alias(f"{c}_2") for c in payload],
    )
    return l.join(r, "slug").filter(
        F.col(f"{release_col}_1").isNotNull()
        & F.col(f"{release_col}_2").isNotNull()
        & (F.col(f"{release_col}_1") != F.col(f"{release_col}_2"))
        & F.col(f"{work_col}_1").isNotNull()
        & F.col(f"{work_col}_2").isNotNull()
        & (F.col(f"{work_col}_1") > F.col(f"{work_col}_2"))
    )


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """Large-star step: every node attaches its strictly-larger
    neighbors to the minimum of its neighborhood (including itself)."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("mn"))
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """Small-star step: orient edges large→small; every node attaches
    its smaller neighbors (and itself) to its minimum neighbor."""
    o = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("mn"))
    return (
        o.join(mins, "src")
        .filter(F.col("dst") != F.col("mn"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mins.select("src", F.col("mn").alias("dst")))
        .distinct()
    )


def connected_components(
    pairs: DataFrame, id1: str = "id1", id2: str = "id2"
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair list, via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm). Converges in O(log² n) rounds — the
    scale-correct choice for web-corpus dedup graphs, where plain
    min-label propagation needs O(diameter) rounds and duplicate chains
    (A≈B≈C≈…) make the diameter large.

    Output one row per node in the pair graph:
    (id, cluster_id, cluster_size, is_canonical) — cluster_id is the
    component's minimum id, is_canonical marks the keeper doc
    (keep-one-per-cluster dedup policy).

    The driver loop only compares per-round edge digests (count + hash
    sum — two scalars); edge data itself never leaves the executors.
    Each round shuffles on node id — the same plan at any scale.
    ``localCheckpoint`` truncates lineage per round (iterative plans
    otherwise grow the logical plan — and Catalyst analysis time —
    linearly with rounds) and keeps the converged edge set cached
    executor-side for the final cluster assembly. At most 25 rounds."""
    edges = (
        pairs.select(F.col(id1).alias("src"), F.col(id2).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint()
    )
    prev_digest = None
    for _ in range(25):
        nxt = _cc_small_star(_cc_large_star(edges)).localCheckpoint()
        digest = nxt.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        edges.unpersist()
        edges = nxt
        if (digest["n"], digest["h"]) == prev_digest:
            break
        prev_digest = (digest["n"], digest["h"])
    # converged: edges form stars (node → component minimum)
    o = edges.select(
        F.greatest("src", "dst").alias("id"), F.least("src", "dst").alias("comp")
    ).groupBy("id").agg(F.min("comp").alias("cluster_id"))
    roots = (
        edges.select(F.least("src", "dst").alias("cluster_id"))
        .distinct()
        .join(o.select(F.col("id").alias("cluster_id")), "cluster_id", "left_anti")
        .select(F.col("cluster_id").alias("id"), "cluster_id")
    )
    members = o.union(roots)
    sizes = members.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return members.join(sizes, "cluster_id").select(
        "id",
        "cluster_id",
        "cluster_size",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_len: int = 12,
) -> DataFrame:
    """Maximal cross-doc exact duplicated token spans — the
    "deduplicating training data" substring pass (Lee et al. 2021,
    public method) with the suffix array replaced by the Spark-native
    equivalent: k-gram anchor equi-join + diagonal run merge.

    Every ≥``min_len``-token sequence shared verbatim by two documents
    contains consecutive k-gram anchors; joining anchors on the gram,
    then merging runs of consecutive positions along each alignment
    diagonal (``pos1 − pos2``) with a gaps-and-islands window,
    reconstructs each maximal shared span exactly.  Returns
    ``(id1, id2, start1, start2, span_len)`` — 0-based token offsets,
    ``id1 < id2``, ``span_len ≥ min_len`` (≥ k required to anchor).

    Scale: the anchor join shuffles on the gram; stopword-run grams are
    the skew risk (a common-gram cap before pairing is the standard
    remedy; a dropped gram can only split a span that rarer neighbors
    still anchor).  The run merge is a keyed window per (id1, id2, diagonal)
    — never global.  At 10^10 docs, join on ``xxhash64(gram)`` instead
    of the string and re-verify survivors by re-slicing; the string
    join here keeps the battery oracle byte-exact.
    """
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("toks")
    ).filter(F.size("toks") >= k)
    grams = toks.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.concat_ws(" ", F.slice("toks", i + 1, k)),
            )
        ).alias("p", "g"),
    )
    a = grams.select(F.col("id").alias("id1"), F.col("p").alias("p1"), "g")
    b = grams.select(F.col("id").alias("id2"), F.col("p").alias("p2"), "g")
    hits = a.join(b, "g").filter(F.col("id1") < F.col("id2")).select(
        "id1", "id2", "p1", "p2", (F.col("p1") - F.col("p2")).alias("diag")
    )
    w = Window.partitionBy("id1", "id2", "diag").orderBy("p1")
    runs = hits.withColumn("island", F.col("p1") - F.row_number().over(w))
    return (
        runs.groupBy("id1", "id2", "diag", "island")
        .agg(
            F.min("p1").alias("start1"),
            F.min("p2").alias("start2"),
            (F.count("*") + k - 1).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
        .select("id1", "id2", "start1", "start2", "span_len")
    )


def mirror_hosts(df: DataFrame, tau: float = 0.5) -> DataFrame:
    """Mirror-site detection: host pairs whose CONTENT-HASH sets overlap
    (set Jaccard ≥ tau) — the host-level generalization of the
    reference's URL-agnostic sha1 dedup (its HBase table exists to
    answer exactly this membership question per hash,
    python_hadoop/backfill_hbase_from_cdx.py:2-5).  A crawl that spots
    a mirror stops paying politeness budget twice for the same corpus.

    Same scale shape as :func:`jaccard_pairs`: the intersection is an
    equi-join keyed on the content hash (a hash shared by m hosts
    contributes m·(m−1)/2 pairs — cap ubiquitous hashes upstream the
    way LSH caps hot buckets), set sizes are a per-host agg, and
    |A∪B| = |A|+|B|−|A∩B|.  Input (host, sha1hex); returns
    ``(host1, host2, inter, jacc)`` with host1 < host2.
    """
    sets = df.select(F.col("host").alias("h"), F.col("sha1hex").alias("c")).distinct()
    sizes = sets.groupBy("h").agg(F.count("*").alias("sz"))
    a = sets.select(F.col("h").alias("host1"), "c")
    b = sets.select(F.col("h").alias("host2"), "c")
    inter = (
        a.join(b, "c")
        .filter(F.col("host1") < F.col("host2"))
        .groupBy("host1", "host2")
        .agg(F.count("*").alias("inter"))
    )
    s1 = sizes.select(F.col("h").alias("host1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col("h").alias("host2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "host1")
        .join(s2, "host2")
        .withColumn(
            "jacc",
            F.round(
                F.col("inter")
                / (F.col("sz1") + F.col("sz2") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jacc") >= tau)
        .select("host1", "host2", "inter", "jacc")
    )


TRAP_DIVERSITY_MAX = 0.10
TRAP_QUERY_RATIO_MIN = 0.90


def trap_host_stats(df: DataFrame, *, min_urls: int = 100) -> DataFrame:
    """Crawler-trap detection over a (host, url, digest) capture table —
    the host-level hygiene twin of :func:`mirror_hosts`.  Traps
    (calendar pages, session-id URLs, faceted search) are the classic
    frontier pathology at 10^10 URLs: a host that mints unbounded
    DISTINCT URLs over a tiny set of DISTINCT contents.  The public
    Heritrix-style signals, per host:

    - ``content_diversity`` = distinct digests / distinct URLs (traps
      are low: many URLs, few contents),
    - ``query_ratio``        = fraction of captured URLs carrying a
      querystring (session-id mints are ~1.0),
    - ``avg_path_depth``     = mean '/'-segment count of the path
      (recursive path traps grow without bound),
    - ``trap_suspect``       = n_urls >= ``min_urls`` AND
      (diversity <= ``TRAP_DIVERSITY_MAX`` OR
      query_ratio >= ``TRAP_QUERY_RATIO_MIN``).

    A flagged host feeds the frontier's blocklist gate (F6) so the
    scheduler stops paying politeness budget for content it already
    has.  Scale shape: ONE map-side-combinable groupBy(host); the two
    exact count-distincts plan as a single Expand + partial aggregates
    (no second shuffle); at 10^10 swap them for approx_count_distinct —
    same plan shape, and HLL sketches sidestep the very hot-host skew
    this operator exists to find.  Path depth and querystring flags are
    pure codegen string expressions on the scan."""
    noq = F.substring_index(F.col("url"), "?", 1)
    path = F.regexp_replace(noq, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    depth = F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit("")))
    has_q = F.col("url").contains("?").cast("int")
    stats = (
        df.select(
            F.col("host").alias("host"),
            F.col("url").alias("url"),
            F.col("digest").alias("digest"),
            depth.alias("depth"),
            has_q.alias("has_q"),
        )
        .groupBy("host")
        .agg(
            F.count("*").alias("n_captures"),
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("digest").alias("n_digests"),
            F.round(F.avg("has_q"), 4).alias("query_ratio"),
            F.round(F.avg("depth"), 4).alias("avg_path_depth"),
        )
        .withColumn(
            "content_diversity", F.round(F.col("n_digests") / F.col("n_urls"), 4)
        )
    )
    return stats.select(
        "host",
        "n_captures",
        "n_urls",
        "n_digests",
        "content_diversity",
        "query_ratio",
        "avg_path_depth",
        (
            (F.col("n_urls") >= min_urls)
            & (
                (F.col("content_diversity") <= TRAP_DIVERSITY_MAX)
                | (F.col("query_ratio") >= TRAP_QUERY_RATIO_MIN)
            )
        ).alias("trap_suspect"),
    )


def select_representatives(members: DataFrame, scores: DataFrame) -> DataFrame:
    """Cluster-representative selection by QUALITY instead of min-id:
    the keep-best retention policy (FineWeb/Dolma-style pipelines keep
    the highest-quality member of each near-dup cluster; the
    :func:`connected_components` default keeps the minimum id).

    members: (id, cluster_id, ...) — e.g. connected_components output;
    scores: (id, score) — e.g. the hashed-ngram classifier's output
    (``operators/classifier.py``) or any per-doc quality metric.
    Members with no score row rank below every scored member (their
    score coalesces to -inf), so a cluster whose docs were never
    scored still keeps exactly one representative.

    Returns one row per member: (id, cluster_id, score,
    is_representative). Deterministic total order per cluster:
    (score desc, id asc) — ties on score keep the smaller id, so the
    policy degrades to the min-id canonical when scores are constant.
    Two map-side-combinable aggregates (max score per cluster, then
    min id among the argmax rows) + hash join-backs on cluster_id —
    never a per-cluster window, no skew from giant clusters.
    """
    # collapse scores to one row per id BEFORE the join-back: a scores
    # table with duplicate (id, score) rows would otherwise duplicate
    # member rows in the output (taking max matches the keep-best
    # policy; map-side combinable)
    sc = scores.groupBy(F.col("id").alias("__sid")).agg(
        F.max("score").alias("__score")
    )
    j = members.join(
        sc, members["id"] == F.col("__sid"), "left"
    ).drop("__sid").withColumn(
        "__score", F.coalesce(F.col("__score"), F.lit(float("-inf")))
    )
    best = j.groupBy("cluster_id").agg(F.max("__score").alias("__best"))
    j = j.join(best, "cluster_id")
    keeper = (
        j.filter(F.col("__score") == F.col("__best"))
        .groupBy("cluster_id")
        .agg(F.min("id").alias("__keep_id"))
    )
    return (
        j.join(keeper, "cluster_id")
        .select(
            "id",
            "cluster_id",
            F.col("__score").alias("score"),
            (F.col("id") == F.col("__keep_id")).alias("is_representative"),
        )
    )
