"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline. All arithmetic is
  Catalyst ``zip_with``/``aggregate`` in DOUBLE — JVM-side, sequential
  fold, so DuckDB's sequential list functions reproduce it bitwise.
- IVF-style assignment + probed search: vectors → nearest of K centroid
  vectors; the scale path searches only the probed cells. Centroids come
  from :func:`train_ivf_centroids` (distributed Lloyd's under cosine)
  or any fixed centroid set.
- near-dup pair generation: exact blocked-GEMM (:func:`embedding_near_dups`)
  for verification scale; random-hyperplane banded LSH
  (:func:`embedding_near_dups_lsh`) as the sub-quadratic 10^9-vector path.

Scale notes (10^9 vectors): broadcast the query/centroid side (small),
keep the corpus partitioned; top-k per query via per-partition top-k +
global top-k merge (same two-phase pattern as the politeness window).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sandcrawler_spark.operators.dedup import DEFAULT_MAX_BUCKET


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors per query (self excluded).

    Ordering is total — (round(sim,6) DESC, vec_id ASC) — so results are
    parallelism-independent and oracle-comparable."""
    # norms are hoisted BELOW the cross join: |q| once per query row,
    # |c| once per corpus row, instead of once per (query, corpus) pair
    # (guide §1.2 "don't compute things you throw away" — the fold that
    # computes a norm costs the same as the dot product, so the old
    # per-pair form did 3x the array-fold work). The arithmetic per
    # pair is unchanged — dot/(norm_q*norm_c) over identical folds — so
    # sims are bit-identical.
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    ).withColumn("q_norm", _norm(F.col("q_vec")))
    c = corpus.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("c_vec")
    ).withColumn("c_norm", _norm(F.col("c_vec")))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "sim",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "sim")
    )


_PACKED_SCHEMA = "blk long, n int, dim int, ids binary, mat binary"
GEMM_BLOCKS = 8  # dense blocks per near-dup pass; B²/2 block-pair tasks


def _pack_blocks(corpus: DataFrame) -> DataFrame:
    """Hash-partition vectors into ``GEMM_BLOCKS`` dense blocks, one row
    per block carrying (ids int64[], matrix float64[n,dim]) as packed
    numpy buffers — the unit of work for blocked GEMM."""
    c = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.col("embedding").alias("v")
    ).withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(GEMM_BLOCKS)))

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())  # deterministic block layout
        ids = pdf["vec_id"].to_numpy()[order].astype(np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])[order]
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "n": [len(ids)],
                "dim": [mat.shape[1] if len(ids) else 0],
                "ids": [ids.tobytes()],
                "mat": [np.ascontiguousarray(mat).tobytes()],
            }
        )

    return c.groupBy("blk").applyInPandas(pack, schema=_PACKED_SCHEMA)


def embedding_near_dups(corpus: DataFrame, tau: float = 0.45) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the 5th dedup modality):
    all pairs id1 < id2 with cosine ≥ tau.

    Plan: BLOCKED GEMM, not a row-level cross join. Vectors are packed
    into ``GEMM_BLOCKS`` dense blocks; the join enumerates the ~B²/2
    unordered BLOCK pairs (B rows per side — a few KB of join input),
    and each task computes one block-pair's cosine matrix as a single
    float64 matmul, emitting only pairs ≥ tau. Per-pair cost is a BLAS
    flop instead of an interpreted ``zip_with`` fold, and the O(n²)
    work distributes evenly across B²/2 tasks. At corpus scale B grows
    with n so each block stays cache-sized; for genuinely huge corpora
    compose with :func:`ivf_assign` to restrict block pairs to shared
    cells. (LSH banding is NOT exact for cosine at low tau — the
    block-GEMM keeps the answer exact.)"""
    packed = _pack_blocks(corpus)
    a = packed.select(*[F.col(c).alias(f"a_{c}") for c in packed.columns])
    b = packed.select(*[F.col(c).alias(f"b_{c}") for c in packed.columns])
    pairs = a.join(F.broadcast(b), F.col("a_blk") <= F.col("b_blk"))

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out1, out2, outs = [], [], []
            for row in pdf.itertuples(index=False):
                ai = np.frombuffer(row.a_ids, dtype=np.int64)
                bi = np.frombuffer(row.b_ids, dtype=np.int64)
                A = np.frombuffer(row.a_mat, dtype=np.float64).reshape(row.a_n, row.a_dim)
                B = np.frombuffer(row.b_mat, dtype=np.float64).reshape(row.b_n, row.b_dim)
                an = np.linalg.norm(A, axis=1)
                bn = np.linalg.norm(B, axis=1)
                sim = np.round((A @ B.T) / np.outer(an, bn), 6)
                i, j = np.nonzero(sim >= tau)
                if row.a_blk == row.b_blk:
                    keep = ai[i] < bi[j]
                else:
                    keep = ai[i] != bi[j]
                i, j = i[keep], j[keep]
                id1 = np.minimum(ai[i], bi[j])
                id2 = np.maximum(ai[i], bi[j])
                out1.append(id1)
                out2.append(id2)
                outs.append(sim[i, j])
            yield pd.DataFrame(
                {
                    "id1": np.concatenate(out1) if out1 else np.array([], dtype=np.int64),
                    "id2": np.concatenate(out2) if out2 else np.array([], dtype=np.int64),
                    "sim": np.concatenate(outs) if outs else np.array([], dtype=np.float64),
                }
            )

    return pairs.mapInPandas(gemm, schema="id1 long, id2 long, sim double")


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its max-cosine centroid (IVF cell build)."""
    c = corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    cen = centroids.select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
    scored = c.crossJoin(F.broadcast(cen)).withColumn(
        "sim", F.round(cosine_col(F.col("v"), F.col("cv")), 6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


def ivf_search(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-probed approximate top-k search — the ANN *scale path*: each
    query scores only the vectors assigned to its ``nprobe``
    nearest cells instead of the whole corpus (brute-force
    :func:`cosine_topk` is the exactness baseline).

    Fully deterministic (every ranking keys on (sim DESC, id ASC)), so
    a SQL oracle reproduces the identical probe→score→top-k pipeline.
    At 10^9 vectors the corpus side stays partitioned by cell — the
    cell equi-join replaces the all-pairs broadcast entirely."""
    assign = ivf_assign(corpus, centroids)
    c = corpus.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("c_vec")
    ).join(assign, "vec_id")
    cen = centroids.select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv")
    )
    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    probes = q.crossJoin(F.broadcast(cen)).withColumn(
        "psim", F.round(cosine_col(F.col("q_vec"), F.col("cv")), 6)
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("psim"), F.asc("centroid_id"))
    probed = (
        probes.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("q_id", "q_vec", "centroid_id")
    )
    scored = (
        probed.join(c, "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("sim", F.round(cosine_col(F.col("q_vec"), F.col("c_vec")), 6))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "sim")
    )

def cell_means(assigned: DataFrame) -> DataFrame:
    """Per-cell vector mean, array-native: ONE embedding column end to
    end, never ``dim`` separate ``avg(embedding[i])`` aggregates.

    Two stages, mirroring Spark's own partial/final agg split:
    (1) ``mapInPandas`` folds each Arrow batch into per-cell partial
    (sum-vector, count) rows with a single numpy scatter-add — the
    explicit map-side combine, so the shuffle carries at most
    partitions×cells rows, not the corpus; (2) a ``groupBy(cell)``
    ``applyInPandas`` adds the partials. Input (centroid_id, embedding);
    output (cell, mean, n).
    """

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            cid = pdf["centroid_id"].to_numpy()
            uniq, inv = np.unique(cid, return_inverse=True)
            sums = np.zeros((len(uniq), M.shape[1]))
            np.add.at(sums, inv, M)
            yield pd.DataFrame(
                {"cell": uniq, "psum": list(sums), "pn": np.bincount(inv)}
            )

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        S = np.stack([np.asarray(v) for v in pdf["psum"]]).sum(axis=0)
        n = int(pdf["pn"].sum())
        return pd.DataFrame(
            {"cell": pdf["cell"].iloc[:1], "mean": [S / n], "n": [n]}
        )

    part = assigned.select(F.col("centroid_id"), F.col("embedding")).mapInPandas(
        partials, schema="cell long, psum array<double>, pn long"
    )
    return part.groupBy("cell").applyInPandas(
        combine, schema="cell long, mean array<double>, n long"
    )


def _hash_frac(col, salt: int):
    """Deterministic pseudo-uniform in [0,1) from an id column — the
    sampling coin for k-means|| (Date/random are banned in this repo's
    deterministic plans)."""
    return (F.abs(F.xxhash64(col, F.lit(salt))) / F.lit(float(1 << 63)))


def kmeans_parallel_init(corpus: DataFrame, k: int) -> list:
    """k-means|| seeding (Bahmani et al., VLDB'12) under cosine,
    deterministic: start from the min-id vector; each of two rounds samples
    points with probability l·cost(x)/Σcost (l = 2k, coin =
    hash(id, round)); the oversampled candidate set is weighted by a
    distributed nearest-candidate count and reduced to k driver-side
    with greedy farthest-point selection (the deterministic stand-in
    for weighted k-means++). Only O(k·rounds) vectors ever reach the
    driver."""
    c = corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    first = c.orderBy("vec_id").limit(1).collect()[0]
    cands = [(int(first["vec_id"]), [float(x) for x in first["v"]])]
    ell = 2.0 * k

    def costs(cvecs: list) -> DataFrame:
        # numpy matmul per Arrow batch against the (small) candidate
        # matrix — closure-shipped, no dim-sized literal trees in the plan
        C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cvecs])
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

        def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                Mn = M / np.maximum(
                    np.linalg.norm(M, axis=1, keepdims=True), 1e-12
                )
                best = np.round((Mn @ Cn.T).max(axis=1), 6)
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "v": pdf["v"],
                     "cost": 1.0 - best}
                )

        return c.mapInPandas(
            score, schema="vec_id long, v array<double>, cost double"
        )

    for r in range(2):
        with_cost = costs(cands)
        total = with_cost.agg(F.sum("cost")).collect()[0][0] or 0.0
        if total <= 0:
            break
        picked = (
            with_cost.filter(
                _hash_frac(F.col("vec_id"), r) < F.col("cost") * ell / total
            )
            .select("vec_id", "v")
            .collect()
        )
        seen = {i for i, _ in cands}
        for row in picked:
            if row["vec_id"] not in seen:
                cands.append((int(row["vec_id"]), [float(x) for x in row["v"]]))
                seen.add(row["vec_id"])

    if len(cands) <= k:
        # not enough candidates — pad with smallest ids (deterministic)
        pad = c.orderBy("vec_id").limit(k + len(cands)).collect()
        seen = {i for i, _ in cands}
        for row in pad:
            if len(cands) >= k:
                break
            if row["vec_id"] not in seen:
                cands.append((int(row["vec_id"]), [float(x) for x in row["v"]]))
        return [v for _, v in cands[:k]]

    # weight candidates by nearest-candidate population (distributed)
    spark = corpus.sparkSession
    cand_df = spark.createDataFrame(
        [(i, v) for i, (_, v) in enumerate(cands)],
        "vec_id long, embedding array<double>",
    )
    w = {
        r["centroid_id"]: r["count"]
        for r in ivf_assign(c.withColumnRenamed("v", "embedding"), cand_df)
        .groupBy("centroid_id").count().collect()
    }
    vecs = [np.asarray(v, dtype=np.float64) for _, v in cands]
    weights = np.array([w.get(i, 0) for i in range(len(vecs))], dtype=np.float64)
    # greedy weighted farthest-point: start at the heaviest candidate
    chosen = [int(np.argmax(weights))]
    V = np.stack(vecs)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
    while len(chosen) < k:
        sims = Vn @ Vn[chosen].T            # candidates × chosen
        cost = (1.0 - sims.max(axis=1)) * weights
        cost[chosen] = -1.0
        chosen.append(int(np.argmax(cost)))
    return [vecs[i].tolist() for i in chosen]


def train_ivf_centroids(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    init: str = "smallest_ids",
) -> DataFrame:
    """IVF centroid training: Lloyd's iterations under the cosine
    metric (assignment via the same :func:`ivf_assign` used at search
    time, so train and serve agree on ties).

    Scale shape: the corpus-side work per iteration is ONE broadcast
    crossJoin (k centroids, always tiny) + :func:`cell_means` — a
    single array-column partial/final mean (numpy scatter-add per Arrow
    batch, then a k-row combine), so a dim-768 corpus plans ONE
    embedding aggregate, not 768. Only the k×dim centroid table ever
    reaches the driver (collected each iteration to cut the lineage,
    exactly like MLlib's implementation). Cell means are deterministic
    up to float aggregation order (cosine assignment is
    scale-invariant, so means need no re-normalization).

    ``init``: "smallest_ids" (deterministic, test-friendly) or
    "kmeans||" (:func:`kmeans_parallel_init` — hash-deterministic
    Bahmani seeding, the production-quality choice).

    Empty cells keep their previous centroid (no NaN centroids, stable
    k). Returns a DataFrame (vec_id, embedding) shaped like the
    ``centroids`` input of :func:`ivf_assign` / :func:`ivf_search`.
    """
    spark = corpus.sparkSession
    c = corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))

    if init == "kmeans||":
        seed_vecs = kmeans_parallel_init(corpus, k)
        cents = list(enumerate(seed_vecs))
    else:
        rows = c.orderBy("vec_id").limit(k).collect()
        cents = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(rows)]

    for _ in range(iters):
        cen_df = spark.createDataFrame(
            cents, "vec_id long, embedding array<double>"
        )
        assign = ivf_assign(c.withColumnRenamed("v", "embedding"), cen_df)
        means = cell_means(
            c.withColumnRenamed("v", "embedding").join(assign, "vec_id")
        ).collect()
        new = {r["cell"]: [float(x) for x in r["mean"]] for r in means}
        cents = [(cid, new.get(cid, vec)) for cid, vec in cents]

    return spark.createDataFrame(cents, "vec_id long, embedding array<double>")

SRP_PLANES = 16  # signature bits (at most 62)
SRP_BANDS = 4
SRP_SEED = 42


def hyperplane_signatures(corpus: DataFrame) -> DataFrame:
    """Random-hyperplane (SRP) LSH signatures: bit p of the signature
    is sign(v · h_p) for ``SRP_PLANES`` fixed Gaussian hyperplanes
    (seeded, identical on every executor and across runs). Computed as
    one Arrow-batched numpy matmul per batch — no per-row Python, no
    shuffle. P(bit agrees) = 1 − θ/π, so near-duplicate vectors share
    most bits."""
    dim = len(corpus.select("embedding").first()[0])
    planes = np.random.RandomState(SRP_SEED).standard_normal((SRP_PLANES, dim))
    weights = (1 << np.arange(SRP_PLANES, dtype=np.int64))

    c = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.col("embedding").alias("v")
    )

    def sign_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            M = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            if len(M) == 0:
                yield pd.DataFrame({"vec_id": [], "sig": []})
                continue
            bits = (M @ planes.T) >= 0.0
            sig = bits.astype(np.int64) @ weights
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "sig": sig})

    return c.mapInPandas(sign_bits, schema="vec_id long, sig long")


def embedding_near_dups_lsh(corpus: DataFrame, tau: float = 0.9) -> DataFrame:
    """APPROXIMATE embedding near-dup pairs — the sub-quadratic scale
    path for 10^9-vector corpora (exact :func:`embedding_near_dups` is
    the oracle/verification-scale twin). Pipeline: SRP signatures →
    band into ``SRP_BANDS`` chunks (pairs agreeing on ≥1 whole band
    become candidates via bucket equi-join — work scales with bucket
    sizes, never O(n²)) → EXACT cosine verify ≥ tau, so false
    positives cost only verify work and every reported pair is truly
    ≥ tau; recall is the banded-LSH probability (high for the
    near-duplicate regime tau ≥ ~0.8 where θ is small). Buckets wider
    than ``DEFAULT_MAX_BUCKET`` are capped (boilerplate embedding
    clusters — see ``dedup.cap_bucket_width``)."""
    bands = _srp_bands(hyperplane_signatures(corpus))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_val"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2")
        )
        .distinct()
    )
    v1 = corpus.select(
        F.col("vec_id").cast("long").alias("id1"), F.col("embedding").alias("v1")
    )
    v2 = corpus.select(
        F.col("vec_id").cast("long").alias("id2"), F.col("embedding").alias("v2")
    )
    return (
        cand.join(v1, "id1")
        .join(v2, "id2")
        .withColumn("sim", F.round(cosine_col(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("sim") >= tau)
        .select("id1", "id2", "sim")
    )


def _srp_bands(sigs):
    """(vec_id, band, band_val) from SRP signatures."""
    from sandcrawler_spark.operators.dedup import cap_bucket_width

    width = -(-SRP_PLANES // SRP_BANDS)  # ceil
    bands = sigs.select(
        "vec_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).cast("int").alias("band"),
                    F.expr(
                        f"shiftright(sig, {b * width}) & {(1 << width) - 1}"
                    ).alias("band_val"),
                )
                for b in range(SRP_BANDS)
            ])
        ).alias("bk"),
    ).select("vec_id", "bk.band", "bk.band_val")
    return cap_bucket_width(bands, ["band", "band_val"], DEFAULT_MAX_BUCKET)


# ------------------------------------------------------------------ IVF-PQ
# Product quantization (Jégou et al., TPAMI'11): split each vector into
# m subvectors, vector-quantize each subspace against its own k-entry
# codebook, and search with asymmetric distance computation (ADC) —
# per query one m×k lookup table, then each database vector costs m
# table lookups instead of a dim-length dot product. At 10^9 vectors
# the PQ codes (m bytes/vector at k≤256) are the only corpus-sized
# state; codebooks are k·dim floats and live comfortably in every
# executor's closure.


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 4,
) -> list:
    """PQ codebook training: per-subspace Lloyd's under L2, all ``m``
    subspaces trained in ONE distributed pass per iteration.

    Each iteration maps the corpus once (per Arrow batch: GEMM argmin
    against every subspace codebook + numpy scatter-add of per-(sub,
    code) partial sums — the explicit map-side combine), then a
    ``groupBy(sub, code)`` combine; only the m×k×(dim/m) = k×dim float
    codebook ever reaches the driver. Deterministic: init from the k
    smallest-id vectors' subvectors, argmin ties break to the lowest
    code id, empty cells keep their previous centroid.

    Returns ``codebooks[m][k][dim//m]`` (plain nested lists, safe to
    closure-ship to :func:`pq_encode` / :func:`pq_search`)."""
    c = corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v"))
    seed_rows = c.orderBy("vec_id").limit(k).collect()
    seed = np.array([np.asarray(r["v"], dtype=np.float64) for r in seed_rows])
    dim = seed.shape[1]
    assert dim % m == 0, f"dim {dim} not divisible by m {m}"
    dsub = dim // m
    books = np.stack([seed[:, j * dsub:(j + 1) * dsub] for j in range(m)])

    for _ in range(iters):
        B = books.copy()

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
                subs, codes, sums, counts = [], [], [], []
                for j in range(m):
                    X = M[:, j * dsub:(j + 1) * dsub]
                    # ‖x-c‖² = ‖x‖² - 2x·c + ‖c‖²; ‖x‖² is constant per
                    # row, so argmin needs only the GEMM term + ‖c‖²
                    d2 = -2.0 * (X @ B[j].T) + (B[j] ** 2).sum(axis=1)
                    code = d2.argmin(axis=1)
                    uniq, inv = np.unique(code, return_inverse=True)
                    s = np.zeros((len(uniq), dsub))
                    np.add.at(s, inv, X)
                    subs.extend([j] * len(uniq))
                    codes.extend(uniq.tolist())
                    sums.extend(list(s))
                    counts.extend(np.bincount(inv).tolist())
                yield pd.DataFrame(
                    {"sub": subs, "code": codes, "psum": sums, "pn": counts}
                )

        def combine(pdf: pd.DataFrame) -> pd.DataFrame:
            S = np.stack([np.asarray(v) for v in pdf["psum"]]).sum(axis=0)
            n = int(pdf["pn"].sum())
            return pd.DataFrame(
                {"sub": pdf["sub"].iloc[:1], "code": pdf["code"].iloc[:1],
                 "mean": [S / n], "n": [n]}
            )

        part = c.mapInPandas(
            partials, schema="sub int, code int, psum array<double>, pn long"
        )
        rows = part.groupBy("sub", "code").applyInPandas(
            combine, schema="sub int, code int, mean array<double>, n long"
        ).collect()
        for r in rows:
            books[int(r["sub"]), int(r["code"])] = np.asarray(r["mean"])

    return [[list(map(float, code)) for code in book] for book in books]


def pq_encode(corpus: DataFrame, codebooks: list) -> DataFrame:
    """Encode each vector as its ``m`` nearest-code ids (one Arrow-batched
    GEMM argmin per subspace; ties to the lowest code id). Output
    (vec_id, codes array<int>) — the m-byte-per-vector corpus state."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = B.shape

    c = corpus.select(
        F.col("vec_id").cast("long").alias("vec_id"), F.col("embedding").alias("v")
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "codes": []})
                continue
            M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            out = np.empty((len(M), m), dtype=np.int32)
            for j in range(m):
                X = M[:, j * dsub:(j + 1) * dsub]
                d2 = -2.0 * (X @ B[j].T) + (B[j] ** 2).sum(axis=1)
                out[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": list(out)})

    return c.mapInPandas(enc, schema="vec_id long, codes array<int>")


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list,
    k: int = 5,
) -> DataFrame:
    """ADC top-k over PQ codes: per Arrow batch, each query builds one
    m×k table of subspace partial distances (‖q_sub − c‖²), then every
    code row costs m lookups + a sum — no decode, no dim-length dot
    product, no join (queries ride the closure, the codes scan stays
    linear). Per-batch top-k then one global top-k window, the same
    two-phase merge as :func:`cosine_topk`; total order
    (adc_dist ASC, vec_id ASC) so results are parallelism-independent.
    Self-matches (vec_id == q_id) are excluded like the other searches."""
    B = np.asarray(codebooks, dtype=np.float64)  # (m, k, dsub)
    m, _, dsub = B.shape
    q_rows = queries.select(
        F.col("vec_id").cast("long").alias("q_id"), F.col("embedding").alias("qv")
    ).collect()
    q_ids = np.array([r["q_id"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    # LUT[q, j, code] = ‖q_sub − B[j][code]‖²
    lut = np.stack([
        ((Q[:, j * dsub:(j + 1) * dsub][:, None, :] - B[j][None, :, :]) ** 2
         ).sum(axis=2)
        for j in range(m)
    ], axis=1)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            C = np.stack([np.asarray(v) for v in pdf["codes"]])  # (n, m)
            # dist[q, i] = Σ_j lut[q, j, C[i, j]]
            d = np.zeros((len(q_ids), len(ids)))
            for j in range(m):
                d += lut[:, j, :][:, C[:, j]]
            d = np.round(d, 6)
            top = min(k + 1, len(ids))  # +1 absorbs a possible self-match
            # Per-batch prune must use the SAME total order as the global
            # window — (adc_dist, vec_id) — or ties straddling the cutoff
            # get dropped arbitrarily (PQ codes collide, so exact distance
            # ties are the common case, not the corner case).
            part = np.stack([
                np.lexsort((ids, d[q]))[:top] for q in range(len(q_ids))
            ])
            qi = np.repeat(np.arange(len(q_ids)), top)
            vi = part.ravel()
            yield pd.DataFrame(
                {"q_id": q_ids[qi], "vec_id": ids[vi],
                 "adc_dist": d[qi, vi]}
            )

    scored = codes.mapInPandas(
        score, schema="q_id long, vec_id long, adc_dist double"
    ).filter(F.col("vec_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "adc_dist")
    )


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    tau: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): semantic
    deduplication by clustering embeddings and pruning near-identical
    pairs WITHIN each cluster — the sub-quadratic path to semantic
    dedup at corpus scale, because the pairwise stage only ever runs
    inside a cell.

    Keep rule (the paper's cheap deterministic variant): drop a vector
    iff a SMALLER-id vector in the same cell has cosine ≥ tau with it.
    Returns ``(vec_id, centroid_id, keep)`` for every corpus vector.

    Scale shape: assignment is the broadcast-centroid
    :func:`ivf_assign`; the within-cell self-join is an equi-join on
    ``centroid_id`` (skewed mega-cells are the known failure mode —
    split them by training more centroids, exactly the paper's k
    scaling knob).
    """
    assign = ivf_assign(corpus, centroids)
    v = corpus.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v")
    ).join(assign, "vec_id")
    a = v.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"), "centroid_id")
    b = v.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"), "centroid_id")
    dups = (
        a.join(b, "centroid_id")
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("sim", F.round(cosine_col(F.col("v1"), F.col("v2")), 6))
        .filter(F.col("sim") >= tau)
        .select(F.col("id2").alias("vec_id"))
        .distinct()
    )
    return v.join(dups.withColumn("__dup", F.lit(True)), "vec_id", "left").select(
        "vec_id", "centroid_id", F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep")
    )
