"""Multimodal pipeline stages: resize, frame-sample, audio-segment,
PDF extract.

Codecs are stubbed (deterministic hash-derived fakes — this container
has no image/video libs); what these tests pin down is the REAL Spark
plumbing: schemas, Arrow batch fan-out, determinism across runs, and
composition with the ANN operators downstream.
"""

import hashlib

import pytest

from sandcrawler_spark.operators.media import (
    decode_image,
    resize_image,
    resize_images,
    sample_frames,
    segment_audio,
)


def _blob_df(spark, n=6):
    rows = [(f"d{i}", bytes([i]) * (50 + i)) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id string, blob binary")


def test_resize_images_caps_dims_and_is_deterministic(spark):
    df = _blob_df(spark)
    out = {r["doc_id"]: r for r in resize_images(df, "doc_id", "blob", max_dim=100).collect()}
    assert len(out) == 6
    for i in range(6):
        blob = bytes([i]) * (50 + i)
        w, h = decode_image(blob, fake=True)
        r = out[f"d{i}"]
        assert max(r["width"], r["height"]) <= 100
        # aspect preserved by the scalar kernel
        assert (r["width"], r["height"], bytes(r["thumb"])) == resize_image(blob, 100, fake=True)
    # second run byte-identical (stable stand-in codec)
    again = {r["doc_id"]: bytes(r["thumb"]) for r in resize_images(df, "doc_id", "blob", max_dim=100).collect()}
    assert again == {k: bytes(v["thumb"]) for k, v in out.items()}


def test_sample_frames_fanout_inside_batch(spark):
    df = _blob_df(spark, n=4)
    got = sample_frames(df, "doc_id", "blob", fps=0.5, max_frames=5).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {f"d{i}" for i in range(4)}
    for doc_id, frames in by_doc.items():
        blob = next(bytes([i]) * (50 + i) for i in range(4) if f"d{i}" == doc_id)
        duration = 1.0 + hashlib.md5(blob).digest()[2]
        expect_n = min(5, max(1, int(duration * 0.5)))
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(expect_n))
        # timestamps follow the sampling rate; frames are distinct
        for f in frames:
            assert f["t_sec"] == pytest.approx(f["frame_idx"] / 0.5)
        assert len({bytes(f["frame"]) for f in frames}) == len(frames)


def test_segment_audio_overlapping_windows(spark):
    df = _blob_df(spark, n=4)
    got = segment_audio(
        df, "doc_id", "blob", window_s=4.0, hop_s=2.0, max_segments=6
    ).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {f"d{i}" for i in range(4)}
    for doc_id, segs in by_doc.items():
        blob = next(bytes([i]) * (50 + i) for i in range(4) if f"d{i}" == doc_id)
        duration = 1.0 + hashlib.md5(blob).digest()[3]
        expect_n = min(6, max(1, int((duration - 4.0) / 2.0) + 1))
        segs.sort(key=lambda r: r["seg_idx"])
        assert [s["seg_idx"] for s in segs] == list(range(expect_n))
        for s in segs:
            # hop spacing, window length capped by duration, 2s overlap
            assert s["t_start"] == pytest.approx(s["seg_idx"] * 2.0)
            assert s["t_end"] == pytest.approx(
                min(s["t_start"] + 4.0, duration)
            )
        # consecutive windows overlap (hop < window) and payloads differ
        assert len({bytes(s["segment"]) for s in segs}) == len(segs)
        for a, b in zip(segs, segs[1:]):
            assert b["t_start"] < a["t_end"]


def test_real_codec_paths_are_gated():
    with pytest.raises(NotImplementedError):
        resize_image(b"x", 100, fake=False)
    with pytest.raises(NotImplementedError):
        decode_image(b"x", fake=False)


def test_train_ivf_centroids_separated_clusters(spark):
    """Lloyd's under cosine: on well-separated clusters (interleaved
    ids so the deterministic init seeds one point per cluster) training
    recovers one centroid per cluster, assignments match ground truth,
    and the trained centroids slot straight into ivf_search."""
    from sandcrawler_spark.operators.similarity import (
        ivf_assign,
        ivf_search,
        train_ivf_centroids,
    )

    rows = []
    for i in range(30):
        cl = i % 3
        v = [0.05 * ((i * 7 + d) % 5) for d in range(4)]  # small jitter
        v[cl] += 3.0  # dominant axis per cluster
        rows.append((i, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = train_ivf_centroids(corpus, k=3, iters=3)
    got = {r["vec_id"]: r["embedding"] for r in cents.collect()}
    assert len(got) == 3
    # each centroid points along exactly one cluster axis
    axes = sorted(max(range(4), key=lambda d: c[d]) for c in got.values())
    assert axes == [0, 1, 2]

    assign = {r["vec_id"]: r["centroid_id"]
              for r in ivf_assign(corpus, cents).collect()}
    for i in range(30):
        # all members of a cluster share a centroid, and it's the one
        # whose dominant axis matches
        peer = assign[i % 3]
        assert assign[i] == peer
        assert max(range(4), key=lambda d: got[assign[i]][d]) == i % 3

    # trained centroids drive the probed search end-to-end
    queries = corpus.filter("vec_id < 3")
    top = ivf_search(corpus, queries, cents, k=2, nprobe=1).collect()
    assert len(top) == 6
    for r in top:
        assert r["vec_id"] % 3 == r["q_id"] % 3  # neighbors from own cluster


def test_embedding_near_dups_lsh_vs_exact(spark):
    """SRP-banded LSH near-dup path: every reported pair is exact-
    verified (subset of the exact blocked-GEMM answer at the same tau)
    and recall is total in the near-duplicate regime this operator
    targets (clusters of vectors at cosine ≈ 0.99)."""
    import math
    import random

    from sandcrawler_spark.operators.similarity import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )

    rng = random.Random(7)
    rows = []
    vid = 0
    for c in range(6):  # 6 well-spread base directions, 3 near-copies each
        base = [rng.gauss(0, 1) for _ in range(12)]
        n = math.sqrt(sum(x * x for x in base))
        base = [x / n for x in base]
        for _ in range(3):
            jit = [x + rng.gauss(0, 0.01) for x in base]
            jn = math.sqrt(sum(x * x for x in jit))
            rows.append((vid, [x / jn for x in jit]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id1"], r["id2"]): r["sim"]
        for r in embedding_near_dups(corpus, tau=0.9).collect()
    }
    approx = {
        (r["id1"], r["id2"]): r["sim"]
        for r in embedding_near_dups_lsh(corpus, tau=0.9).collect()
    }
    # 6 clusters x C(3,2) intra-cluster pairs = 18 true near-dups
    assert len(exact) == 18
    # precision 1: every LSH pair is exact-verified, sims identical
    for pair, sim in approx.items():
        assert exact[pair] == sim
    # recall in the near-dup regime: banding keeps every true pair here
    assert set(approx) == set(exact)


def test_hot_bucket_cap_bounds_boilerplate(spark):
    """max_bucket drops oversized LSH buckets (boilerplate clusters)
    while keeping ordinary near-dup pairs; the generous default
    (DEFAULT_MAX_BUCKET=10k) is value-neutral at this scale."""
    from sandcrawler_spark.operators.dedup import minhash_near_dups

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(12)]  # hot bucket: 12 identical docs
    rows += [
        (100, "completely different article about spark shuffle planning"),
        (101, "completely different article about spark shuffle planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {(r["id1"], r["id2"])
             for r in minhash_near_dups(df, "doc_id", "text").collect()}
    assert (100, 101) in exact
    assert sum(1 for a, b in exact if a < 100 and b < 100) == 66  # 12C2

    capped = {(r["id1"], r["id2"])
              for r in minhash_near_dups(df, "doc_id", "text",
                                         max_bucket=5).collect()}
    assert (100, 101) in capped            # small buckets untouched
    assert not any(a < 100 for a, b in capped)  # hot cluster dropped


def test_cap_observation_registry_thread_local_and_bounded(spark):
    """Round-5 advisory fix: the cap-observation registry is scoped per
    THREAD (concurrent callers cannot drain each other's metrics) and
    bounded at _CAP_OBS_MAXLEN with a counted drop."""
    import threading

    from sandcrawler_spark.operators import dedup as dd

    dd.pop_cap_observations()
    df = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (2, "aaa bbb ccc")], "doc_id long, text string"
    )
    dd.minhash_near_dups(df, "doc_id", "text").count()
    assert dd.pop_cap_observations()  # this thread sees its own entries

    # a registration made on another thread is invisible here
    seen_elsewhere = []

    def other():
        dd.minhash_near_dups(df, "doc_id", "text").count()
        seen_elsewhere.append(len(dd.pop_cap_observations()))

    t = threading.Thread(target=other)
    t.start()
    t.join()
    assert seen_elsewhere and seen_elsewhere[0] > 0
    assert dd.pop_cap_observations() == []  # nothing leaked across threads

    # bound: overfill the registry without draining; oldest entries drop
    st = dd._cap_obs_state()
    st["obs"].extend(("x", None) for _ in range(dd._CAP_OBS_MAXLEN))
    dd.cap_bucket_width(df.selectExpr("doc_id AS band"), ["band"], 1)
    assert len(st["obs"]) == dd._CAP_OBS_MAXLEN
    assert dd.cap_observations_dropped() == 1
    dd.pop_cap_observations()
    assert dd.cap_observations_dropped() == 0


def test_hot_bucket_cap_default_on_and_observed(spark):
    """Round-4 skew default: every banded operator caps hot buckets at
    DEFAULT_MAX_BUCKET unless explicitly opted out, and the capped
    bucket/row counts are surfaced through pop_cap_observations (no
    silent truncation)."""
    import inspect

    from sandcrawler_spark.operators import dedup
    from sandcrawler_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        minhash_near_dups,
        pop_cap_observations,
    )

    # (embedding_near_dups_lsh has no opt-out: its SRP bands always cap
    # at DEFAULT_MAX_BUCKET)
    for fn in (
        dedup.minhash_near_dups, dedup.minhash_probe_index,
        dedup.simhash_near_dups, dedup.simhash_probe_index,
    ):
        assert (
            inspect.signature(fn).parameters["max_bucket"].default
            == DEFAULT_MAX_BUCKET
        ), fn.__name__

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, boiler) for i in range(12)]
    rows += [
        (100, "completely different article about spark shuffle planning"),
        (101, "completely different article about spark shuffle planning"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pop_cap_observations()  # drain anything earlier tests registered
    pairs = {(r["id1"], r["id2"])
             for r in minhash_near_dups(df, "doc_id", "text",
                                        max_bucket=5).collect()}
    assert not any(a < 100 for a, b in pairs)
    obs = pop_cap_observations()
    assert obs, "cap registered no observation"
    metrics = [o.get for _, o in obs]
    # 4 bands x 1 hot bucket of 12 identical docs each
    assert sum(m["buckets_capped"] for m in metrics) == 4
    assert sum(m["rows_capped"] for m in metrics) == 48
    assert max(m["widest_bucket"] for m in metrics) == 12
    assert not pop_cap_observations()  # drained


def test_cell_means_array_native(spark):
    """cell_means plans ONE embedding aggregate (no per-dimension
    avg(embedding[i]) fan) and computes exact per-cell means at a
    real embedding dimensionality (256)."""
    from sandcrawler_spark.operators.similarity import cell_means

    dim, n = 256, 60
    rows = [(i % 3, [float(i % 3) + 0.001 * d for d in range(dim)])
            for i in range(n)]
    df = spark.createDataFrame(rows, "centroid_id long, embedding array<double>")

    out = cell_means(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "embedding[" not in plan  # the r2 per-dim agg fan is gone
    got = {r["cell"]: (r["mean"], r["n"]) for r in out.collect()}
    assert set(got) == {0, 1, 2}
    for cell, (mean, cnt) in got.items():
        assert cnt == n // 3
        expect = [float(cell) + 0.001 * d for d in range(dim)]
        assert all(abs(a - b) < 1e-9 for a, b in zip(mean, expect))


def test_train_ivf_dim256_and_kmeans_par(spark):
    """Training at dim 256 with k-means|| seeding recovers the three
    orthogonal clusters — and never builds a per-dimension agg plan."""
    from sandcrawler_spark.operators.similarity import (
        ivf_assign,
        train_ivf_centroids,
    )

    dim = 256
    rows = []
    for i in range(45):
        cl = i % 3
        v = [0.01 * ((i * 13 + d) % 7) for d in range(dim)]
        v[cl * 80] += 5.0  # one dominant axis per cluster
        rows.append((i, v))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    for init in ("smallest_ids", "kmeans||"):
        cents = train_ivf_centroids(corpus, k=3, iters=2, init=init)
        got = {r["vec_id"]: r["embedding"] for r in cents.collect()}
        assert len(got) == 3
        axes = sorted(max(range(dim), key=lambda d: c[d]) for c in got.values())
        assert axes == [0, 80, 160], init
        assign = {r["vec_id"]: r["centroid_id"]
                  for r in ivf_assign(corpus, cents).collect()}
        for i in range(45):
            assert assign[i] == assign[i % 3], init


def test_process_pdfs_interleaved(spark):
    """process_pdf semantics (pdfextract.py:296-444): status ladder,
    sha1-keyed text+thumbnail interleave, honest stub gating, and the
    1 MB text cap."""
    import hashlib

    from sandcrawler_spark.operators.media import (
        PDF_TEXT_MAX_CHARS,
        process_pdf_bytes,
        process_pdfs,
    )

    # scalar kernel: stub gating + text-too-large path
    with pytest.raises(NotImplementedError):
        process_pdf_bytes(b"%PDF-1.4\nbody", fake=False)
    big = b"%PDF-1.4\n" + b"x" * (PDF_TEXT_MAX_CHARS + 1)
    r = process_pdf_bytes(big, fake=True)
    assert r["status"] == "text-too-large" and r["text"] is None

    rows = [
        (1, b"%PDF-1.4\nhello pdf body"),   # success
        (2, b"just some plain text"),        # not-pdf
        (3, b"%PDF-1.7\n  \n"),              # empty-pdf
    ]
    df = spark.createDataFrame(rows, "doc_id long, blob binary")
    out = process_pdfs(df, "doc_id", "blob").persist()
    by_id = {r["doc_id"]: r for r in out.collect()}

    ok = by_id["1"]
    assert ok["status"] == "success"
    assert ok["text"] == "hello pdf body"
    assert ok["sha1hex"] == hashlib.sha1(rows[0][1]).hexdigest()
    assert ok["has_page0_thumbnail"] and len(ok["page0_thumbnail"]) == 32
    assert 1 <= ok["page_count"] <= 12
    assert by_id["2"]["status"] == "not-pdf"
    assert by_id["2"]["error_msg"].startswith("mimetype is")
    assert by_id["3"]["status"] == "empty-pdf"

    out.unpersist()


def test_sniff_container_col_goldens(spark):
    """Magic-byte container sniff goldens, including signatures the
    med_sniff battery's doc_id%10 rotation doesn't reach (flac, avi,
    pdf, gzip, mp3 frame-sync) and the truncated/unknown fallbacks."""
    from sandcrawler_spark.operators.media import sniff_container_col

    cases = [
        ("png", b"\x89PNG\r\n\x1a\x0a" + b"x" * 20, "image/png"),
        ("jpeg", b"\xff\xd8\xff\xe0payload", "image/jpeg"),
        ("wav", b"RIFF\x24\x00\x00\x00WAVEfmt ", "audio/x-wav"),
        ("webp", b"RIFF\x24\x00\x00\x00WEBPVP8 ", "image/webp"),
        ("avi", b"RIFF\x24\x00\x00\x00AVI LIST", "video/x-msvideo"),
        ("mp4", b"\x00\x00\x00\x18ftypisomiso2", "video/mp4"),
        ("m4a", b"\x00\x00\x00\x18ftypM4A mp42", "audio/mp4"),
        ("mkv", b"\x1a\x45\xdf\xa3data", "video/webm"),
        ("ogg", b"OggS\x00\x02rest", "audio/ogg"),
        ("mp3_id3", b"ID3\x04\x00rest", "audio/mpeg"),
        ("mp3_sync", b"\xff\xfb\x90\x44rest", "audio/mpeg"),
        ("flac", b"fLaC\x00\x00\x00\x22", "audio/flac"),
        ("pdf", b"%PDF-1.7\n", "application/pdf"),
        ("gz", b"\x1f\x8b\x08\x00", "application/gzip"),
        ("short", b"\x89P", "application/octet-stream"),
        ("unknown", b"hello world bytes", "application/octet-stream"),
        ("riff_other", b"RIFF\x24\x00\x00\x00ACON", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        [(n, bytearray(b)) for n, b, _ in cases], ["name", "blob"]
    )
    got = {
        r["name"]: r["mime"]
        for r in df.select(
            "name", sniff_container_col("blob").alias("mime")
        ).collect()
    }
    for name, _, want in cases:
        assert got[name] == want, f"{name}: {got[name]} != {want}"


def _pq_corpus(spark, n_per=20, dim=16, clusters=4, noise=0.05):
    """Deterministic clustered embeddings (hash-free: index arithmetic)."""
    import numpy as np

    rs = np.random.RandomState(7)
    centers = rs.standard_normal((clusters, dim)) * 3.0
    rows = []
    vid = 0
    for ci in range(clusters):
        for _ in range(n_per):
            v = centers[ci] + rs.standard_normal(dim) * noise
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_train_encode_deterministic(spark):
    """Codebook shape, cross-parallelism determinism of codes, and the
    lossless case: k codes >= distinct subvectors => zero ADC error."""
    import numpy as np

    from sandcrawler_spark.operators.similarity import (
        pq_encode,
        pq_search,
        train_pq_codebooks,
    )

    rows, df = _pq_corpus(spark, n_per=20, clusters=4, noise=0.0)  # 4 exact points
    books = train_pq_codebooks(df, m=4, k=4, iters=3)
    assert len(books) == 4 and len(books[0]) == 4 and len(books[0][0]) == 4

    codes1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    codes8 = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(df.repartition(8), books).collect()
    }
    assert codes1 == codes8

    # noise=0: every vector IS its cluster center, so after Lloyd's the
    # 4-entry codebooks reproduce the 4 distinct subvectors exactly and
    # ADC distance == true squared L2 (0 for same-cluster neighbors)
    q = df.filter("vec_id = 0")
    got = pq_search(q, pq_encode(df, books), books, k=3).collect()
    assert len(got) == 3
    assert all(abs(r["adc_dist"]) < 1e-9 for r in got)
    assert all(1 <= r["vec_id"] <= 19 for r in got)  # same-cluster ids


def test_pq_search_cluster_precision(spark):
    """What ADC guarantees on clustered data: every top-k neighbor is a
    same-cluster member (quantization collapses intra-cluster ranking —
    same-cluster points share codes — so exact-rank recall@k is NOT the
    right assertion; cluster precision and the inter/intra distance gap
    are)."""
    import numpy as np

    from sandcrawler_spark.operators.similarity import (
        pq_encode,
        pq_search,
        train_pq_codebooks,
    )

    rows, df = _pq_corpus(spark, n_per=20, clusters=4, noise=0.05)
    books = train_pq_codebooks(df, m=4, k=8, iters=4)
    codes = pq_encode(df, books)
    queries = df.filter("vec_id in (0, 25, 45, 70)")
    got = pq_search(queries, codes, books, k=5).collect()

    M = np.array([v for _, v in rows])
    for qid in (0, 25, 45, 70):
        cluster = qid // 20
        mine = [r for r in got if r["q_id"] == qid]
        assert len(mine) == 5
        # every neighbor from the query's own cluster...
        assert all(r["vec_id"] // 20 == cluster for r in mine)
        # ...and far below the true inter-cluster distance floor
        other = ((M[[i for i in range(len(M)) if i // 20 != cluster]]
                  - M[qid]) ** 2).sum(axis=1).min()
        assert all(r["adc_dist"] < other / 4 for r in mine)


def test_pdftrio_persist_rows_reference_semantics(spark):
    """PersistPdfTrioWorker parity (persist.py:470-500, db.py:362-416):
    truthy-status_code gate, `or None` on versions fields, last-in-batch
    wins per sha1hex, and the success+file_meta gate on the side feed."""
    import json

    from sandcrawler_spark.operators.media import pdftrio_persist_rows

    def msg(code=None, status="x", versions=None, updated=None, **scores):
        d = dict(status=status, **scores)
        if code is not None:
            d["status_code"] = code
        if versions is not None:
            d["versions"] = versions
        if updated is not None:
            d["updated"] = updated
        return json.dumps(d)

    fm = json.dumps(
        {"sha256hex": "b" * 64, "md5hex": "c" * 32,
         "size_bytes": 1234, "mimetype": "application/pdf"}
    )
    rows = [
        # dropped: no pdf_trio at all
        ("k1", 0, None, fm),
        # dropped: no status_code key
        ("k1", 1, msg(status="error-misc"), fm),
        # dropped: status_code 0 (python falsy, persist.py:483)
        ("k1", 2, msg(code=0, status="error-connect"), fm),
        # kept: negative heritrix code is truthy; no file_meta feed (not success)
        ("k2", 3, msg(code=-4, status="error-timeout"), fm),
        # kept then OVERWRITTEN by seq 5 (db.py:409-413 last-wins)
        ("k3", 4, msg(code=200, status="success", ensemble_score=0.25,
                      versions={"pdftrio_version": "0.1.0",
                                "models_date": "2019-12-01"}), fm),
        ("k3", 5, msg(code=200, status="success", ensemble_score=0.75,
                      updated="2020-02-02T00:00:00Z",
                      versions={"pdftrio_version": "", "models_date": ""}),
         None),
    ]
    df = spark.createDataFrame(
        rows, "key string, seq long, pdf_trio string, file_meta string"
    )
    trio, fmeta = pdftrio_persist_rows(df, now="2021-07-01T00:00:00Z")
    t = {r["sha1hex"]: r.asDict() for r in trio.collect()}
    assert set(t) == {"k2", "k3"}
    assert t["k2"]["status_code"] == -4
    assert t["k2"]["status"] == "error-timeout"
    # missing updated falls back to the batch timestamp (db.py:397)
    assert t["k2"]["updated"] == "2021-07-01T00:00:00Z"
    assert t["k2"]["pdftrio_version"] is None
    assert t["k2"]["ensemble_score"] is None
    # last row in batch order won, empty-string versions became NULL
    assert t["k3"]["ensemble_score"] == 0.75
    assert t["k3"]["updated"] == "2020-02-02T00:00:00Z"
    assert t["k3"]["pdftrio_version"] is None
    assert t["k3"]["models_date"] is None
    # file_meta feed: only success rows WITH file_meta; the seq-5
    # overwrite carried no file_meta, so seq 4's meta survives for k3
    f = {r["sha1hex"]: r.asDict() for r in fmeta.collect()}
    assert set(f) == {"k3"}
    assert f["k3"]["size_bytes"] == 1234 and f["k3"]["md5hex"] == "c" * 32


# ------------------------------------------------------- pdf spans

def test_pdf_extract_spans_spine_and_interleave(spark):
    import hashlib

    from sandcrawler_spark.operators.media import (
        fake_pdf_pages,
        pdf_extract_spans,
    )

    good = b"%PDF-1.4 " + b"x" * 13  # len 22: pages=1+22%4=3, thumb: 22%7=1 ok
    nothumb = b"%PDF-1.4 " + b"x" * 12  # len 21 % 7 == 0 → render fails
    bad = b"%PDF-1.4 BADDOC"
    rows = [
        ("g", bytearray(good)),
        ("t", bytearray(nothumb)),
        ("n", bytearray(b"plain text here")),
        ("b", bytearray(bad)),
        ("e", bytearray(b"%PDF")),
    ]
    df = spark.createDataFrame(rows, "doc_id string, blob binary")
    out = {
        r.doc_id: r
        for r in pdf_extract_spans(
            df,
            bad_pdf_md5=[hashlib.md5(bad).hexdigest()],
            max_text_chars=1000,
        ).collect()
    }
    assert out["n"].status == "not-pdf" and out["n"].spans is None
    assert out["b"].status == "bad-pdf"
    assert out["e"].status == "empty-pdf"
    g = out["g"]
    assert g.status == "success" and g.page_count == 3
    assert g.has_page0_thumbnail is True
    # interleave contract: image span first at offset 0, then text
    # spans at cumulative char offsets
    assert [s.kind for s in g.spans] == ["image", "text", "text", "text"]
    assert g.spans[0].offset == 0 and g.spans[0].media_ref.startswith("thumb:")
    texts = fake_pdf_pages(good)
    offs = [0, len(texts[0]), len(texts[0]) + len(texts[1])]
    assert [s.offset for s in g.spans[1:]] == offs
    assert [s.text for s in g.spans[1:]] == texts
    assert g.text_len == sum(len(t) for t in texts)
    t = out["t"]
    assert t.status == "success" and t.has_page0_thumbnail is False
    assert [s.kind for s in t.spans] == ["text"] * t.page_count


def test_pdf_extract_spans_text_too_large(spark):
    from sandcrawler_spark.operators.media import pdf_extract_spans

    df = spark.createDataFrame(
        [("big", bytearray(b"%PDF-1.4 " + b"y" * 13))], "doc_id string, blob binary"
    )
    r = pdf_extract_spans(df, max_text_chars=10).collect()[0]
    assert r.status == "text-too-large"
    assert r.spans is None and r.text_len > 10
