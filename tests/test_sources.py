"""Source/sink tests: CDX text scan + validity filter, JSON-lines with
corrupt-record tolerance, zip member expansion, blob fan-out sink."""

from __future__ import annotations

import io
import json
import os
import zipfile

from sandcrawler_spark.functions.hashes import hex_b32


def _mk_cdx_line(surt, dt, url, mime, status, sha1b32, csize, offset, warc):
    return f"{surt} {dt} {url} {mime} {status} {sha1b32} - - {csize} {offset} {warc}"


def test_cdx_parse(spark, tmp_path):
    from sandcrawler_spark.sources.cdx import filter_pdfs, read_cdx

    good_sha = hex_b32("1b9b6e3a4e1c4b2b8e5d0a9f3c7d2e1f4a5b6c7d")
    lines = [
        # valid pdf capture
        _mk_cdx_line("org,example)/a.pdf", "20200101000000", "http://example.org/a.pdf",
                     "application/pdf", "200", good_sha, "1000", "2000",
                     "CRAWL/x.warc.gz"),
        # valid but x-pdf alias → normalized
        _mk_cdx_line("org,example)/b.pdf", "20200101000001", "http://example.org/b.pdf",
                     "application/x-pdf", "200", good_sha, "10", "20", "CRAWL/y.warc.gz"),
        # whois row: '-' status → dropped (non-HTTP, misc.py:195)
        _mk_cdx_line("org,example)/w", "20200101000002", "whois://example.org",
                     "text/dns", "-", good_sha, "1", "1", "CRAWL/z.warc.gz"),
        # bad sha1 length → dropped
        _mk_cdx_line("org,example)/c", "20200101000003", "http://example.org/c",
                     "text/html", "200", "SHORT", "1", "1", "CRAWL/z.warc.gz"),
        # too few fields → dropped
        "org,example)/d 20200101000004 http://example.org/d",
        # unknown mime → octet-stream fallback
        _mk_cdx_line("org,example)/e", "20200101000005", "http://example.org/e",
                     "unk", "404", good_sha, "5", "6", "CRAWL/q.warc.gz"),
        # csize passes the digit regex but overflows int64 → dropped, not a
        # crash (ANSI cast would throw; parse uses try_cast)
        _mk_cdx_line("org,example)/huge", "20200101000006", "http://example.org/huge",
                     "text/html", "200", good_sha, "99999999999999999999", "7",
                     "CRAWL/q.warc.gz"),
    ]
    p = tmp_path / "test.cdx"
    p.write_text("\n".join(lines) + "\n")
    df = read_cdx(spark, str(p))
    rows = {r["surt"]: r for r in df.collect()}
    assert set(rows) == {"org,example)/a.pdf", "org,example)/b.pdf", "org,example)/e"}
    assert rows["org,example)/a.pdf"]["sha1hex"] == "1b9b6e3a4e1c4b2b8e5d0a9f3c7d2e1f4a5b6c7d"
    assert rows["org,example)/b.pdf"]["mimetype"] == "application/pdf"
    assert rows["org,example)/e"]["mimetype"] == "application/octet-stream"
    assert rows["org,example)/a.pdf"]["warc_csize"] == 1000
    pdfs = filter_pdfs(df).collect()
    assert {r["surt"] for r in pdfs} == {"org,example)/a.pdf", "org,example)/b.pdf"}


def test_jsonl_corrupt_tolerance(spark, tmp_path):
    from sandcrawler_spark.sources.jsonlines import read_jsonl

    p = tmp_path / "x.jsonl"
    p.write_text('{"a": 1}\nNOT JSON\n{"a": 2}\n')
    df = read_jsonl(spark, str(p), schema="a long, _corrupt_record string")
    rows = df.collect()
    assert len(rows) == 3
    good = [r for r in rows if r["a"] is not None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 2 and len(bad) == 1


def test_zip_explode(spark, tmp_path):
    from sandcrawler_spark.sources.blobs import explode_zip_members, read_binary_dir

    zdir = tmp_path / "zips"
    zdir.mkdir()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("docs/one.pdf", b"%PDF-1.4 one")
        zf.writestr("docs/two.pdf", b"%PDF-1.4 two")
        zf.writestr("notes.txt", b"skip me")
    (zdir / "batch.zip").write_bytes(buf.getvalue())
    bins = read_binary_dir(spark, str(zdir), glob="*.zip")
    members = explode_zip_members(bins, suffix=".pdf").collect()
    assert sorted(m["member"] for m in members) == ["one.pdf", "two.pdf"]
    assert all(bytes(m["blob"]).startswith(b"%PDF") for m in members)


def test_blob_fanout_sink(spark, tmp_path):
    from sandcrawler_spark.sources.jsonlines import write_blob_fanout

    df = spark.createDataFrame(
        [("aabbccdd" + "0" * 32, "x"), ("a1b2c3d4" + "0" * 32, "y")],
        "sha1hex string, payload string",
    )
    out = tmp_path / "blobs"
    write_blob_fanout(df, str(out))
    assert os.path.isdir(out / "p1=aa" / "p2=bb")
    assert os.path.isdir(out / "p1=a1" / "p2=b2")
    back = spark.read.parquet(str(out))
    assert back.count() == 2


def test_persist_results_stream(spark, tmp_path):
    """§3.2 persist fan-out: streamed results land in url_seen/file_meta
    with insert-new-only + in-batch last-wins semantics."""
    from sandcrawler_spark.streaming.rounds import persist_results_stream

    indir = tmp_path / "in"
    indir.mkdir()
    rows = [
        dict(seq=1, ingest_type="pdf", canonical_url="http://a/1", hit=False,
             status="no-capture", terminal_sha1hex=None, size_bytes=None, mimetype=None),
        # same key later in batch → last-wins within batch
        dict(seq=2, ingest_type="pdf", canonical_url="http://a/1", hit=True,
             status="success", terminal_sha1hex="s1", size_bytes=10, mimetype="application/pdf"),
        dict(seq=3, ingest_type="pdf", canonical_url="http://a/2", hit=True,
             status="success", terminal_sha1hex="s1", size_bytes=10, mimetype="application/pdf"),
    ]
    (indir / "batch1.json").write_text("\n".join(json.dumps(r) for r in rows))
    out = tmp_path / "out"
    q = persist_results_stream(
        spark, str(indir), str(out), str(tmp_path / "ckpt"), batch_size_files=10
    )
    q.awaitTermination(120)
    seen = {r["canonical_url"]: r for r in spark.read.parquet(str(out / "url_seen")).collect()}
    assert seen["http://a/1"]["status"] == "success"  # last-wins (seq 2)
    assert len(seen) == 2
    fm = spark.read.parquet(str(out / "file_meta")).collect()
    assert len(fm) == 1 and fm[0]["terminal_sha1hex"] == "s1"

    # second batch: existing keys must NOT be overwritten (ON CONFLICT NOTHING)
    rows2 = [
        dict(seq=4, ingest_type="pdf", canonical_url="http://a/1", hit=False,
             status="late-dup", terminal_sha1hex="s2", size_bytes=99, mimetype="x"),
        dict(seq=5, ingest_type="pdf", canonical_url="http://a/3", hit=False,
             status="no-capture", terminal_sha1hex=None, size_bytes=None, mimetype=None),
    ]
    (indir / "batch2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    q2 = persist_results_stream(
        spark, str(indir), str(out), str(tmp_path / "ckpt"), batch_size_files=10
    )
    q2.awaitTermination(120)
    seen = {r["canonical_url"]: r for r in spark.read.parquet(str(out / "url_seen")).collect()}
    assert seen["http://a/1"]["status"] == "success"  # unchanged
    assert seen["http://a/3"]["status"] == "no-capture"
    assert len(seen) == 3


def test_windowed_status_counters_stream(spark, tmp_path):
    """§2.9: event-time windowed counter stream with watermark, driven
    to completion via the memory sink."""
    import json as _json

    from sandcrawler_spark.streaming.rounds import windowed_status_counters

    indir = tmp_path / "ctr_in"
    indir.mkdir()
    rows = [
        {"status": "success", "ts": "2024-01-01T00:00:10.000Z"},
        {"status": "success", "ts": "2024-01-01T00:00:50.000Z"},
        {"status": "no-capture", "ts": "2024-01-01T00:01:10.000Z"},
    ]
    (indir / "a.json").write_text("\n".join(_json.dumps(r) for r in rows))
    agg = windowed_status_counters(spark, str(indir))
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ctrs")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["wstart"].isoformat(), r["status"]): r["n"]
        for r in spark.sql("SELECT * FROM ctrs").collect()
    }
    assert got[("2024-01-01T00:00:00", "success")] == 2
    assert got[("2024-01-01T00:01:00", "no-capture")] == 1


def test_stateful_url_seen_dedup_stream(spark, tmp_path):
    """applyInPandasWithState URL-seen dedup: first-seen keys emitted
    once; state survives a query restart via the checkpoint."""
    import json as _json

    from sandcrawler_spark.streaming.stateful import url_seen_dedup_stream

    indir = tmp_path / "req_in"
    indir.mkdir()
    ckpt = str(tmp_path / "req_ckpt")
    schema = "ingest_type string, canonical_url string, seq long"
    emitted: list = []

    def run_batch(fname, rows):
        (indir / fname).write_text("\n".join(_json.dumps(r) for r in rows))
        stream = spark.readStream.schema(schema).json(str(indir))
        out = url_seen_dedup_stream(stream)
        batch_rows: list = []

        def sink(df, epoch_id):
            batch_rows.extend(df.collect())

        q = (
            out.writeStream.outputMode("append").foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        emitted.extend(batch_rows)
        return batch_rows

    b1 = run_batch("b1.json", [
        {"ingest_type": "pdf", "canonical_url": "http://a/1", "seq": 1},
        {"ingest_type": "pdf", "canonical_url": "http://a/1", "seq": 2},
        {"ingest_type": "pdf", "canonical_url": "http://a/2", "seq": 3},
    ])
    got1 = {r["canonical_url"]: (r["first_seq"], r["n_duplicates"]) for r in b1}
    assert got1 == {"http://a/1": (1, 1), "http://a/2": (3, 0)}

    # restart with a new batch: old keys suppressed by restored state
    b2 = run_batch("b2.json", [
        {"ingest_type": "pdf", "canonical_url": "http://a/1", "seq": 4},
        {"ingest_type": "pdf", "canonical_url": "http://a/3", "seq": 5},
    ])
    got2 = {r["canonical_url"]: (r["first_seq"], r["n_duplicates"]) for r in b2}
    assert got2 == {"http://a/3": (5, 0)}


def test_rate_limit_stream_token_bucket(spark, tmp_path):
    """Streaming per-host token bucket: first batch bursts to capacity,
    a saturated host is then held to the refill rate (state carried
    across restarts via the checkpoint); priority order decides which
    rows are admitted."""
    import json as _json

    from sandcrawler_spark.streaming.stateful import rate_limit_stream

    indir = tmp_path / "rl_in"
    indir.mkdir()
    ckpt = str(tmp_path / "rl_ckpt")
    schema = "host string, canonical_url string, priority int, seq long"

    def run_batch(fname, rows):
        (indir / fname).write_text("\n".join(_json.dumps(r) for r in rows))
        stream = spark.readStream.schema(schema).json(str(indir))
        out = rate_limit_stream(stream, refill_per_batch=2, cap_mult=2)
        got: list = []

        def sink(df, epoch_id):
            got.extend(df.collect())

        q = (
            out.writeStream.outputMode("append").foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return got

    # batch 1: 6 requests on one host; capacity = 2x2 = 4 -> burst of 4,
    # admitted in (priority, seq) order
    b1 = run_batch("b1.json", [
        {"host": "h1", "canonical_url": f"http://h1/{i}", "priority": p, "seq": i}
        for i, p in enumerate([3, 1, 2, 1, 9, 0])
    ])
    assert sorted(r["seq"] for r in b1) == [1, 2, 3, 5]  # prio 0,1,1,2 win
    assert len(b1) == 4

    # batch 2 (restart): bucket empty + refill 2 -> exactly 2 admitted
    b2 = run_batch("b2.json", [
        {"host": "h1", "canonical_url": f"http://h1/n{i}", "priority": 5, "seq": 10 + i}
        for i in range(5)
    ] + [
        {"host": "h2", "canonical_url": "http://h2/a", "priority": 5, "seq": 99}
    ])
    by_host: dict = {}
    for r in b2:
        by_host.setdefault(r["host"], []).append(r["seq"])
    assert sorted(by_host["h1"]) == [10, 11]   # refill rate, not burst
    assert by_host["h2"] == [99]               # fresh host starts full


def test_blob_path_reference_convention():
    """Key layout parity with the reference's _blob_path (minio.py:35-49)."""
    from sandcrawler_spark.sources.blobs import blob_path, content_type_for

    sha1 = "da39a3ee5e6b4b0d3255bfef95601890afd80709"
    assert blob_path("pdf", sha1) == f"pdf/da/39/{sha1}"
    assert blob_path("pdf", sha1, ".pdf") == f"pdf/da/39/{sha1}.pdf"
    assert (
        blob_path("grobid", sha1, ".tei.xml", "qa/")
        == f"qa/grobid/da/39/{sha1}.tei.xml"
    )
    import pytest as _pytest

    with _pytest.raises(AssertionError):
        blob_path("pdf", "deadbeef")  # not a 40-char sha1

    assert content_type_for(".tei.xml") == "application/xml"
    assert content_type_for(".png") == "image/png"
    assert content_type_for(".jpeg") == "image/jpeg"
    assert content_type_for(".txt") == "text/plain"
    assert content_type_for(".pdf") == "application/octet-stream"
    assert content_type_for("") == "application/octet-stream"


def test_put_blobs_object_store_sink(spark, tmp_path):
    """S14: executor-side blob PUTs land at the exact minio key per
    blob, receipts agree, null sha1 is computed from the blob, and the
    Catalyst key expression plans the same keys."""
    import hashlib

    from sandcrawler_spark.sources.blobs import blob_path, blob_path_col, put_blobs

    payloads = [b"alpha-blob", b"beta-blob", b"gamma-blob"]
    sha1s = [hashlib.sha1(b).hexdigest() for b in payloads]
    rows = [
        (payloads[0], sha1s[0], ".pdf"),
        (payloads[1], sha1s[1], None),   # null extension -> bare key
        (payloads[2], None, ".txt"),     # null sha1 -> computed
    ]
    df = spark.createDataFrame(rows, "blob binary, sha1hex string, ext string")

    store = str(tmp_path / "store")
    receipts = put_blobs(
        df, store, "pdf", bucket="bkt", extension_col="ext"
    ).collect()
    got = {r["obj_path"]: r for r in receipts}
    expected_keys = [
        blob_path("pdf", sha1s[0], ".pdf"),
        blob_path("pdf", sha1s[1]),
        blob_path("pdf", sha1s[2], ".txt"),
    ]
    assert sorted(got) == sorted(expected_keys)
    for key, payload in zip(expected_keys, payloads):
        p = os.path.join(store, "bkt", key)
        assert open(p, "rb").read() == payload
        assert got[key]["n_bytes"] == len(payload)
    assert got[expected_keys[2]]["content_type"] == "text/plain"

    # Catalyst twin plans identical keys for the non-null-sha1 rows
    planned = (
        df.filter("sha1hex is not null")
        .select(blob_path_col("pdf", extension="ext").alias("k"))
        .collect()
    )
    assert sorted(r["k"] for r in planned) == sorted(expected_keys[:2])

    # s3:// endpoint is an explicit gated boundary, not silent local IO
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        put_blobs(df, "s3://bucket", "pdf")


def test_datagen_chunked_identical():
    """gen_frontier's chunked string assembly must be value-identical
    to a single-chunk run (all RNG draws are global; chunking only
    bounds peak memory for 10^7-10^8-row fixtures)."""
    import duckdb

    import sandcrawler_spark.plans.datagen as dg

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        one, many = f"{d}/one", f"{d}/many"
        prev = dg.GEN_CHUNK_ROWS
        try:
            dg.GEN_CHUNK_ROWS = 10**9
            dg.gen_frontier(one, n_urls=8000, n_hosts=80, n_seeds=2500,
                            seed=33, force_recrawl_pct=0.05)
            dg.GEN_CHUNK_ROWS = 700  # force many chunks incl. docs/span cuts
            dg.gen_frontier(many, n_urls=8000, n_hosts=80, n_seeds=2500,
                            seed=33, force_recrawl_pct=0.05)
        finally:
            dg.GEN_CHUNK_ROWS = prev
        for t in ("seeds", "capture_history", "docs", "robots"):
            a = duckdb.sql(f"SELECT * FROM '{one}/{t}.parquet'").fetchall()
            b = duckdb.sql(f"SELECT * FROM '{many}/{t}.parquet'").fetchall()
            assert a == b, t
            assert len(a) > 0


def test_stream_stream_interval_join(spark, tmp_path):
    """§2.9: watermarked stream-stream time-range join — right events
    inside the window after each left event, per key. The batch twin
    (an explicit nested-loop over the tiny fixture) is the oracle; the
    join must also respect the key equality (no cross-key matches)."""
    import json as _json

    from sandcrawler_spark.streaming.rounds import stream_interval_join

    l_rows = [
        {"k": "a", "ts": "2024-01-01T00:00:00.000Z", "lid": 1},
        {"k": "a", "ts": "2024-01-01T00:20:00.000Z", "lid": 2},
        {"k": "b", "ts": "2024-01-01T00:00:00.000Z", "lid": 3},
    ]
    r_rows = [
        {"k": "a", "ts": "2024-01-01T00:05:00.000Z", "rid": 10},  # in 1's window
        {"k": "a", "ts": "2024-01-01T00:10:00.000Z", "rid": 11},  # edge: t0+10min, closed
        {"k": "a", "ts": "2024-01-01T00:25:00.000Z", "rid": 12},  # in 2's window only
        {"k": "b", "ts": "2024-01-01T00:21:00.000Z", "rid": 13},  # outside 3's window
        {"k": "b", "ts": "2024-01-01T00:02:00.000Z", "rid": 14},  # in 3's window
    ]
    ldir, rdir = tmp_path / "sj_l", tmp_path / "sj_r"
    ldir.mkdir(); rdir.mkdir()
    (ldir / "l.json").write_text("\n".join(_json.dumps(r) for r in l_rows))
    (rdir / "r.json").write_text("\n".join(_json.dumps(r) for r in r_rows))
    schema_l = "k string, ts timestamp, lid long"
    schema_r = "k string, ts timestamp, rid long"
    l = spark.readStream.schema(schema_l).json(str(ldir))
    r = spark.readStream.schema(schema_r).json(str(rdir))
    out = stream_interval_join(l, r, on="k", window_s=600, watermark_s=60)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sjoin")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["lid"], r["rid"])
        for r in spark.sql("SELECT lid, rid FROM sjoin").collect()
    }
    import datetime as _dt

    def _p(s):
        return _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))

    expected = {
        (lr["lid"], rr["rid"])
        for lr in l_rows
        for rr in r_rows
        if lr["k"] == rr["k"]
        and _p(lr["ts"]) <= _p(rr["ts"]) <= _p(lr["ts"]) + _dt.timedelta(seconds=600)
    }
    assert got == expected
    assert (1, 11) in got       # closed right edge
    assert (3, 13) not in got   # outside window
