"""WARC container I/O: writer→reader round-trip, petabox-style
(path, offset, csize) keys per record, plain-WARC multi-record parse,
non-response records."""

from __future__ import annotations

import gzip
import hashlib
import os

from sandcrawler_spark.sources.warc import (
    build_warc_record_bytes,
    iter_warc_members,
    read_warc_records,
)


def _write_warc_gz(path, payloads):
    with open(path, "wb") as f:
        for i, body in enumerate(payloads):
            f.write(
                build_warc_record_bytes(
                    target_uri=f"http://w.org/{i}",
                    warc_date=f"2020-01-0{i + 1}T00:00:00Z",
                    payload=body,
                    http_status=200 if i % 2 == 0 else 404,
                    mimetype="application/pdf" if i % 2 == 0 else "text/html",
                )
            )


def test_warc_roundtrip_and_random_access(spark, tmp_path):
    payloads = [b"%PDF-1.4 alpha", b"<html>beta</html>", b"%PDF-1.4 gamma" * 50]
    p1 = str(tmp_path / "a.warc.gz")
    p2 = str(tmp_path / "b.warc.gz")
    _write_warc_gz(p1, payloads)
    _write_warc_gz(p2, payloads[:1])

    df = read_warc_records(spark, str(tmp_path) + "/*.warc.gz")
    rows = df.collect()
    assert len(rows) == 4
    by_key = {(os.path.basename(r.warc_path.replace("file:", "")), r.target_uri): r for r in rows}
    r0 = by_key[("a.warc.gz", "http://w.org/0")]
    assert r0.record_type == "response"
    assert r0.http_status == 200 and r0.mimetype == "application/pdf"
    assert bytes(r0.payload) == payloads[0]
    assert r0.sha1hex == hashlib.sha1(payloads[0]).hexdigest()
    r1 = by_key[("a.warc.gz", "http://w.org/1")]
    assert r1.http_status == 404 and r1.mimetype == "text/html"
    assert r1.payload_len == len(payloads[1])

    # offsets are real byte positions: members concatenate to the file
    sizes = sorted((r.offset, r.csize) for r in rows if r.warc_path.endswith("a.warc.gz"))
    assert sizes[0][0] == 0
    for (o1, c1), (o2, _) in zip(sizes, sizes[1:]):
        assert o1 + c1 == o2
    assert sizes[-1][0] + sizes[-1][1] == os.path.getsize(p1)


def test_warc_plain_multi_record(spark, tmp_path):
    """An uncompressed .warc holds many records in one pseudo-member;
    every record still parses (no offsets per record — the member is
    the file)."""
    raw = b"".join(
        gzip.decompress(
            build_warc_record_bytes(
                f"http://p.org/{i}", "2021-01-01T00:00:00Z", f"body{i}".encode()
            )
        )
        for i in range(3)
    )
    p = str(tmp_path / "plain.warc")
    with open(p, "wb") as f:
        f.write(raw)
    rows = read_warc_records(spark, p).collect()
    assert sorted(r.target_uri for r in rows) == [f"http://p.org/{i}" for i in range(3)]
    assert all(bytes(r.payload) == f"body{i}".encode() for i, r in enumerate(sorted(rows, key=lambda r: r.target_uri)))


def test_warc_non_response_record(spark, tmp_path):
    rec = build_warc_record_bytes(
        "http://rv.org/x", "2021-01-01T00:00:00Z", b"", record_type="revisit"
    )
    p = str(tmp_path / "rv.warc.gz")
    with open(p, "wb") as f:
        f.write(rec)
    r = read_warc_records(spark, p).collect()[0]
    assert r.record_type == "revisit"
    assert r.http_status is None and r.payload_len == 0


def test_iter_warc_members_streaming():
    blob = b"".join(
        build_warc_record_bytes(f"http://m/{i}", "2021-01-01T00:00:00Z", b"x" * i)
        for i in range(4)
    )
    members = list(iter_warc_members(blob))
    assert len(members) == 4
    assert members[0][0] == 0
    assert sum(m[1] for m in members) == len(blob)
    for _, _, raw in members:
        assert raw.startswith(b"WARC/1.0")

