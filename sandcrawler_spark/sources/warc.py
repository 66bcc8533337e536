"""WARC container I/O — the reference's native archive format,
readable and writable here with stdlib only (no `warcio`/`wayback`).

Reference surface:

- ``ia.py:435-520`` (``fetch_petabox``): the reference random-accesses
  one WARC record by ``(warc_path, offset, csize)`` — each record in a
  ``.warc.gz`` is its own gzip member, so a member can be fetched and
  gunzipped independently. :func:`read_warc_records` reproduces those
  keys for every record it scans.
- ``ia.py:520-530``: HTTP status + Content-Type come from the record's
  embedded HTTP response block; revisit records carry no body.
- WARC/1.0 (ISO 28500): header block of ``Name: value`` lines ending
  with a blank line, ``Content-Length`` bytes of content, then CRLF
  CRLF. ``response`` records wrap an HTTP response message.

Scale shape: ``spark.read.format("binaryFile")`` lists the WARC files
and the Arrow-batched ``mapInPandas`` parses each file inside one
task — parallelism = number of WARC files, which matches the real
corpus layout (petabox stores ~1-GiB WARCs by the hundred thousand;
one task per gigabyte-file is the right grain). Member-gzip means the
parse is a single streaming pass that never holds more than one
record decompressed.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "warc_path string, offset long, csize long, record_type string, "
    "target_uri string, warc_date string, http_status int, "
    "mimetype string, payload binary, payload_len long, sha1hex string"
)


def build_warc_record_bytes(
    target_uri: str,
    warc_date: str,
    payload: bytes,
    http_status: int = 200,
    mimetype: str = "application/pdf",
    record_type: str = "response",
) -> bytes:
    """One WARC/1.0 record as a standalone gzip member (the petabox
    layout, ia.py:435-443). Deterministic: the record id derives from
    the payload sha1, never a uuid4/now()."""
    sha1 = hashlib.sha1(payload).hexdigest()
    http_block = (
        f"HTTP/1.1 {http_status} {'OK' if http_status == 200 else 'X'}\r\n"
        f"Content-Type: {mimetype}\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode("ascii") + payload
    headers = (
        "WARC/1.0\r\n"
        f"WARC-Type: {record_type}\r\n"
        f"WARC-Record-ID: <urn:sha1:{sha1}>\r\n"
        f"WARC-Date: {warc_date}\r\n"
        f"WARC-Target-URI: {target_uri}\r\n"
        "Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(http_block)}\r\n\r\n"
    ).encode("ascii")
    record = headers + http_block + b"\r\n\r\n"
    buf = io.BytesIO()
    # mtime=0 pins the gzip header; the member is byte-deterministic
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def _parse_record(raw: bytes) -> dict | None:
    """Parse one decompressed WARC record → field dict (None if the
    block isn't a WARC/1.0 record)."""
    if not raw.startswith(b"WARC/1.0"):
        return None
    head_end = raw.find(b"\r\n\r\n")
    if head_end < 0:
        return None
    fields: dict[str, str] = {}
    for line in raw[:head_end].split(b"\r\n")[1:]:
        k, _, v = line.partition(b":")
        fields[k.decode("ascii", "replace").strip().lower()] = v.decode(
            "utf-8", "replace"
        ).strip()
    try:
        clen = int(fields.get("content-length", ""))
    except ValueError:
        return None
    content = raw[head_end + 4 : head_end + 4 + clen]
    status = None
    mimetype = None
    payload = b""
    if fields.get("warc-type") == "response" and content.startswith(b"HTTP/"):
        http_end = content.find(b"\r\n\r\n")
        if http_end >= 0:
            http_lines = content[:http_end].split(b"\r\n")
            parts = http_lines[0].split()
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            for hl in http_lines[1:]:
                hk, _, hv = hl.partition(b":")
                if hk.decode("ascii", "replace").strip().lower() == "content-type":
                    mimetype = hv.decode("utf-8", "replace").strip()
            payload = content[http_end + 4 :]
    return {
        "record_type": fields.get("warc-type"),
        "target_uri": fields.get("warc-target-uri"),
        "warc_date": fields.get("warc-date"),
        "http_status": status,
        "mimetype": mimetype,
        "payload": payload,
        "payload_len": len(payload),
        "sha1hex": hashlib.sha1(payload).hexdigest(),
    }


def iter_warc_members(blob: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Stream (offset, csize, decompressed_record) over a member-gzip
    ``.warc.gz`` byte string — one zlib pass, one record resident at a
    time. Plain (uncompressed) WARC input yields a single pseudo-member
    covering the whole file."""
    if not blob.startswith(b"\x1f\x8b"):
        yield 0, len(blob), blob
        return
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        raw = d.decompress(blob[pos:])
        consumed = len(blob) - pos - len(d.unused_data)
        if consumed <= 0:
            return
        yield pos, consumed, raw
        pos += consumed


def read_warc_records(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC scan: ``binaryFile`` listing → one Arrow task
    per WARC file → one row per record, keyed by the petabox fetch
    triple (warc_path, offset, csize) so any downstream consumer can
    re-fetch a single record without the scan."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "warc_path", "offset", "csize", "record_type", "target_uri",
            "warc_date", "http_status", "mimetype", "payload",
            "payload_len", "sha1hex",
        ]
        for pdf in batches:
            rows = []
            for p, blob in zip(pdf["path"], pdf["content"]):
                for off, csize, raw in iter_warc_members(bytes(blob)):
                    # a plain-WARC pseudo-member may hold many records
                    start = 0
                    while True:
                        rec_start = raw.find(b"WARC/1.0", start)
                        if rec_start < 0:
                            break
                        rec = _parse_record(raw[rec_start:])
                        if rec is None:
                            break
                        rec["warc_path"] = p
                        rec["offset"] = off
                        rec["csize"] = csize
                        rows.append(rec)
                        head_end = raw.find(b"\r\n\r\n", rec_start)
                        clen = len(raw)
                        try:
                            for line in raw[rec_start:head_end].split(b"\r\n"):
                                if line.lower().startswith(b"content-length:"):
                                    clen = int(line.split(b":")[1])
                        except ValueError:
                            pass
                        start = head_end + 4 + clen
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema=WARC_SCHEMA)
