"""Content identity: SHA-1 base32↔hex and file metadata.

Reference behavior: ``b32_hex`` (misc.py:126-139) converts the
base32-encoded SHA-1 that heritrix/wayback CDX files carry into hex;
``gen_file_metadata`` (misc.py:49-81) computes
{sha1hex, sha256hex, md5hex, size_bytes, mimetype} from raw bytes.

Spark forms:
- sha1/sha2/md5/length over a binary column are Catalyst builtins
  (``F.sha1`` etc. at the call site) — the hot path never leaves the JVM.
- base32→hex needs bit-surgery Spark lacks → vectorized pandas UDF.
- the libmagic mimetype sniff is replaced by a deterministic
  magic-number sniff (libmagic is not in this environment); same
  prefix-dispatch semantics, clearly marked.
"""

from __future__ import annotations

import base64
import binascii
import hashlib

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def b32_hex(s: str) -> str:
    """base32-SHA1 ('sha1:...' tolerated) → lowercase hex. Passes through
    40-char hex. Raises ValueError otherwise (reference misc.py:126-139).
    """
    s = s.strip().split()[0].lower()
    if s.startswith("sha1:"):
        s = s[5:]
    if len(s) != 32:
        if len(s) == 40:
            return s
        raise ValueError(f"not a base-32 encoded SHA-1 hash: {s}")
    return binascii.hexlify(base64.b32decode(s.upper())).decode("ascii")


def hex_b32(hexstr: str) -> str:
    """Inverse: 40-char hex SHA-1 → 32-char base32 (as CDX carries it)."""
    return base64.b32encode(binascii.unhexlify(hexstr)).decode("ascii").rstrip("=")


_MAGIC = [
    (b"%PDF-", "application/pdf"),
    (b"\x1f\x8b", "application/gzip"),
    (b"PK\x03\x04", "application/zip"),
    (b"\x89PNG", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF8", "image/gif"),
    (b"%!PS", "application/postscript"),
]


def sniff_mimetype(blob: bytes) -> str:
    """Deterministic magic-number stand-in for libmagic (not available in
    this environment). Covers the types the reference pipeline gates on
    (ingest_file.py:189-229); everything else falls back the same way
    libmagic does for unknown bytes.
    """
    head = blob[:1024]
    for sig, mime in _MAGIC:
        if head.startswith(sig):
            return mime
    low = head.lower()
    if b"<html" in low or b"<!doctype html" in low:
        return "text/html"
    if low.lstrip().startswith(b"<?xml") or low.lstrip().startswith(b"<"):
        # reference refines XML → XHTML/JATS by first-1kB probes (misc.py:61-66)
        if b"<htm" in head and b'xmlns="http://www.w3.org/1999/xhtml"' in head:
            return "application/xhtml+xml"
        if b"<article " in head and b"<html" not in head:
            return "application/jats+xml"
        return "text/xml"
    try:
        head.decode("utf-8")
        return "text/plain"
    except UnicodeDecodeError:
        return "application/octet-stream"


def gen_file_metadata(blob: bytes, allow_empty: bool = False) -> dict:
    """{size_bytes, sha1hex, sha256hex, md5hex, mimetype} of raw bytes
    (reference misc.py:49-81; mimetype via :func:`sniff_mimetype`)."""
    assert blob is not None
    if not allow_empty:
        assert blob
    return {
        "size_bytes": len(blob),
        "sha1hex": hashlib.sha1(blob).hexdigest(),
        "sha256hex": hashlib.sha256(blob).hexdigest(),
        "md5hex": hashlib.md5(blob).hexdigest(),
        "mimetype": sniff_mimetype(blob),
    }


# ---------------------------------------------------------------- Spark side


@F.pandas_udf(T.StringType())
def b32_hex_udf(s: pd.Series) -> pd.Series:
    def safe(v: str) -> str | None:
        try:
            return b32_hex(v)
        except (ValueError, binascii.Error):
            return None

    return s.map(safe, na_action="ignore")

