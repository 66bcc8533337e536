"""Mimetype normalization (reference misc.py:142-188; Scala twin
CdxBackfillJob.scala:95-117).

Semantics: lowercase+strip, prefix-match against a canonical list, then
special-cases (application/xml→text/xml, application/x-pdf→
application/pdf, '.pdf'→application/pdf, a download-alias set →
application/octet-stream), else None.
"""

from __future__ import annotations

NORMAL_MIME = (
    "application/pdf",
    "application/postscript",
    "text/html",
    "text/xml",
    "application/octet-stream",
)

_OCTET_ALIASES = (
    "application/download",
    "binary/octet-stream",
    "unk",
    "application/x-download",
    "application/octetstream",
    "application/force-download",
    "application/unknown",
)


def normalize_mime(raw: str | None) -> str | None:
    if raw is None:
        return None
    raw = raw.lower().strip()
    for norm in NORMAL_MIME:
        if raw.startswith(norm):
            return norm
    if raw.startswith("application/xml"):
        return "text/xml"
    if raw.startswith("application/x-pdf"):
        return "application/pdf"
    if raw == ".pdf":
        return "application/pdf"
    if raw in _OCTET_ALIASES:
        return "application/octet-stream"
    return None

