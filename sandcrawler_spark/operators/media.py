"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side plumbing is REAL — schema, Arrow batch shape,
``mapInPandas`` signature, partition behavior — while the codec layer is
STUBBED: the image/audio libraries are not in this container, so
``decode_image``/``decode_audio`` raise ``NotImplementedError`` unless
``fake=True`` is requested, which produces a deterministic stand-in
derived from the blob's hash (stable across runs and engines).

Reference analogue: PDFs interleave extracted text with a binary
``page0_thumbnail`` (pdfextract.py:174-204); blobs are content-addressed
by sha1 (minio.py / persist.py:396-402).
"""

from __future__ import annotations

import gzip
import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BINARY_META_SCHEMA = (
    "doc_id string, size_bytes long, md5hex string, sha256hex string, "
    "width int, height int"
)

TRANSFER_FIX_SCHEMA = (
    "doc_id string, fixed boolean, body binary, size_bytes long, "
    "sha1hex string, sha256hex string, md5hex string, mimetype string"
)


def fix_transfer_encoding_bytes(blob: bytes, cdx_mimetype: str | None) -> tuple[bytes, bool]:
    """F10 scalar kernel (reference ``ia.py:1432-1463``): when the body
    sniffs as gzip but the CDX record claims a different mimetype, the
    transfer encoding was never stripped — gunzip and let the caller
    recompute file_meta over the inner body. Content identity (sha1,
    the dedup key) changes for exactly these rows."""
    from sandcrawler_spark.functions.hashes import sniff_mimetype

    if (
        blob
        and sniff_mimetype(blob) == "application/gzip"
        and cdx_mimetype != "application/gzip"
    ):
        inner = gzip.decompress(blob)
        if not inner:
            raise ValueError("null body inside transfer encoding")
        return inner, True
    return blob, False


def fix_transfer_encoding_df(
    df: DataFrame, id_col: str, binary_col: str, cdx_mime_col: str
) -> DataFrame:
    """F10 as a distributed operator: Arrow-batched ``mapInPandas`` over
    (id, body, cdx_mimetype) → corrected body + recomputed file_meta
    {size, sha1, sha256, md5, sniffed mimetype} and a ``fixed`` flag.

    The rehash matters at scale: sha1hex is the content-identity /
    dedup key for every downstream join, so a mislabeled gzip body
    would otherwise dedup against the WRONG identity."""
    from sandcrawler_spark.functions.hashes import gen_file_metadata

    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(binary_col).alias("blob"),
        F.col(cdx_mime_col).alias("cdx_mimetype"),
    )

    def fix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "fixed", "body", "size_bytes",
                "sha1hex", "sha256hex", "md5hex", "mimetype",
            )}
            for doc_id, blob, cdx_mime in zip(
                pdf["doc_id"], pdf["blob"], pdf["cdx_mimetype"]
            ):
                body, fixed = fix_transfer_encoding_bytes(bytes(blob), cdx_mime)
                meta = gen_file_metadata(body, allow_empty=True)
                rows["doc_id"].append(doc_id)
                rows["fixed"].append(fixed)
                rows["body"].append(body)
                rows["size_bytes"].append(meta["size_bytes"])
                rows["sha1hex"].append(meta["sha1hex"])
                rows["sha256hex"].append(meta["sha256hex"])
                rows["md5hex"].append(meta["md5hex"])
                rows["mimetype"].append(meta["mimetype"])
            yield pd.DataFrame(rows)

    return src.mapInPandas(fix, schema=TRANSFER_FIX_SCHEMA)


def sniff_container_col(binary_col: Column | str) -> Column:
    """Pure-Catalyst magic-byte container sniff for multimodal typing:
    image (png/jpeg/gif/webp), audio (wav/mp4a/ogg/mpeg/flac), video
    (mp4/avi/webm-matroska), plus pdf/gzip. Complements the pandas-UDF
    libmagic stand-in (functions/hashes.py::sniff_mimetype — which adds
    the reference's text/HTML/XML refinements) with a JVM-side
    when-chain over ``hex(substring(blob, 1, 12))`` that stays inside
    whole-stage codegen — the right first pass over 100 TB of opaque
    blobs, where shipping bytes to Python just to read 12 of them would
    dominate the scan."""
    c = F.col(binary_col) if isinstance(binary_col, str) else binary_col
    h = F.hex(F.substring(c, 1, 12))  # 24 hex chars, uppercase
    riff_tag = F.substring(h, 17, 8)  # RIFF format tag (bytes 9-12)
    is_ftyp = F.substring(h, 9, 8) == "66747970"  # 'ftyp' at byte 5
    brand = F.substring(h, 17, 8)  # ISO-BMFF major brand (bytes 9-12)
    return (
        F.when(h.startswith("89504E47"), "image/png")
        .when(h.startswith("FFD8FF"), "image/jpeg")
        .when(h.startswith("47494638"), "image/gif")
        .when(h.startswith("52494646") & (riff_tag == "57415645"), "audio/x-wav")
        .when(h.startswith("52494646") & (riff_tag == "57454250"), "image/webp")
        .when(h.startswith("52494646") & (riff_tag == "41564920"), "video/x-msvideo")
        .when(is_ftyp & (brand == "4D344120"), "audio/mp4")
        .when(is_ftyp, "video/mp4")
        .when(h.startswith("1A45DFA3"), "video/webm")
        .when(h.startswith("4F676753"), "audio/ogg")
        .when(
            h.startswith("494433")
            | h.startswith("FFFB")
            | h.startswith("FFF3")
            | h.startswith("FFF2"),
            "audio/mpeg",
        )
        .when(h.startswith("664C6143"), "audio/flac")
        .when(h.startswith("25504446"), "application/pdf")
        .when(h.startswith("1F8B"), "application/gzip")
        .otherwise("application/octet-stream")
    )


def decode_image(blob: bytes, fake: bool = False) -> tuple[int, int]:
    """STUB: real decode needs PIL/libvips (absent here). ``fake=True``
    derives deterministic dimensions from the content hash — exercising
    the full distributed plumbing without the codec."""
    if not fake:
        raise NotImplementedError("image codecs not available in this environment")
    h = hashlib.md5(blob).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192  # (width, height)


def binary_meta(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """Arrow-batched metadata extraction over a binary column (stub
    image decode, ``fake=True``).

    Partition-parallel ``mapInPandas``; each batch hashes + (stub-)
    decodes vectorized in Python. At 100 TB this is the shape of every
    decode/feature-extract stage: binary in, typed columns out, no
    row-at-a-time serde.
    """
    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("blob"))

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = [bytes(b) for b in pdf["blob"]]
            dims = [decode_image(b, fake=True) for b in blobs]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "size_bytes": [len(b) for b in blobs],
                    "md5hex": [hashlib.md5(b).hexdigest() for b in blobs],
                    "sha256hex": [hashlib.sha256(b).hexdigest() for b in blobs],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                }
            )

    return src.mapInPandas(extract, schema=BINARY_META_SCHEMA)

RESIZE_SCHEMA = "doc_id string, width int, height int, thumb binary"

FRAME_SCHEMA = "doc_id string, frame_idx int, t_sec double, frame binary"

SEGMENT_SCHEMA = (
    "doc_id string, seg_idx int, t_start double, t_end double, "
    "segment binary"
)


def resize_image(blob: bytes, max_dim: int, fake: bool = False) -> tuple[int, int, bytes]:
    """STUB resize kernel (reference: pdftocairo page-0 thumbnail at a
    capped box, pdfextract.py:174-204). ``fake=True`` scales the stub
    dimensions to fit ``max_dim`` and emits a deterministic thumb
    payload derived from (content hash, box) — stable across engines."""
    if not fake:
        raise NotImplementedError("image codecs not available in this environment")
    w, h = decode_image(blob, fake=True)
    scale = min(1.0, max_dim / max(w, h))
    tw, th = max(1, int(w * scale)), max(1, int(h * scale))
    thumb = hashlib.sha256(blob + f"|{tw}x{th}".encode()).digest()
    return tw, th, thumb


def resize_images(
    df: DataFrame, id_col: str, binary_col: str, max_dim: int = 180
) -> DataFrame:
    """Multimodal resize stage: binary in → (width, height, thumb
    binary) out, Arrow-batched ``mapInPandas``. Thumbnails are small, so
    output batches shrink relative to input — the stage is safe to run
    straight off the scan with no repartition."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("blob"))

    def rz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [resize_image(bytes(b), max_dim, fake=True) for b in pdf["blob"]]
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": [o[0] for o in out],
                "height": [o[1] for o in out],
                "thumb": [o[2] for o in out],
            })

    return src.mapInPandas(rz, schema=RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame, id_col: str, binary_col: str, fps: float = 0.5,
    max_frames: int = 8,
) -> DataFrame:
    """Video frame sampling: one input row fans out to ≤``max_frames``
    frame rows (doc_id, frame_idx, t_sec, frame binary). The 1→N
    explosion happens INSIDE the Arrow batch, so a 100 TB video corpus
    never materializes a per-frame shuffle before downstream filters
    can prune. STUB decoder: fake duration/frames derived from the
    content hash; a real build swaps in pyav/ffmpeg behind the same
    signature."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("blob"))

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ts, payloads = [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["blob"]):
                blob = bytes(b)
                h = hashlib.md5(blob).digest()
                duration = 1.0 + h[2]  # deterministic fake seconds
                n = min(max_frames, max(1, int(duration * fps)))
                for i in range(n):
                    ids.append(doc_id)
                    idxs.append(i)
                    ts.append(round(i / fps, 3))
                    payloads.append(
                        hashlib.sha256(blob + i.to_bytes(4, "big")).digest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "t_sec": ts, "frame": payloads}
            )

    return src.mapInPandas(frames, schema=FRAME_SCHEMA)


def segment_audio(
    df: DataFrame, id_col: str, binary_col: str, window_s: float = 4.0,
    hop_s: float = 2.0, max_segments: int = 16,
) -> DataFrame:
    """Audio windowing: one input row fans out to overlapping
    (window_s, hop_s) segment rows (doc_id, seg_idx, t_start, t_end,
    segment binary) — the standard front end for ASR / audio-embedding
    stages. Like :func:`sample_frames`, the 1→N explosion happens
    INSIDE the Arrow batch so a 100 TB audio corpus never shuffles
    per-segment rows before downstream filters prune. STUB decoder:
    deterministic fake duration from the content hash (a distinct hash
    byte from the video stub, so the two modalities don't alias);
    a real build swaps in soundfile/ffmpeg behind the same signature."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(binary_col).alias("blob"))

    def segs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, t0s, t1s, payloads = [], [], [], [], []
            for doc_id, b in zip(pdf["doc_id"], pdf["blob"]):
                blob = bytes(b)
                h = hashlib.md5(blob).digest()
                duration = 1.0 + h[3]  # deterministic fake seconds
                n = min(
                    max_segments,
                    max(1, int((duration - window_s) / hop_s) + 1),
                )
                for i in range(n):
                    t0 = i * hop_s
                    ids.append(doc_id)
                    idxs.append(i)
                    t0s.append(t0)
                    t1s.append(min(t0 + window_s, duration))
                    payloads.append(
                        hashlib.sha256(
                            blob + b"|aud|" + i.to_bytes(4, "big")
                        ).digest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "seg_idx": idxs, "t_start": t0s,
                 "t_end": t1s, "segment": payloads}
            )

    return src.mapInPandas(segs, schema=SEGMENT_SCHEMA)


PDF_EXTRACT_SCHEMA = (
    "doc_id string, sha1hex string, status string, error_msg string, "
    "size_bytes long, md5hex string, sha256hex string, mimetype string, "
    "text string, page_count int, has_page0_thumbnail boolean, "
    "page0_thumbnail binary"
)

PDF_TEXT_MAX_CHARS = 1_000_000  # Kafka message cap (pdfextract.py:389-394)


def process_pdf_bytes(blob: bytes, fake: bool = False) -> dict:
    """``process_pdf`` scalar kernel (reference pdfextract.py:296-444):
    file_meta (hashes + sniffed mime) → status ladder (``not-pdf`` on a
    non-PDF sniff :308-314, ``empty-pdf`` :327-333, ``text-too-large``
    past the 1 MB Kafka cap :389-394, else ``success``) → interleaved
    outputs: full text plus a binary page-0 thumbnail (:357-372),
    everything keyed by sha1hex.

    The poppler/cairo codec layer is STUBBED like every media kernel
    here (raises unless ``fake=True``): fake text is the byte payload
    after the ``%PDF-x.y`` header line decoded as UTF-8 (deterministic,
    oracle-reconstructable), fake page_count is hash-derived, and the
    thumbnail reuses :func:`resize_image`'s deterministic payload. The
    distributed plumbing — mime gate, hashing, size caps, the 1-row →
    text+thumbnail interleave, sha1 keying — is real and tested."""
    from sandcrawler_spark.functions.hashes import sniff_mimetype

    meta = {
        "sha1hex": hashlib.sha1(blob).hexdigest(),
        "md5hex": hashlib.md5(blob).hexdigest(),
        "sha256hex": hashlib.sha256(blob).hexdigest(),
        "size_bytes": len(blob),
        "mimetype": sniff_mimetype(blob) or "application/octet-stream",
        "error_msg": None,
        "text": None,
        "page_count": None,
        "has_page0_thumbnail": False,
        "page0_thumbnail": None,
    }
    if meta["mimetype"] != "application/pdf":
        meta["status"] = "not-pdf"
        meta["error_msg"] = f"mimetype is '{meta['mimetype']}'"
        return meta
    if not fake:
        raise NotImplementedError("pdf codecs not available in this environment")
    header, _, payload = blob.partition(b"\n")
    if not payload.strip():
        meta["status"] = "empty-pdf"
        return meta
    text = payload.decode("utf-8", errors="replace")
    if len(text) > PDF_TEXT_MAX_CHARS:
        meta["status"] = "text-too-large"
        meta["error_msg"] = f"full_text chars: {len(text)}"
        return meta
    tw, th, thumb = resize_image(blob, max_dim=180, fake=True)
    meta.update(
        status="success",
        text=text,
        page_count=1 + hashlib.md5(blob).digest()[0] % 12,
        has_page0_thumbnail=True,
        page0_thumbnail=thumb,
    )
    return meta


def process_pdfs(df: DataFrame, id_col: str, binary_col: str) -> DataFrame:
    """PDF text+thumbnail extraction (stub codec, ``fake=True``) as a
    distributed operator: one Arrow-batched ``mapInPandas`` pass; each input row yields one result
    row carrying BOTH modalities (the reference worker publishes them to
    two sha1-keyed Kafka topics from the same process loop,
    pdf_extract worker / kafka/topics.md pdf-text + pdf-thumbnail-SIZE)."""
    src = df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.col(binary_col).alias("blob"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, b in zip(pdf["doc_id"], pdf["blob"]):
                r = process_pdf_bytes(bytes(b), fake=True)
                r["doc_id"] = did
                rows.append(r)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sha1hex", "status", "error_msg", "size_bytes",
                    "md5hex", "sha256hex", "mimetype", "text", "page_count",
                    "has_page0_thumbnail", "page0_thumbnail",
                ],
            )

    return src.mapInPandas(extract, schema=PDF_EXTRACT_SCHEMA)


PDFTRIO_JSON_SCHEMA = (
    "status_code int, status string, updated string, "
    "versions struct<pdftrio_version:string, models_date:string>, "
    "ensemble_score double, bert_score double, linear_score double, "
    "image_score double"
)

FILE_META_JSON_SCHEMA = (
    "sha1hex string, sha256hex string, md5hex string, size_bytes long, "
    "mimetype string"
)


def pdftrio_persist_rows(
    results: DataFrame,
    seq_col: str = "seq",
    now: str = "",
) -> tuple[DataFrame, DataFrame]:
    """PDF-classifier result persist fan-out (PersistPdfTrioWorker,
    reference persist.py:470-500 + db.py:362-416 insert_pdftrio +
    sandcrawler_schema.sql:80-91): one batch of classifier result
    messages becomes TWO relational upsert feeds.

    Input: one row per result message with columns
    ``key`` (sha1hex of the PDF), ``pdf_trio`` (the classifier response
    as a JSON string, may be NULL), ``file_meta`` (JSON string, may be
    NULL), and ``seq_col`` — the batch arrival order, which makes the
    reference's dict-overwrite batch dedup (db.py:409-413
    ``row_dict[b[0]] = b``, LAST row per key wins) deterministic under
    parallelism instead of partition-order-dependent.

    Semantics pinned to the reference:

    - rows without a *truthy* ``pdf_trio.status_code`` are dropped
      before anything else (persist.py:483 — ``None`` AND ``0`` are
      dropped; negative heritrix-style codes like -4/-2 are kept);
    - ``versions.pdftrio_version`` / ``versions.models_date`` use the
      ``or None`` idiom (db.py:400-401): empty string becomes NULL;
      ``models_date`` is a DATE column;
    - ``updated`` is the message's value or the caller's batch
      timestamp (db.py:393,397 ``d.get("updated") or now`` — the
      reference stamps ``datetime.now()``; callers pass ``now``
      explicitly so replays are deterministic); kept as the wire string
      since this engine's Iceberg MERGE layer casts on write;
    - scores are REAL (float32) columns;
    - the pdftrio feed upserts with policy "update", so every surviving
      key emits exactly one row (last in batch order);
    - the ``file_meta`` side feed (persist.py:492-499) takes only rows
      with ``status == 'success'`` AND a present ``file_meta``, policy
      "nothing" (first-writer-wins at merge; batch-internal dedup is
      still last-wins, db.py:186-190).

    Both outputs are pure Catalyst: from_json -> filter -> max_by
    struct aggregation, no Python.
    """
    seq = F.col(seq_col).cast("long")
    parsed = results.select(
        F.col("key").alias("sha1hex"),
        seq.alias("_seq"),
        F.from_json(F.col("pdf_trio"), PDFTRIO_JSON_SCHEMA).alias("pt"),
        F.from_json(F.col("file_meta"), FILE_META_JSON_SCHEMA).alias("fm"),
    ).filter(
        F.col("pt.status_code").isNotNull() & (F.col("pt.status_code") != 0)
    )

    blank_to_null = lambda c: F.nullif(c, F.lit(""))  # noqa: E731
    trio_row = F.struct(
        F.coalesce(blank_to_null(F.col("pt.updated")), F.lit(now)).alias("updated"),
        F.col("pt.status_code").alias("status_code"),
        F.col("pt.status").alias("status"),
        blank_to_null(F.col("pt.versions.pdftrio_version")).alias("pdftrio_version"),
        F.to_date(blank_to_null(F.col("pt.versions.models_date"))).alias("models_date"),
        F.col("pt.ensemble_score").cast("float").alias("ensemble_score"),
        F.col("pt.bert_score").cast("float").alias("bert_score"),
        F.col("pt.linear_score").cast("float").alias("linear_score"),
        F.col("pt.image_score").cast("float").alias("image_score"),
    )
    pdftrio = (
        parsed.groupBy("sha1hex")
        .agg(F.max_by(trio_row, F.col("_seq")).alias("r"))
        .select("sha1hex", "r.*")
    )

    fm_row = F.struct(
        F.col("fm.sha256hex").alias("sha256hex"),
        F.col("fm.md5hex").alias("md5hex"),
        F.col("fm.size_bytes").alias("size_bytes"),
        F.col("fm.mimetype").alias("mimetype"),
    )
    file_meta = (
        parsed.filter((F.col("pt.status") == "success") & F.col("fm").isNotNull())
        .groupBy("sha1hex")
        .agg(F.max_by(fm_row, F.col("_seq")).alias("r"))
        .select("sha1hex", "r.*")
    )
    return pdftrio, file_meta


PDF_SPANS_SCHEMA = (
    "doc_id string, status string, md5hex string, page_count int, "
    "has_page0_thumbnail boolean, text_len int, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def fake_pdf_pages(blob: bytes) -> list[str]:
    """Deterministic stub page texts: page count = 1 + len % 4, each
    page's text derived from the content md5 — the fake twin of
    poppler's per-page ``page.text()`` loop (pdfextract.py:377-381)."""
    h = hashlib.md5(blob).hexdigest()
    n = 1 + len(blob) % 4
    return [f"page {i} of {n} [{h[:8]}] " for i in range(n)]


def pdf_extract_spans(
    df: DataFrame,
    bad_pdf_md5: list[str] | None = None,
    max_text_chars: int = 1_000_000,
) -> DataFrame:
    """PDF text + page-0 thumbnail extraction → interleaved spans
    over a (doc_id, blob) frame
    (pdfextract.py:296-444 ``process_pdf``), the PDF modality of the
    interleaved text+media document model. Complements
    :func:`process_pdfs` (the flat one-row-per-doc result with full
    file_meta, the persist/Kafka shape): this one emits the PER-PAGE
    interleave — (kind, text, media_ref, offset) spans with cumulative
    char offsets — plus the bad-pdf denylist arm (:317-323) and the
    best-effort thumbnail failure arm (:367-371) that the flat twin
    doesn't model.

    Decision spine mirrored, each gate at its reference line:
    mimetype sniff != pdf → 'not-pdf' (:309-315, via the JVM-side
    magic-byte sniff, so non-PDFs never reach Python); content hash in
    the known-bad denylist → 'bad-pdf' (:317-323, BAD_PDF_SHA1HEX —
    md5 here, sha1 has no DuckDB twin); unloadable → 'empty-pdf'
    (:327-334, stubbed as len < 8); page-0 thumbnail is BEST-EFFORT —
    a render failure nulls the thumbnail but the doc still succeeds
    (:356-371); concatenated page text > cap → 'text-too-large'
    (:389-394, default 1,000,000 chars); else 'success'.

    Success rows carry the interleave: span 0 is the page-0 thumbnail
    (kind='image', media_ref='thumb:<md5[:16]>', offset 0) when
    rendered, then one kind='text' span per page at its cumulative
    char offset in the reference's concatenated full_text — exactly
    the (kind, text, media_ref, offset) span contract, so
    span-sequence equality checks apply to PDFs like any other doc.

    Codec honesty: page texts come from :func:`fake_pdf_pages`
    (deterministic from content) — poppler isn't in this container,
    the distributed plumbing is what's real here.

    Scale shape: ONE scan, one Arrow pass, no shuffle. The three cheap
    gates (sniff + denylist + length) are Catalyst expressions that
    precompute a reject status and NULL the blob before the Arrow
    boundary, so a rejected row ships only (id, status, md5) to Python
    — never its bytes — and a union-of-filtered-branches (which would
    re-scan the source once per status) is avoided; 1→1 rows with
    bounded span fan-out per row."""
    bad = [b.lower() for b in (bad_pdf_md5 or [])]
    md5c = F.lower(F.md5(F.col("blob")))
    is_pdf = sniff_container_col(F.col("blob")) == "application/pdf"
    is_bad = md5c.isin(bad) if bad else F.lit(False)
    is_empty = F.length("blob") < 8
    gate = (
        F.when(~is_pdf, F.lit("not-pdf"))
        .when(is_bad, F.lit("bad-pdf"))
        .when(is_empty, F.lit("empty-pdf"))
    )
    src = df.select(
        F.col("doc_id").alias("doc_id"),
        F.when(gate.isNull(), F.col("blob")).alias("blob"),
        gate.alias("_gate"),
        md5c.alias("md5hex"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, b, gate_status, md5hex in zip(
                pdf["doc_id"], pdf["blob"], pdf["_gate"], pdf["md5hex"]
            ):
                if gate_status is not None:
                    rows.append(
                        dict(
                            doc_id=doc_id, status=gate_status, md5hex=md5hex,
                            page_count=None, has_page0_thumbnail=None,
                            text_len=None, spans=None,
                        )
                    )
                    continue
                blob = bytes(b)
                pages = fake_pdf_pages(blob)
                text_len = sum(len(p) for p in pages)
                if text_len > max_text_chars:
                    rows.append(
                        dict(
                            doc_id=doc_id, status="text-too-large", md5hex=md5hex,
                            page_count=None, has_page0_thumbnail=None,
                            text_len=text_len, spans=None,
                        )
                    )
                    continue
                # thumbnail render is best-effort; the fake's failure
                # arm (len % 7 == 0) models :367-371's None fallback
                has_thumb = len(blob) % 7 != 0
                spans = []
                if has_thumb:
                    spans.append(
                        dict(kind="image", text=None,
                             media_ref=f"thumb:{md5hex[:16]}", offset=0)
                    )
                off = 0
                for p in pages:
                    spans.append(
                        dict(kind="text", text=p, media_ref=None, offset=off)
                    )
                    off += len(p)
                rows.append(
                    dict(
                        doc_id=doc_id, status="success", md5hex=md5hex,
                        page_count=len(pages), has_page0_thumbnail=has_thumb,
                        text_len=text_len, spans=spans,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "status", "md5hex", "page_count",
                    "has_page0_thumbnail", "text_len", "spans",
                ],
            )

    return src.mapInPandas(extract, schema=PDF_SPANS_SCHEMA)
