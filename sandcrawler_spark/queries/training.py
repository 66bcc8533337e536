"""Training-data pipeline battery: dedup / text analysis / similarity
search / multimodal plumbing over the ``documents`` and ``embeddings``
tables, each with an exact DuckDB oracle (shared md5-derived hash
convention; MinHash permutation constants reproduced literally in SQL).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sandcrawler_spark.operators import dedup, media, similarity, temporal, text
from sandcrawler_spark.queries.battery import _t

# shared SQL CTE fragments (DuckDB): tokenization + distinct 3-gram shingles
_SQL_TOKS = """
toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
         FROM documents)
"""
_SQL_SH = """
sh AS (SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id,
                 unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                         for i in range(1, len(t) - 1)]) AS s
          FROM toks WHERE len(t) >= 3))
"""
_SQL_PERMS = "perms(j, a, b) AS (VALUES " + ", ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(dedup.MINHASH_PERMS)
) + ")"


def dd_exact_dedup(spark, sf_dir):
    return dedup.exact_dedup_stats(_t(spark, sf_dir, "documents"), "doc_id", "text")


def dd_jaccard_pairs(spark, sf_dir):
    return dedup.jaccard_pairs(_t(spark, sf_dir, "documents"), "doc_id", "text", tau=0.8)


def dd_minhash_lsh(spark, sf_dir):
    # max_bucket=None pinned: the gate compares against an UNCAPPED
    # DuckDB oracle, so exactness is stated, not assumed (the skew cap
    # is exercised separately in bench.py's skew section + pytest)
    return dedup.minhash_near_dups(
        _t(spark, sf_dir, "documents"), "doc_id", "text", tau=0.8,
        max_bucket=None,
    )


def dd_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"), "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def dd_simhash_pairs(spark, sf_dir):
    # max_bucket=None pinned: uncapped-exact vs the uncapped oracle
    return dedup.simhash_near_dups(
        _t(spark, sf_dir, "documents"), "doc_id", "text", max_hamming=3,
        max_bucket=None,
    )


def txt_quality(spark, sf_dir):
    return text.doc_quality(_t(spark, sf_dir, "documents"), "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def txt_langid(spark, sf_dir):
    lg = text.lang_guess(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return lg.groupBy("lang_guess").agg(F.count("*").alias("n_docs"))


def txt_fingerprint(spark, sf_dir):
    return text.fingerprint(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


def txt_langid_ngram(spark, sf_dir):
    """Character-trigram-profile language ID (the n-gram LID family),
    aggregated to per-language doc counts; the oracle recomputes every
    profile score from the same trigram tables with the same
    replace-trick, so scores (not just labels) must agree."""
    lg = text.lang_guess_ngram(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return lg.groupBy("lang_ngram").agg(F.count("*").alias("n_docs"))


def _langid_ngram_oracle() -> str:
    score_cols = []
    for lang, tris in text.LANG_TRIGRAM_PROFILES:
        terms = " + ".join(
            f"(length(t) - length(replace(t, '{tri}', ''))) / 3" for tri in tris
        )
        score_cols.append(f"({terms}) AS s_{lang}")
    langs = [lang for lang, _ in text.LANG_TRIGRAM_PROFILES]
    arms = " ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in langs[:-1])
    return f"""
        WITH s AS (
            SELECT doc_id, length(lower(text)) AS n, {", ".join(score_cols)}
            FROM (SELECT doc_id, lower(text) AS t, text FROM documents)),
        m AS (SELECT *, greatest({", ".join("s_" + l for l in langs)}) AS b
              FROM s),
        l AS (SELECT CASE WHEN n = 0 THEN 'other'
                          WHEN b / n < 0.01 THEN 'other'
                          {arms} ELSE '{langs[-1]}' END AS lang_ngram
              FROM m)
        SELECT lang_ngram, count(*) AS n_docs FROM l GROUP BY 1
    """


def txt_tokens(spark, sf_dir):
    """Token budgeting: whitespace + BPE-ish regex counts per doc
    (text.BPE_TOKEN_PATTERN — same lookahead-free pattern string runs
    under Java regex and RE2, so the oracle is byte-identical SQL)."""
    return text.token_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


def ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


def ann_ivf_assign(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_assign(emb, emb.filter(F.col("vec_id") < 8))


def ann_ivf_search(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_search(
        emb,
        emb.filter(F.col("vec_id") < 10),
        emb.filter(F.col("vec_id") < 8),
        k=5,
        nprobe=2,
    )


# Fixed closed-form PQ codebooks for the battery: B(j,c,i) =
# ((c+1)(i+1)+j) mod 7 - 3 — small INTEGERS, so every product with a
# float32 embedding value is exact in double and the oracle can rebuild
# the identical argmin arithmetic term by term. (TRAINED codebooks are
# iterative/non-SQL — train_pq_codebooks is pytest-verified instead.)
_PQ_M, _PQ_K, _PQ_DSUB = 4, 4, 16


def _pq_b(j: int, c: int, i: int) -> int:
    return ((c + 1) * (i + 1) + j) % 7 - 3


def _pq_fixed_books():
    return [
        [[float(_pq_b(j, c, i)) for i in range(_PQ_DSUB)] for c in range(_PQ_K)]
        for j in range(_PQ_M)
    ]


def ann_pq_encode(spark, sf_dir):
    """PQ encoding against fixed codebooks: each embedding becomes m
    nearest-code ids (similarity.pq_encode — GEMM argmin per subspace,
    -2x·c + ‖c‖² form, lowest-code ties); codes split into int columns
    for the value-hash compare."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.pq_encode(emb, _pq_fixed_books())
    return out.select(
        "vec_id",
        *[F.col("codes")[j].alias(f"c{j}") for j in range(_PQ_M)],
    )


def _pq_encode_oracle() -> str:
    subs = []
    for j in range(_PQ_M):
        ds = []
        for c in range(_PQ_K):
            dot = " + ".join(
                f"e[{j * _PQ_DSUB + i + 1}] * ({_pq_b(j, c, i)})"
                for i in range(_PQ_DSUB)
                if _pq_b(j, c, i) != 0
            )
            c2 = sum(_pq_b(j, c, i) ** 2 for i in range(_PQ_DSUB))
            ds.append(f"(-2.0 * ({dot}) + {c2})")
        # candidate c wins when <= every LATER candidate; arms run in
        # index order, so the earliest minimum is selected — exactly
        # np.argmin's first-min tie-break in pq_encode
        arms = " ".join(
            "WHEN "
            + " AND ".join(f"{ds[c]} <= {ds[o]}" for o in range(c + 1, _PQ_K))
            + f" THEN {c}"
            for c in range(_PQ_K - 1)
        )
        subs.append(f"CAST(CASE {arms} ELSE {_PQ_K - 1} END AS INT) AS c{j}")
    return (
        "SELECT vec_id, "
        + ", ".join(subs)
        + " FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"
    )


def c7_title_slug(spark, sf_dir):
    """C7: fuzzy-match slug keys (StringUtilities.scala:17-40) — pseudo
    title = first 6 tokens; slug via the accent-strip pandas UDF."""
    from sandcrawler_spark.functions.slug import title_slug_udf

    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim("text")), "\\s+")
    return d.select(
        "doc_id",
        title_slug_udf(F.concat_ws(" ", F.slice(toks, 1, 6))).alias("slug"),
    )


def dd_embedding_neardup(spark, sf_dir):
    return similarity.embedding_near_dups(_t(spark, sf_dir, "embeddings"), tau=0.45)


@F.pandas_udf(T.BinaryType())
def _gzip_udf(b):
    import gzip

    return b.map(lambda x: gzip.compress(bytes(x), mtime=0), na_action="ignore")


def f10_transfer_fix(spark, sf_dir):
    """F10 (ia.py:1432-1463): synthesize a capture corpus where half the
    bodies are gzip transfer-encoded but only some CDX rows declare it;
    the operator must sniff the mismatch, gunzip, and RE-HASH — proven
    by the inner sha256 matching the oracle's sha256 over the plain
    text. Declared-gzip rows stay compressed (no DuckDB gzip → their
    hashes are NULLed on both sides)."""
    d = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    md = F.md5(F.col("doc_id").cast("string"))
    gz = F.substring(md, 1, 1).isin(*"01234567")
    declared = F.substring(md, 2, 1).isin(*"0123")
    src = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(gz, _gzip_udf(F.encode("text", "UTF-8")))
        .otherwise(F.encode("text", "UTF-8"))
        .alias("blob"),
        F.when(gz & declared, F.lit("application/gzip"))
        .otherwise(F.lit("text/plain"))
        .alias("cdx_mimetype"),
    )
    out = media.fix_transfer_encoding_df(src, "doc_id", "blob", "cdx_mimetype")
    unreadable = F.col("mimetype") == "application/gzip"  # declared-gzip passthrough
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "fixed",
        "mimetype",
        F.when(~unreadable, F.col("sha256hex")).alias("body_sha256"),
        F.when(~unreadable, F.col("size_bytes")).alias("body_size"),
    )


def dd_cluster_cc(spark, sf_dir):
    """Duplicate-cluster assignment: exact-Jaccard near-dup pairs →
    connected components (large-star/small-star) → per-cluster
    canonical doc. The keep-one-per-cluster stage that turns pairwise
    near-dup evidence into an actual dedup decision."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, "doc_id", "text", tau=0.8)
    return dedup.connected_components(pairs).withColumnRenamed("id", "doc_id")


def txt_decontam(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 7 == 0 stand in
    for the held-out eval suite; corpus docs sharing any 13-gram with
    it are flagged (GPT-3-style n-gram overlap decontamination)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    return text.ngram_contamination(
        corpus, bench, "doc_id", "text", n=13
    ).withColumnRenamed("id", "doc_id")


def txt_repetition(spark, sf_dir):
    """Gopher-style repetition stats: top-2-gram char fraction +
    duplicate-5-gram char fraction per doc."""
    return text.repetition_stats(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


def c9_author_match(spark, sf_dir):
    """C9 (filter_scored_matches.py:24-58): token author-match over two
    synthesized author lists per document — left = [first-two-tokens,
    third-token], right = tokens 4..9 — through the ported
    check_authors (tokenized-last-name substring containment)."""
    d = _t(spark, sf_dir, "documents")
    df = d.select("doc_id", text.tokens_col("text").alias("t")).filter(
        F.size("t") >= 9
    )
    left = F.array(
        F.concat_ws(" ", F.col("t")[0], F.col("t")[1]), F.col("t")[2]
    )
    right = F.slice("t", 4, 6)
    return df.select(
        "doc_id", text.check_authors_udf(left, right).alias("authors_ok")
    )


def med_binary_meta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("blob"),
    )
    return media.binary_meta(d, "doc_id", "blob")


def med_resize(spark, sf_dir):
    """Multimodal resize stage over the documents table (stub codec:
    hash-derived dims scaled into a 100px box, thumb = sha256(blob |
    box)); the oracle re-derives dims + thumb hash in SQL."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("blob"),
    )
    out = media.resize_images(d, "doc_id", "blob", max_dim=100)
    return out.select(
        "doc_id", "width", "height",
        F.lower(F.hex("thumb")).alias("thumb_sha256"),
    )


def med_frames(spark, sf_dir):
    """Video frame sampling over the documents table (stub decoder:
    hash-derived duration, ≤8 frames at 0.5 fps, frame payload =
    sha256(blob | frame_idx_be32)); the 1→N fan-out happens inside the
    Arrow batch. Oracle: unnest(range(n)) per doc in DuckDB."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("blob"),
    )
    out = media.sample_frames(d, "doc_id", "blob", fps=0.5, max_frames=8)
    return out.select(
        "doc_id", "frame_idx", "t_sec",
        F.lower(F.hex("frame")).alias("frame_sha256"),
    )


# doc_id % 10 → synthetic container header (hex) + its ground-truth mime.
# The Spark side prepends the header bytes and sniffs FROM THE BYTES
# (media.sniff_container_col); the oracle derives the expected mime from
# the modulo directly — ground truth by construction, so the battery
# actually tests magic-byte recognition rather than echoing it.
_SNIFF_HEADERS = [
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FFE000104A464946", "image/jpeg"),
    ("474946383961", "image/gif"),
    ("524946462400000057415645", "audio/x-wav"),
    ("524946462400000057454250", "image/webp"),
    ("000000186674797069736F6D", "video/mp4"),
    ("00000018667479704D344120", "audio/mp4"),
    ("1A45DFA3", "video/webm"),
    ("4F676753", "audio/ogg"),
    ("494433", "audio/mpeg"),
]


def med_sniff(spark, sf_dir):
    """Multimodal container typing: per-doc synthetic magic header +
    text payload, sniffed pure-Catalyst from the binary prefix
    (media.sniff_container_col — no Python in the plan)."""
    d = _t(spark, sf_dir, "documents")
    hdr = F.lit(None).cast("string")
    for i, (hx, _) in enumerate(_SNIFF_HEADERS):
        hdr = F.when(F.col("doc_id") % 10 == i, F.lit(hx)).otherwise(hdr)
    blob = F.concat(F.unhex(hdr), F.encode("text", "UTF-8"))
    return d.select(
        "doc_id",
        media.sniff_container_col(blob).alias("mimetype"),
        F.length(blob).cast("long").alias("size_bytes"),
    )


def sp_html_spans(spark, sf_dir):
    """§2.10 HTML span producer end-to-end (html_metadata.py:886-955,
    1034-1077 semantics via operators.html.html_to_spans): synthesize a
    page per document — paragraph text, an outlink anchor, a resource
    img (duplicated, exercising first-occurrence dedup), parse to
    interleaved spans, explode. The oracle states the expected span
    sequence (kinds, offsets, raw-href links, urljoined resources)
    independently."""
    from sandcrawler_spark.operators.html import html_to_spans

    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 500) & (F.length(F.trim("text")) > 0)
    )
    sid = F.col("doc_id").cast("string")
    base = F.concat(
        F.lit("http://h"), (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/d/"), sid,
    )
    img = F.concat(F.lit('<img src="img/'), sid, F.lit('.png">'))
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"),
        F.lit('</p><a href="/doc/'), sid, F.lit('">next</a>'),
        img, img,  # duplicate resource → deduped to one span
        F.lit("</body></html>"),
    )
    src = d.select("doc_id", html.alias("html"), base.alias("base"))
    spans = html_to_spans(src, "doc_id", "html", "base")
    return spans.select(
        "doc_id", F.posexplode("spans").alias("pos", "s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def med_pdf_extract(spark, sf_dir):
    """PDF text+thumbnail interleaved extraction (pdfextract.py:296-444
    via operators.media.process_pdfs): three synthesized blob shapes —
    plain text (``not-pdf``), a bare ``%PDF`` header (``empty-pdf``),
    and header+payload (``success`` with stub text/page_count/thumb).
    The oracle reconstructs every column incl. the md5-derived
    page_count (same first-hash-byte arithmetic in SQL)."""
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 500) & (F.length(F.trim("text")) > 0)
    )
    m = F.col("doc_id") % 5
    s = (
        F.when(m == 0, F.col("text"))
        .when(m == 4, F.lit("%PDF-1.4\n"))
        .otherwise(F.concat(F.lit("%PDF-1.4\n"), F.col("text")))
    )
    src = d.select("doc_id", F.encode(s, "UTF-8").alias("blob"))
    out = media.process_pdfs(src, "doc_id", "blob")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "status", "sha256hex", "size_bytes",
        F.length("text").alias("text_len"), "page_count",
        "has_page0_thumbnail",
    )


def sp_html_biblio(spark, sf_dir):
    """§2.10 HTML biblio-metadata extraction end-to-end
    (html_metadata.py:886-955 semantics via operators.biblio): render a
    publisher-style <head> per document — citation_* metas with a
    ``doi:``-prefixed DOI (strip path), a dc.identifier-only DOI
    (raw-identifier promotion path), three date formats (all resolve to
    the same day), a relative citation_pdf_url (urljoin path), and the
    Research Article release-type mapping — then extract and flatten.
    The oracle states every expected field independently."""
    from sandcrawler_spark.operators.biblio import html_to_biblio

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    sid = F.col("doc_id").cast("string")
    url = F.concat(
        F.lit("https://pub"), (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.org/article/view/"), sid,
    )
    doi_meta = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('<meta name="citation_doi" content="doi:10.9999/'),
                     sid, F.lit('">')),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit('<meta name="citation_doi" content="10.9999/'),
                     sid, F.lit('">')),
        )
        .otherwise(
            F.concat(F.lit('<meta name="DC.Identifier" content="doi:10.8888/'),
                     sid, F.lit('">'))
        )
    )
    date_meta = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("2019-04-22"))
        .when(F.col("doc_id") % 4 == 1, F.lit("Apr 22, 2019"))
        .when(F.col("doc_id") % 4 == 2, F.lit("2019/04/22"))
        .otherwise(F.lit("20190422"))
    )
    authors = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<meta name="citation_author" content="Alice Q. Smith-'),
            sid, F.lit('">'),
            F.lit('<meta name="citation_author" content="Bob Jones-'),
            sid, F.lit('">'),
        ),
    ).otherwise(
        F.concat(
            F.lit('<meta name="citation_author" content="Alice Q. Smith-'),
            sid, F.lit('">'),
        )
    )
    reltype = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit('<meta name="dc.type" content="Research Article">'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"),
        F.lit('<meta name="citation_title" content="Study '), sid,
        F.lit(' of scholarly ingest">'),
        doi_meta, authors,
        F.lit('<meta name="citation_publication_date" content="'),
        date_meta, F.lit('">'),
        F.lit('<meta name="citation_journal_title" content="Journal '),
        (F.col("doc_id") % 7).cast("string"), F.lit('">'),
        F.lit('<meta name="citation_pdf_url" content="files/'), sid,
        F.lit('.pdf">'),
        F.lit('<meta name="DC.Language" content="'), F.col("lang"),
        F.lit('">'),
        reltype,
        F.lit("</head><body>ok</body></html>"),
    )
    src = d.select("doc_id", url.alias("url"), html.alias("html"))
    out = html_to_biblio(src, "doc_id", "html", "url")
    return out.select(
        "doc_id",
        F.col("biblio.title").alias("title"),
        F.col("biblio.doi").alias("doi"),
        F.size("biblio.contrib_names").alias("n_authors"),
        F.col("biblio.release_date").cast("string").alias("release_date"),
        F.col("biblio.pdf_fulltext_url").alias("pdf_url"),
        F.col("biblio.container_name").alias("container_name"),
        F.col("biblio.release_type").alias("release_type"),
        F.col("biblio.lang").alias("lang_meta"),
    )


QUERIES2 = {
    "med_pdf_extract": med_pdf_extract,
    "sp_html_biblio": sp_html_biblio,
    "sp_html_spans": sp_html_spans,
    "dd_exact_dedup": dd_exact_dedup,
    "dd_jaccard_pairs": dd_jaccard_pairs,
    "dd_minhash_lsh": dd_minhash_lsh,
    "dd_simhash": dd_simhash,
    "dd_simhash_pairs": dd_simhash_pairs,
    "txt_quality": txt_quality,
    "txt_langid": txt_langid,
    "txt_fingerprint": txt_fingerprint,
    "txt_tokens": txt_tokens,
    "txt_langid_ngram": txt_langid_ngram,
    "ann_cosine_topk": ann_cosine_topk,
    "ann_ivf_assign": ann_ivf_assign,
    "ann_ivf_search": ann_ivf_search,
    "ann_pq_encode": ann_pq_encode,
    "dd_embedding_neardup": dd_embedding_neardup,
    "c7_title_slug": c7_title_slug,
    "med_binary_meta": med_binary_meta,
    "med_resize": med_resize,
    "med_frames": med_frames,
    "med_sniff": med_sniff,
    "f10_transfer_fix": f10_transfer_fix,
    "c9_author_match": c9_author_match,
    "dd_cluster_cc": dd_cluster_cc,
    "txt_decontam": txt_decontam,
    "txt_repetition": txt_repetition,
}

_JACCARD_TAIL = """
    SELECT i.id1, i.id2, round(i.m * 1.0 / (z1.sz + z2.sz - i.m), 4) AS jacc
    FROM inter i
    JOIN sizes z1 ON z1.doc_id = i.id1
    JOIN sizes z2 ON z2.doc_id = i.id2
    WHERE round(i.m * 1.0 / (z1.sz + z2.sz - i.m), 4) >= 0.8
"""

ORACLES2 = {
    "med_pdf_extract": """
        WITH src AS (
            SELECT doc_id, text,
                   CASE WHEN doc_id % 5 = 0 THEN text
                        WHEN doc_id % 5 = 4 THEN '%PDF-1.4' || chr(10)
                        ELSE '%PDF-1.4' || chr(10) || text END AS s,
                   doc_id % 5 AS m
            FROM documents
            WHERE doc_id < 500 AND length(trim(text)) > 0)
        SELECT doc_id,
               CASE WHEN m = 0 THEN 'not-pdf'
                    WHEN m = 4 THEN 'empty-pdf'
                    ELSE 'success' END AS status,
               sha256(s) AS sha256hex,
               strlen(s) AS size_bytes,
               CAST(CASE WHEN m IN (0, 4) THEN NULL
                    ELSE length(text) END AS INTEGER) AS text_len,
               CASE WHEN m IN (0, 4) THEN NULL
                    ELSE 1 + CAST(('0x' || substr(md5(s), 1, 2)) AS INTEGER) % 12
               END AS page_count,
               (m NOT IN (0, 4)) AS has_page0_thumbnail
        FROM src
    """,
    "sp_html_biblio": """
        SELECT doc_id,
               'Study ' || CAST(doc_id AS VARCHAR) || ' of scholarly ingest' AS title,
               CASE WHEN doc_id % 3 = 2
                    THEN '10.8888/' || CAST(doc_id AS VARCHAR)
                    ELSE '10.9999/' || CAST(doc_id AS VARCHAR) END AS doi,
               CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_authors,
               '2019-04-22' AS release_date,
               'https://pub' || CAST(doc_id % 10 AS VARCHAR)
                   || '.example.org/article/view/files/'
                   || CAST(doc_id AS VARCHAR) || '.pdf' AS pdf_url,
               'Journal ' || CAST(doc_id % 7 AS VARCHAR) AS container_name,
               CASE WHEN doc_id % 5 = 0 THEN 'article-journal' END AS release_type,
               lang AS lang_meta
        FROM documents
        WHERE doc_id < 400
    """,
    "sp_html_spans": """
        WITH d AS (
            SELECT doc_id,
                   regexp_replace(trim(text), '\\s+', ' ', 'g') AS chunk,
                   CAST(doc_id AS VARCHAR) AS sid
            FROM documents
            WHERE doc_id < 500 AND length(trim(text)) > 0)
        SELECT doc_id, 0 AS offset, 'text' AS kind,
               chunk AS span_text, CAST(NULL AS VARCHAR) AS media_ref FROM d
        UNION ALL
        SELECT doc_id, 1, 'link', NULL, '/doc/' || sid FROM d
        UNION ALL
        SELECT doc_id, 2, 'text', 'next', NULL FROM d
        UNION ALL
        SELECT doc_id, 3, 'image', NULL,
               'http://h' || CAST(doc_id % 20 AS VARCHAR)
                   || '.example.org/d/img/' || sid || '.png'
        FROM d
    """,
    "dd_exact_dedup": """
        SELECT count(*) AS n_docs,
               count(DISTINCT md5(lower(trim(text)))) AS n_distinct
        FROM documents
    """,
    "dd_jaccard_pairs": f"""
        WITH {_SQL_TOKS}, {_SQL_SH},
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS m
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        {_JACCARD_TAIL}
    """,
    "dd_minhash_lsh": f"""
        WITH {_SQL_TOKS}, {_SQL_SH}, {_SQL_PERMS},
        h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS h
              FROM sh),
        mh AS (SELECT doc_id, j, min((a * h + b) % {dedup.MINHASH_P}) AS mh
               FROM h CROSS JOIN perms GROUP BY doc_id, j),
        bands AS (SELECT doc_id, j // {dedup.LSH_ROWS_PER_BAND} AS band,
                         md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j)) AS band_key
                  FROM mh GROUP BY doc_id, j // {dedup.LSH_ROWS_PER_BAND}),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT c.id1, c.id2, count(*) AS m
                  FROM cand c
                  JOIN sh s1 ON s1.doc_id = c.id1
                  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.s = s1.s
                  GROUP BY 1, 2)
        {_JACCARD_TAIL}
    """,
    "dd_simhash": f"""
        WITH {_SQL_TOKS},
        tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM tk),
        bits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
                 FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
                 GROUP BY doc_id, b)
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """,
    "dd_simhash_pairs": f"""
        WITH {_SQL_TOKS},
        tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM tk),
        bits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
                 FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
                 GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    "txt_quality": f"""
        WITH {_SQL_TOKS}
        SELECT toks.doc_id, CAST(len(t) AS INT) AS n_tokens,
               round(length(array_to_string(t, '')) * 1.0 / len(t), 4) AS avg_token_len,
               round(len(list_filter(t, x -> x IN ('the','a','of','and','to')))
                     * 1.0 / len(t), 4) AS stop_ratio,
               CASE WHEN length(trim(text)) > 0 THEN
                    round(len(regexp_extract_all(trim(text), '[!-/:-@\\[-`{{-~]'))
                          * 1.0 / length(trim(text)), 4) END AS punct_ratio
        FROM toks JOIN documents USING (doc_id)
    """,
    "txt_langid": f"""
        WITH {_SQL_TOKS},
        q AS (SELECT doc_id,
                     round(len(list_filter(t, x -> x IN ('the','a','of','and','to')))
                           * 1.0 / len(t), 4) AS stop_ratio
              FROM toks)
        SELECT CASE WHEN stop_ratio >= 0.12 THEN 'en' ELSE 'other' END AS lang_guess,
               count(*) AS n_docs
        FROM q GROUP BY 1
    """,
    "txt_fingerprint": f"""
        WITH {_SQL_TOKS}, {_SQL_SH}
        SELECT doc_id,
               min(CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS fingerprint
        FROM sh GROUP BY doc_id
    """,
    "txt_langid_ngram": _langid_ngram_oracle(),
    "txt_tokens": """
        WITH b AS (
            SELECT doc_id, trim(text) AS s,
                   len(regexp_extract_all(trim(text),
                       '"""
    + text.BPE_TOKEN_PATTERN.replace("'", "''")
    + """')) AS nb
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_split_to_array(lower(s), '\\s+')) AS INT)
                   AS n_ws_tokens,
               CAST(nb AS INT) AS n_bpe_tokens,
               CASE WHEN nb > 0 THEN round(length(s) * 1.0 / nb, 4) END
                   AS chars_per_bpe_token
        FROM b
    """,
    "ann_cosine_topk": """
        WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 10),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        s AS (SELECT q_id, vec_id,
                     round(list_cosine_similarity(qv, cv), 6) AS sim
              FROM q CROSS JOIN c WHERE vec_id != q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY sim DESC, vec_id ASC) AS rn FROM s)
        SELECT q_id, vec_id, sim FROM r WHERE rn <= 5
    """,
    "ann_ivf_assign": """
        WITH cen AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                     FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, centroid_id,
                     round(list_cosine_similarity(v, cv), 6) AS sim
              FROM c CROSS JOIN cen),
        r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, centroid_id ASC) AS rn FROM s)
        SELECT vec_id, centroid_id FROM r WHERE rn = 1
    """,
    # algorithm-parity oracle: the SAME probe->score->top-k pipeline in
    # SQL (IVF search is approximate vs ground truth BY DESIGN; the
    # correctness contract is deterministic algorithm equivalence)
    "ann_ivf_search": """
        WITH cen AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
                     FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM embeddings WHERE vec_id < 10),
        asg AS (SELECT vec_id, centroid_id FROM (
                    SELECT vec_id, centroid_id,
                           row_number() OVER (PARTITION BY vec_id
                               ORDER BY round(list_cosine_similarity(v, cv), 6) DESC,
                                        centroid_id ASC) AS rn
                    FROM c CROSS JOIN cen) WHERE rn = 1),
        probes AS (SELECT q_id, qv, centroid_id FROM (
                    SELECT q_id, qv, centroid_id,
                           row_number() OVER (PARTITION BY q_id
                               ORDER BY round(list_cosine_similarity(qv, cv), 6) DESC,
                                        centroid_id ASC) AS rn
                    FROM q CROSS JOIN cen) WHERE rn <= 2),
        scored AS (SELECT p.q_id, c.vec_id,
                          round(list_cosine_similarity(p.qv, c.v), 6) AS sim
                   FROM probes p
                   JOIN asg a ON a.centroid_id = p.centroid_id
                   JOIN c ON c.vec_id = a.vec_id
                   WHERE c.vec_id <> p.q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                        ORDER BY sim DESC, vec_id ASC) AS rn FROM scored)
        SELECT q_id, vec_id, sim FROM r WHERE rn <= 5
    """,
    "c7_title_slug": f"""
        WITH {_SQL_TOKS},
        t2 AS (SELECT doc_id, array_to_string(t[1:6], ' ') AS title FROM toks),
        s AS (SELECT doc_id,
                     lower(regexp_replace(strip_accents(title), '[\\W_]+', '', 'g')) AS raw
              FROM t2)
        SELECT doc_id,
               CASE WHEN length(raw) >= 8
                         AND raw NOT IN ('abstract','editorial','introduction',
                                         'preface','untitled','bookreviews',
                                         'commentary','inthisissue',
                                         'letterstotheeditor')
                    THEN raw ELSE NULL END AS slug
        FROM s
    """,
    "dd_embedding_neardup": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_cosine_similarity(a.v, b.v), 6) AS sim
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
    """,
    "med_binary_meta": """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
               md5(text) AS md5hex,
               sha256(text) AS sha256hex,
               CAST(64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) % 192 AS INT) AS width,
               CAST(64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) % 192 AS INT) AS height
        FROM documents
    """,
    # med_resize / med_frames: sha256() in this DuckDB build is
    # VARCHAR-only, but blob = UTF-8(text), so hashing the concatenated
    # VARCHAR hashes the identical byte stream (NUL bytes in the
    # frame-index suffix round-trip through decode(unhex(...))).
    "med_resize": """
        WITH dims AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                   64 + CAST(concat('0x', substr(md5(text), 1, 2)) AS BIGINT) % 192 AS w,
                   64 + CAST(concat('0x', substr(md5(text), 3, 2)) AS BIGINT) % 192 AS h
            FROM documents),
        boxed AS (
            SELECT doc_id, text,
                   GREATEST(1, CAST(floor(w * LEAST(1.0, 100.0 / GREATEST(w, h))) AS INT)) AS tw,
                   GREATEST(1, CAST(floor(h * LEAST(1.0, 100.0 / GREATEST(w, h))) AS INT)) AS th
            FROM dims)
        SELECT doc_id, CAST(tw AS INTEGER) AS width,
               CAST(th AS INTEGER) AS height,
               sha256(concat(text, '|', tw, 'x', th)) AS thumb_sha256
        FROM boxed
    """,
    "med_frames": """
        WITH f AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                   1.0 + CAST(concat('0x', substr(md5(text), 5, 2)) AS BIGINT) AS dur
            FROM documents),
        g AS (
            SELECT doc_id, text,
                   LEAST(8, GREATEST(1, CAST(floor(dur * 0.5) AS INT))) AS n
            FROM f),
        x AS (SELECT doc_id, text, unnest(range(n)) AS i FROM g)
        SELECT doc_id, CAST(i AS INT) AS frame_idx,
               CAST(i * 2.0 AS DOUBLE) AS t_sec,
               sha256(text || decode(unhex(lpad(to_hex(i), 8, '0')))) AS frame_sha256
        FROM x
    """,
    # med_sniff: expected mime/size derived from the doc_id%10 header
    # choice — ground truth by construction, independent of the engine's
    # magic-byte reader (which sees only the assembled bytes).
    "ann_pq_encode": _pq_encode_oracle(),
    "med_sniff": (
        "SELECT doc_id, CASE doc_id % 10 "
        + " ".join(
            f"WHEN {i} THEN '{mime}'"
            for i, (_, mime) in enumerate(_SNIFF_HEADERS)
        )
        + " END AS mimetype, "
        + "CAST(octet_length(encode(text)) + CASE doc_id % 10 "
        + " ".join(
            f"WHEN {i} THEN {len(hx) // 2}"
            for i, (hx, _) in enumerate(_SNIFF_HEADERS)
        )
        + " END AS BIGINT) AS size_bytes FROM documents"
    ),
    # F10: the oracle can't gzip, so it verifies the OUTPUT contract:
    # rows the engine fixed (or never compressed) must hash to the plain
    # text's sha256; correctly-declared gzip rows are NULLed both sides.
    "f10_transfer_fix": """
        WITH f AS (
            SELECT doc_id, text,
                   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ('0','1','2','3','4','5','6','7') AS gz,
                   substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)
                       IN ('0','1','2','3') AS declared
            FROM documents WHERE length(text) > 0)
        SELECT doc_id,
               (gz AND NOT declared) AS fixed,
               CASE WHEN gz AND declared THEN 'application/gzip'
                    ELSE 'text/plain' END AS mimetype,
               CASE WHEN NOT (gz AND declared) THEN sha256(text) END AS body_sha256,
               CASE WHEN NOT (gz AND declared)
                    THEN CAST(octet_length(encode(text)) AS BIGINT) END AS body_size
        FROM f
    """,
    "c9_author_match": f"""
        WITH {_SQL_TOKS},
        a AS (SELECT doc_id, t[2] AS last1, t[3] AS last2,
                     array_to_string(t[4:9], ' ') AS right_all
              FROM toks WHERE len(t) >= 9)
        SELECT doc_id,
               length(last1) > 1 AND position(last1 IN right_all) > 0
               AND length(last2) > 1 AND position(last2 IN right_all) > 0
                   AS authors_ok
        FROM a
    """,
    # Connected components via recursive min-reachability (transitive
    # closure — fine at oracle scale; the engine side uses
    # large-star/small-star, which is the log-round distributed
    # equivalent of the same fixed point).
    "dd_cluster_cc": f"""
        WITH RECURSIVE {_SQL_TOKS}, {_SQL_SH},
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS m
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        pairs AS ({_JACCARD_TAIL}),
        sym AS (SELECT id1 AS a, id2 AS b FROM pairs
                UNION SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
            SELECT a, a FROM sym
            UNION
            SELECT w.id, e.b FROM reach w JOIN sym e ON e.a = w.r),
        comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        cs AS (SELECT cluster_id, count(*) AS cluster_size
               FROM comp GROUP BY 1)
        SELECT c.id AS doc_id, c.cluster_id, cs.cluster_size,
               (c.id = c.cluster_id) AS is_canonical
        FROM comp c JOIN cs USING (cluster_id)
    """,
    "txt_decontam": f"""
        WITH {_SQL_TOKS},
        g AS (SELECT DISTINCT doc_id,
                     unnest([list_aggregate(t[i:i+12], 'string_agg', ' ')
                             for i in range(1, len(t) - 11)]) AS s
              FROM toks WHERE len(t) >= 13),
        bg AS (SELECT DISTINCT s FROM g WHERE doc_id % 7 = 0),
        tot AS (SELECT doc_id, count(*) AS n_ngrams FROM g
                WHERE doc_id % 7 != 0 GROUP BY 1),
        hit AS (SELECT g.doc_id, count(*) AS n_hit_ngrams
                FROM g JOIN bg USING (s)
                WHERE g.doc_id % 7 != 0 GROUP BY 1)
        SELECT h.doc_id, h.n_hit_ngrams, t.n_ngrams,
               round(h.n_hit_ngrams * 1.0 / t.n_ngrams, 4) AS overlap_frac
        FROM hit h JOIN tot t USING (doc_id)
    """,
    "txt_repetition": f"""
        WITH {_SQL_TOKS},
        base AS (SELECT doc_id,
                        CAST(length(array_to_string(t, ' ')) AS INT)
                            AS doc_chars
                 FROM toks),
        g2 AS (SELECT doc_id,
                      unnest([t[i] || ' ' || t[i+1]
                              for i in range(1, len(t))]) AS g
               FROM toks WHERE len(t) >= 2),
        c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
        top AS (SELECT doc_id, max(cnt * length(g)) AS top_chars
                FROM c2 GROUP BY 1),
        g5 AS (SELECT doc_id,
                      unnest([list_aggregate(t[i:i+4], 'string_agg', ' ')
                              for i in range(1, len(t) - 3)]) AS g
               FROM toks WHERE len(t) >= 5),
        c5 AS (SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY 1, 2),
        dup AS (SELECT doc_id, sum(cnt * length(g)) AS dup_chars
                FROM c5 WHERE cnt >= 2 GROUP BY 1)
        SELECT b.doc_id, b.doc_chars,
               coalesce(round(t.top_chars * 1.0 / b.doc_chars, 4), 0.0)
                   AS top_ngram_frac,
               coalesce(round(d.dup_chars * 1.0 / b.doc_chars, 4), 0.0)
                   AS dup_ngram_frac
        FROM base b
        LEFT JOIN top t USING (doc_id)
        LEFT JOIN dup d USING (doc_id)
    """,
}


# --- corpus curation: sampling / mixture weights / shard packing -------
# (operators/curation.py; generalizes the reference's one-shot filter/
# sample jobs — python/scripts/filter_cdx_paper_pdfs.py etc. — to the
# reproducible-sampling + packing stages of a training-data pipeline)

def smp_hash_sample(spark, sf_dir):
    """Deterministic salted-md5 16% sample of documents (no rand(): the
    keep-decision is a pure function of the id, stable across reruns,
    partitionings, and resumes)."""
    from sandcrawler_spark.operators import curation

    return curation.hash_sample(
        _t(spark, sf_dir, "documents"), "doc_id", rate_bps=1600
    ).select("doc_id", "lang", "source")


def smp_stratified(spark, sf_dir):
    """Exact per-language quota sample (ceil(0.25 * |stratum|) rows per
    lang, the stratum's smallest salted hashes) via distributed two-phase
    rank — no single-task stratum windows."""
    from sandcrawler_spark.operators import curation

    return curation.stratified_sample(
        _t(spark, sf_dir, "documents"), "lang", "doc_id", rate=0.25, exact=True
    ).select("doc_id", "lang")


def mix_domain_weights(spark, sf_dir):
    """Temperature-scaled (alpha=0.5) domain mixture table over source."""
    from sandcrawler_spark.operators import curation

    return curation.mixture_weights(
        _t(spark, sf_dir, "documents"), "source", "n_chars", alpha=0.5
    )


def pack_shards_lpt(spark, sf_dir):
    """LPT round-robin shard assignment (8 shards) over (n_chars desc,
    doc_id), reported as per-shard doc/char totals."""
    from sandcrawler_spark.operators import curation

    return (
        curation.pack_shards(_t(spark, sf_dir, "documents"), "n_chars", "doc_id", 8)
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("chars_total"))
    )


_H60 = "CAST(concat('0x', substr(md5(concat('{salt}', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)"

QUERIES2.update(
    {
        "smp_hash_sample": smp_hash_sample,
        "smp_stratified": smp_stratified,
        "mix_domain_weights": mix_domain_weights,
        "pack_shards_lpt": pack_shards_lpt,
        # FFD over realistic sizes has no SQL closed form, so its one
        # battery entry is pack_ffd_twoclass (closed-form fixture,
        # value-hashed); realistic sizes stay pytest-pinned in
        # tests/test_curation.py (budget respected, no doc dropped,
        # determinism across partitionings).
    }
)

ORACLES2.update(
    {
        "smp_hash_sample": f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_H60.format(salt='smp')} % 10000 < 1600
    """,
        "smp_stratified": f"""
        WITH h AS (SELECT doc_id, lang, {_H60.format(salt='strat')} AS hh
                   FROM documents),
        r AS (SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang ORDER BY hh, doc_id) AS rn,
                     count(*) OVER (PARTITION BY lang) AS cnt
              FROM h)
        SELECT doc_id, lang FROM r WHERE rn <= ceil(cnt * 0.25)
    """,
        "mix_domain_weights": """
        WITH per AS (SELECT source, count(*) AS n_docs,
                            CAST(sum(n_chars) AS BIGINT) AS size_total
                     FROM documents GROUP BY source),
        tot AS (SELECT sum(size_total) AS tot,
                       sum(pow(size_total, 0.5)) AS z FROM per)
        SELECT source, n_docs, size_total,
               round(size_total / tot, 6) AS share,
               round(pow(size_total, 0.5) / z, 6) AS weight
        FROM per, tot
    """,
        "pack_shards_lpt": """
        WITH r AS (SELECT doc_id, n_chars,
                          row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
                   FROM documents)
        SELECT CAST(rk % 8 AS INTEGER) AS shard, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS chars_total
        FROM r GROUP BY 1
    """,
    }
)


# --- text-cleaning stage: Gopher rules / line dedup / PII scrub --------
# (operators/text.py round-3 additions; each synthesizes its input
# deterministically from `documents` so the DuckDB oracle can state the
# expected output independently)


def txt_gopher_rules(spark, sf_dir):
    """Gopher quality RULES (Rae et al. 2021 thresholds) as boolean
    flags per doc — the accept/reject decision layer over the
    doc_quality features."""
    return text.gopher_rules(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    ).withColumnRenamed("id", "doc_id")


def txt_line_dedup(spark, sf_dir):
    """CCNet-style duplicated-line removal end-to-end: multi-line docs
    are synthesized (5 lines/doc, line = 60-char prefix of another
    doc's text chosen by a fixed mixing formula, so cross-doc duplicate
    lines exist by construction), then lines appearing in >=2 distinct
    docs are dropped and survivors reassembled in order."""
    docs = _t(spark, sf_dir, "documents")
    src = docs.where(
        (F.col("doc_id") < 500) & (F.length(F.trim("text")) > 0)
    ).select(
        F.col("doc_id").alias("sid"),
        F.substring(F.trim("text"), 1, 60).alias("frag"),
    )
    base = (
        docs.where(F.col("doc_id") < 300)
        .select("doc_id", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("pos"))
        .withColumn("src_id", (F.col("doc_id") * 7 + F.col("pos") * 13) % 500)
        .join(src, F.col("src_id") == src["sid"])
    )
    assembled = base.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "frag"))),
                lambda s: s["frag"],
            ),
        ).alias("text")
    )
    return text.line_dedup(assembled, "doc_id", "text", min_docs=2).withColumnRenamed(
        "id", "doc_id"
    )


def txt_dup_lines(spark, sf_dir):
    """Gopher §A1.2 duplicate line/paragraph rules end-to-end:
    8-line / 4-paragraph docs are synthesized from three 40-char
    fragments in the repeating pattern (a b / c a / b c / a b), so
    every doc has 5 duplicate lines of 8 and 1 duplicate paragraph of
    4 by construction; the operator's array-native duplicate fractions
    and pass flags must match the oracle's list-function replay."""
    docs = _t(spark, sf_dir, "documents")
    frag = docs.where(
        (F.col("doc_id") < 400) & (F.length(F.trim("text")) > 0)
    ).select(
        F.col("doc_id").alias("sid"),
        F.substring(F.trim("text"), 1, 40).alias("f"),
    )
    ids = docs.where(F.col("doc_id") < 300).select(
        "doc_id",
        ((F.col("doc_id") * 11) % 400).alias("a"),
        ((F.col("doc_id") * 11 + 17) % 400).alias("b"),
        ((F.col("doc_id") * 11 + 34) % 400).alias("c"),
    )
    fa, fb, fc = (frag.alias(n) for n in ("fa", "fb", "fc"))
    nl, pp = F.lit("\n"), F.lit("\n\n")
    asm = (
        ids.join(F.broadcast(fa), F.col("a") == F.col("fa.sid"))
        .join(F.broadcast(fb), F.col("b") == F.col("fb.sid"))
        .join(F.broadcast(fc), F.col("c") == F.col("fc.sid"))
        .select(
            "doc_id",
            F.concat(
                F.col("fa.f"), nl, F.col("fb.f"), pp,
                F.col("fc.f"), nl, F.col("fa.f"), pp,
                F.col("fb.f"), nl, F.col("fc.f"), pp,
                F.col("fa.f"), nl, F.col("fb.f"),
            ).alias("text"),
        )
    )
    return text.duplicate_line_stats(asm, "doc_id", "text").withColumnRenamed(
        "id", "doc_id"
    )


def txt_pii_redact(spark, sf_dir):
    """PII scrub: every doc gets one email, one IPv4, and one
    +international phone appended deterministically; the operator must
    count and redact exactly those (the corpus itself is letter-only
    word text). The oracle states the redacted text directly without
    re-running any regex."""
    sid = F.col("doc_id").cast("string")
    aug = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), sid, F.lit("@mail.example.org from 10."),
            (F.col("doc_id") % 200).cast("string"), F.lit(".0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call +1555000"), sid,
        ).alias("text"),
    )
    return text.pii_redact(aug, "doc_id", "text").withColumnRenamed("id", "doc_id")


QUERIES2.update(
    {
        "txt_gopher_rules": txt_gopher_rules,
        "txt_dup_lines": txt_dup_lines,
        "txt_line_dedup": txt_line_dedup,
        "txt_pii_redact": txt_pii_redact,
    }
)

ORACLES2.update(
    {
        "txt_gopher_rules": """
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents),
        feats AS (
            SELECT doc_id,
                   CAST(len(t) AS INTEGER) AS n_words,
                   round(length(list_aggregate(t, 'string_agg', ''))
                         * 1.0 / len(t), 4) AS mean_word_len,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[#]|[.]{3}|…')))
                         * 1.0 / len(t), 4) AS symbol_ratio,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[A-Za-z]')))
                         * 1.0 / len(t), 4) AS alpha_frac,
                   CAST(len(list_filter(t, x -> list_contains(
                         ['the','be','to','of','and','that','have','with'],
                         x))) AS INTEGER) AS n_stop
            FROM toks)
        SELECT *,
               (n_words BETWEEN 50 AND 100000) AS ok_words,
               (mean_word_len BETWEEN 3 AND 10) AS ok_word_len,
               (symbol_ratio < 0.1) AS ok_symbols,
               (alpha_frac >= 0.8) AS ok_alpha,
               (n_stop >= 2) AS ok_stop,
               ((n_words BETWEEN 50 AND 100000)
                AND (mean_word_len BETWEEN 3 AND 10)
                AND (symbol_ratio < 0.1)
                AND (alpha_frac >= 0.8)
                AND (n_stop >= 2)) AS pass_gopher
        FROM feats
    """,
        "txt_dup_lines": """
        WITH frag AS (
            SELECT doc_id AS sid, substr(trim(text), 1, 40) AS f
            FROM documents
            WHERE doc_id < 400 AND length(trim(text)) > 0),
        asm AS (
            SELECT i.doc_id,
                   fa.f || chr(10) || fb.f || chr(10) || chr(10) ||
                   fc.f || chr(10) || fa.f || chr(10) || chr(10) ||
                   fb.f || chr(10) || fc.f || chr(10) || chr(10) ||
                   fa.f || chr(10) || fb.f AS text
            FROM (SELECT doc_id,
                         (doc_id * 11) % 400 AS a,
                         (doc_id * 11 + 17) % 400 AS b,
                         (doc_id * 11 + 34) % 400 AS c
                  FROM documents WHERE doc_id < 300) i
            JOIN frag fa ON fa.sid = i.a
            JOIN frag fb ON fb.sid = i.b
            JOIN frag fc ON fc.sid = i.c),
        arrs AS (
            SELECT doc_id, length(text) AS tl,
                   list_filter(string_split(text, chr(10)),
                               x -> length(trim(x)) > 0) AS ls,
                   list_filter(string_split(text, chr(10) || chr(10)),
                               x -> length(trim(x)) > 0) AS ps
            FROM asm),
        fr AS (
            SELECT doc_id,
                   CASE WHEN len(ls) = 0 THEN 0.0 ELSE round(
                       (len(ls) - len(list_distinct(ls))) * 1.0 / len(ls), 4)
                   END AS dup_line_frac,
                   CASE WHEN tl = 0 THEN 0.0 ELSE round(
                       (coalesce(length(list_aggregate(ls, 'string_agg', '')), 0)
                        - coalesce(length(list_aggregate(list_distinct(ls),
                                                         'string_agg', '')), 0))
                       * 1.0 / tl, 4)
                   END AS dup_line_char_frac,
                   CASE WHEN len(ps) = 0 THEN 0.0 ELSE round(
                       (len(ps) - len(list_distinct(ps))) * 1.0 / len(ps), 4)
                   END AS dup_para_frac,
                   CASE WHEN tl = 0 THEN 0.0 ELSE round(
                       (coalesce(length(list_aggregate(ps, 'string_agg', '')), 0)
                        - coalesce(length(list_aggregate(list_distinct(ps),
                                                         'string_agg', '')), 0))
                       * 1.0 / tl, 4)
                   END AS dup_para_char_frac
            FROM arrs)
        SELECT *,
               (dup_line_frac <= 0.30) AS ok_dup_line,
               (dup_line_char_frac <= 0.20) AS ok_dup_line_char,
               (dup_para_frac <= 0.30) AS ok_dup_para,
               (dup_para_char_frac <= 0.20) AS ok_dup_para_char,
               ((dup_line_frac <= 0.30) AND (dup_line_char_frac <= 0.20)
                AND (dup_para_frac <= 0.30) AND (dup_para_char_frac <= 0.20))
               AS pass_dup
        FROM fr
    """,
        "txt_line_dedup": """
        WITH src AS (
            SELECT doc_id AS sid, substr(trim(text), 1, 60) AS frag
            FROM documents
            WHERE doc_id < 500 AND length(trim(text)) > 0),
        base AS (
            SELECT i.doc_id, p.pos, s.frag
            FROM (SELECT doc_id FROM documents WHERE doc_id < 300) i
            CROSS JOIN (SELECT unnest(range(5)) AS pos) p
            JOIN src s ON s.sid = (i.doc_id * 7 + p.pos * 13) % 500),
        dup AS (
            SELECT lower(trim(frag)) AS nrm
            FROM base WHERE lower(trim(frag)) <> ''
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        kept AS (
            SELECT b.* FROM base b
            WHERE lower(trim(b.frag)) NOT IN (SELECT nrm FROM dup)),
        tot AS (SELECT doc_id, count(*) AS n_lines FROM base GROUP BY 1),
        ra AS (
            SELECT doc_id,
                   string_agg(frag, chr(10) ORDER BY pos) AS clean_text,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id)
        SELECT t.doc_id,
               coalesce(ra.clean_text, '') AS clean_text,
               t.n_lines,
               CAST(t.n_lines - coalesce(ra.n_kept, 0) AS INT) AS n_removed
        FROM tot t LEFT JOIN ra ON ra.doc_id = t.doc_id
    """,
        "txt_pii_redact": """
        SELECT doc_id,
               1 AS n_emails, 1 AS n_ips, 1 AS n_phones,
               text || ' contact <EMAIL> from <IP> call <PHONE>' AS redacted
        FROM documents
    """,
    }
)


# --- standalone URL-seen + weighted sampling ----------------------------


def cf_anti_join(spark, sf_dir):
    """Bloom-prefiltered new-keys anti-join outside a crawl: candidates
    probe a throwaway sharded bloom over the seen set (built and probed
    executor-side, cogrouped), definitely-new rows skip the confirm
    shuffle, maybe-seen rows are confirmed exactly. The oracle states
    the exact anti-join answer — the filter must be invisible in the
    result."""
    from sandcrawler_spark.operators.bloom import seen_anti_join

    docs = _t(spark, sf_dir, "documents")
    cand = docs.where(F.col("doc_id") < 400).select(
        "doc_id", F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url")
    )
    seen = docs.where((F.col("doc_id") % 3 == 0)).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url")
    )
    return seen_anti_join(cand, seen, ["url"], "url")


def smp_weighted(spark, sf_dir):
    """Efraimidis-Spirakis deterministic weighted top-100 sample of
    documents, weight = n_chars (bigger docs proportionally more
    likely); the oracle reproduces the salted-hash draw and the
    u^(1/w) ranking exactly."""
    from sandcrawler_spark.operators import curation

    return curation.weighted_sample(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", k=100
    )


QUERIES2.update({"cf_anti_join": cf_anti_join, "smp_weighted": smp_weighted})

ORACLES2.update(
    {
        "cf_anti_join": """
        SELECT doc_id, 'u' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
        WHERE doc_id < 400 AND doc_id % 3 <> 0
    """,
        "smp_weighted": f"""
        WITH keyed AS (
            SELECT doc_id, n_chars,
                   round(pow(({_H60.format(salt='ws')} + 0.5) / 1152921504606846976.0,
                             1.0 / n_chars), 6) AS es_key
            FROM documents)
        SELECT doc_id, n_chars, es_key
        FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100
    """,
    }
)


# ===================================================== link graph (§2.8)
# Citation priority computed from the crawl's own link graph instead of
# taken as a datagen input (north_rule heap key #3). Deterministic
# closed synthetic graph: nodes = doc_id % 397 (397 prime < 500 docs at
# every SF, so all residues are present and every node has out-degree
# 3 — no dangling mass, which keeps the unrolled-SQL oracle exact; the
# dangling path is pytest-covered against numpy in test_linkgraph).

_LG_MOD = 397


def _lg_edges(spark, sf_dir):
    nodes = (
        _t(spark, sf_dir, "documents", fanout=False)
        .select((F.col("doc_id") % _LG_MOD).alias("node"))
        .distinct()
    )
    mk = lambda a, b: nodes.select(  # noqa: E731
        F.col("node").alias("src"),
        ((F.col("node") * a + b) % _LG_MOD).alias("dst"),
    )
    return mk(2, 1).unionByName(mk(3, 7)).unionByName(mk(5, 11))


def lg_pagerank(spark, sf_dir):
    """PageRank power iteration (3 rounds, d=0.85) over the synthetic
    closed graph; oracle unrolls the same three iterations as CTEs."""
    from sandcrawler_spark.operators.linkgraph import pagerank

    r = pagerank(_lg_edges(spark, sf_dir), iterations=3, damping=0.85)
    return r.select("node", F.bround("rank", 6).alias("rank"))


def lg_indegree(spark, sf_dir):
    """In-degree citation scoring normalized to [0,1]."""
    from sandcrawler_spark.operators.linkgraph import indegree_citation

    r = indegree_citation(_lg_edges(spark, sf_dir))
    return r.select("node", "in_deg", F.bround("citation", 6).alias("citation"))


def lg_anchor_topk(spark, sf_dir):
    """Top-2 inbound anchor texts per target URL (count desc, text asc)."""
    from sandcrawler_spark.operators.linkgraph import anchor_text_topk

    e = _lg_edges(spark, sf_dir).withColumn(
        "anchor", F.concat(F.lit("t"), (F.col("src") % 5).cast("string"))
    )
    return anchor_text_topk(e, k=2)


_LG_EDGES_SQL = f"""
nodes AS (SELECT DISTINCT doc_id % {_LG_MOD} AS node FROM documents),
edges AS (
  SELECT node AS src, (node * 2 + 1) % {_LG_MOD} AS dst FROM nodes
  UNION ALL SELECT node, (node * 3 + 7) % {_LG_MOD} FROM nodes
  UNION ALL SELECT node, (node * 5 + 11) % {_LG_MOD} FROM nodes
)
"""

_LG_ITER_SQL = """
r{next} AS (SELECT n.node,
        0.15 / {mod} + 0.85 * coalesce(sum(r{prev}.r / 3.0), 0) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN r{prev} ON r{prev}.node = e.src
        GROUP BY n.node)
"""

QUERIES2.update(
    {
        "lg_pagerank": lg_pagerank,
        "lg_indegree": lg_indegree,
        "lg_anchor_topk": lg_anchor_topk,
    }
)

ORACLES2.update(
    {
        "lg_pagerank": f"""
        WITH {_LG_EDGES_SQL},
        r0 AS (SELECT node, 1.0 / {_LG_MOD} AS r FROM nodes),
        {_LG_ITER_SQL.format(next=1, prev=0, mod=_LG_MOD)},
        {_LG_ITER_SQL.format(next=2, prev=1, mod=_LG_MOD)},
        {_LG_ITER_SQL.format(next=3, prev=2, mod=_LG_MOD)}
        SELECT node, round(r, 6) AS rank FROM r3
    """,
        "lg_indegree": f"""
        WITH {_LG_EDGES_SQL},
        indeg AS (SELECT n.node, count(e.src) AS in_deg
                  FROM nodes n LEFT JOIN edges e ON e.dst = n.node
                  GROUP BY n.node),
        mx AS (SELECT max(in_deg) AS mx FROM indeg)
        SELECT node, in_deg,
               round(CAST(in_deg AS DOUBLE) / mx.mx, 6) AS citation
        FROM indeg, mx
    """,
        "lg_anchor_topk": f"""
        WITH {_LG_EDGES_SQL},
        counts AS (SELECT dst AS url,
                          't' || CAST(src % 5 AS VARCHAR) AS anchor,
                          count(*) AS n
                   FROM edges GROUP BY 1, 2),
        ranked AS (SELECT url, anchor, n,
                          CAST(row_number() OVER (
                            PARTITION BY url ORDER BY n DESC, anchor ASC
                          ) AS INTEGER) AS rk
                   FROM counts)
        SELECT url, anchor, n, rk FROM ranked WHERE rk <= 2
    """,
    }
)


# ==================================================== retrieval (BM25 / tf-idf)
# Probe queries over the synthetic corpus vocabulary; q3 contains a
# term absent from every document (drops out of the inner term join on
# both sides). BM25 constants k1=1.2, b=0.75 are literal in the oracle.

_IR_QUERIES = [
    (0, "hash"), (0, "join"),
    (1, "window"), (1, "sort"), (1, "order"),
    (2, "dup"), (2, "vector"),
    (3, "zzzmissing"), (3, "batch"),
]


def ir_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-5 per probe query; oracle rebuilds the identical
    postings/idf/length-normalization arithmetic in SQL."""
    from sandcrawler_spark.operators.retrieval import bm25_topk

    q = spark.createDataFrame(_IR_QUERIES, "query_id int, term string")
    return bm25_topk(_t(spark, sf_dir, "documents"), q, k=5)


def ir_tfidf_terms(spark, sf_dir):
    """Top-3 tf-idf keywords per document."""
    from sandcrawler_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def lg_hits(spark, sf_dir):
    """HITS hubs/authorities, 2 L1-normalized iterations over the same
    closed synthetic graph as lg_pagerank."""
    from sandcrawler_spark.operators.linkgraph import hits

    r = hits(_lg_edges(spark, sf_dir), iterations=2)
    return r.select(
        "node", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


_IR_QVALUES = ", ".join(f"({i}, '{t}')" for i, t in _IR_QUERIES)

_IR_POST_SQL = """
toks2 AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t
          FROM documents),
post AS (SELECT doc_id, dl, term, count(*) AS tf FROM (
           SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks2)
         WHERE length(term) > 0 GROUP BY 1, 2, 3),
dfs AS (SELECT term, count(DISTINCT doc_id) AS df FROM post GROUP BY 1)
"""

# raw (unnormalized) gathers — HITS is linear, so deferring the L1
# normalization to one final division is exactly the per-step-
# normalized result; the linear CTE chain also keeps DuckDB from
# re-inlining anything (each frame referenced once until the end)
_LG_HITS_ITER_SQL = """
a{i} AS MATERIALIZED (
          SELECT n.node, coalesce(sum(h{prev}.hub), 0) AS auth
          FROM nodes n
          LEFT JOIN edges e ON e.dst = n.node
          LEFT JOIN h{prev} ON h{prev}.node = e.src
          GROUP BY n.node),
h{i} AS MATERIALIZED (
          SELECT n.node, coalesce(sum(a{i}.auth), 0) AS hub
          FROM nodes n
          LEFT JOIN edges e ON e.src = n.node
          LEFT JOIN a{i} ON a{i}.node = e.dst
          GROUP BY n.node)
"""

QUERIES2.update(
    {
        "ir_bm25_topk": ir_bm25_topk,
        "ir_tfidf_terms": ir_tfidf_terms,
        "lg_hits": lg_hits,
    }
)

ORACLES2.update(
    {
        "ir_bm25_topk": f"""
        WITH {_IR_POST_SQL},
        qterms(query_id, term) AS (VALUES {_IR_QVALUES}),
        stats AS (SELECT (SELECT count(*) FROM documents) AS n,
                         (SELECT avg(dl) FROM
                            (SELECT DISTINCT doc_id, dl FROM post)) AS avgdl),
        scored AS (
          SELECT q.query_id, p.doc_id,
                 round(sum(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * 2.2)
                   / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl))
                 ), 6) AS score
          FROM post p
          JOIN (SELECT DISTINCT query_id, term FROM qterms) q USING (term)
          JOIN dfs d USING (term), stats s
          GROUP BY 1, 2),
        ranked AS (SELECT query_id, doc_id, score,
                          CAST(row_number() OVER (
                            PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC
                          ) AS INTEGER) AS rk
                   FROM scored)
        SELECT query_id, doc_id, score, rk FROM ranked WHERE rk <= 5
    """,
        "ir_tfidf_terms": f"""
        WITH {_IR_POST_SQL},
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (SELECT p.doc_id, p.term,
                          round(p.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df), 6)
                            AS score
                   FROM post p JOIN dfs d USING (term), n),
        ranked AS (SELECT doc_id, term, score,
                          CAST(row_number() OVER (
                            PARTITION BY doc_id
                            ORDER BY score DESC, term ASC
                          ) AS INTEGER) AS rk
                   FROM scored)
        SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
    """,
        "lg_hits": f"""
        WITH {_LG_EDGES_SQL},
        h0 AS (SELECT node, 1.0 AS hub FROM nodes),
        {_LG_HITS_ITER_SQL.format(i=1, prev=0)},
        {_LG_HITS_ITER_SQL.format(i=2, prev=1)},
        sums AS MATERIALIZED (
          SELECT (SELECT sum(auth) FROM a2) AS asum,
                 (SELECT sum(hub) FROM h2) AS hsum)
        SELECT h2.node,
               round(h2.hub / nullif(hsum, 0), 6) AS hub,
               round(a2.auth / nullif(asum, 0), 6) AS auth
        FROM h2 JOIN a2 USING (node), sums
    """,
    }
)


# ============================================== BFS discovery depth (§2.8)
# Seeds = nodes ≡ 0 (mod 10) of the closed synthetic graph; 3 levels
# unrolled in the oracle with explicit anti-joins per level.


def lg_bfs_depth(spark, sf_dir):
    """Min-hop discovery depth from the mod-10 seed set, 3 levels;
    early_stop=False keeps the battery plan fully lazy."""
    from sandcrawler_spark.operators.linkgraph import bfs_depths, graph_nodes

    edges = _lg_edges(spark, sf_dir)
    seeds = graph_nodes(edges).filter(F.col("node") % 10 == 0)
    return bfs_depths(edges, seeds, max_depth=3, early_stop=False)


QUERIES2["lg_bfs_depth"] = lg_bfs_depth

ORACLES2["lg_bfs_depth"] = f"""
        WITH {_LG_EDGES_SQL},
        d0 AS MATERIALIZED (SELECT node FROM nodes WHERE node % 10 = 0),
        d1 AS MATERIALIZED (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN d0 ON e.src = d0.node
          WHERE e.dst NOT IN (SELECT node FROM d0)),
        d2 AS MATERIALIZED (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN d1 ON e.src = d1.node
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM d1)),
        d3 AS MATERIALIZED (
          SELECT DISTINCT e.dst AS node FROM edges e
          JOIN d2 ON e.src = d2.node
          WHERE e.dst NOT IN (SELECT node FROM d0)
            AND e.dst NOT IN (SELECT node FROM d1)
            AND e.dst NOT IN (SELECT node FROM d2))
        SELECT node, CAST(0 AS INTEGER) AS depth FROM d0
        UNION ALL SELECT node, 1 FROM d1
        UNION ALL SELECT node, 2 FROM d2
        UNION ALL SELECT node, 3 FROM d3
"""


# =========================================== composed curation pipeline
def pipe_curation(spark, sf_dir):
    """Exact-dedup (min-id canonical) → Gopher quality gate → keep/drop
    reason per doc, as one composed plan."""
    from sandcrawler_spark.operators.curation import curation_decisions

    return curation_decisions(_t(spark, sf_dir, "documents"))


QUERIES2["pipe_curation"] = pipe_curation

ORACLES2["pipe_curation"] = """
        WITH hashed AS (
            SELECT doc_id, text, md5(lower(trim(text))) AS h
            FROM documents),
        canon AS (SELECT h, min(doc_id) AS keep_id FROM hashed GROUP BY h),
        toksq AS (
            SELECT hashed.doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM hashed JOIN canon USING (h)
            WHERE hashed.doc_id = canon.keep_id),
        feats AS (
            SELECT doc_id,
                   len(t) AS n_words,
                   round(length(list_aggregate(t, 'string_agg', ''))
                         * 1.0 / len(t), 4) AS mean_word_len,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[#]|[.]{3}|…')))
                         * 1.0 / len(t), 4) AS symbol_ratio,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[A-Za-z]')))
                         * 1.0 / len(t), 4) AS alpha_frac,
                   len(list_filter(t, x -> list_contains(
                         ['the','be','to','of','and','that','have','with'],
                         x))) AS n_stop
            FROM toksq),
        gates AS (
            SELECT doc_id,
                   ((n_words BETWEEN 50 AND 100000)
                    AND (mean_word_len BETWEEN 3 AND 10)
                    AND (symbol_ratio < 0.1)
                    AND (alpha_frac >= 0.8)
                    AND (n_stop >= 2)) AS pass_gopher
            FROM feats)
        SELECT hashed.doc_id,
               CASE WHEN hashed.doc_id <> canon.keep_id THEN 'exact_dup'
                    WHEN NOT gates.pass_gopher THEN 'gopher_fail'
                    ELSE 'kept' END AS reason
        FROM hashed
        JOIN canon USING (h)
        LEFT JOIN gates ON gates.doc_id = hashed.doc_id
"""


# ======================================= exact duplicated-substring spans
def dd_substring_spans(spark, sf_dir):
    """Maximal exact duplicated token spans (Lee et al. substring
    dedup): docs are synthesized so groups of 4 share a 120-char
    fragment by construction (doc_id < 200 gets its own 180-char prefix
    + the fragment of source (doc_id*7) % 50), then every shared
    >= 12-token run is recovered via k-gram anchors + diagonal merge."""
    from sandcrawler_spark.operators.dedup import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    srcf = docs.where(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("sid"),
        F.substring(F.trim("text"), 1, 120).alias("frag"),
    )
    base = (
        docs.where(F.col("doc_id") < 200)
        .withColumn("src_id", (F.col("doc_id") * 7) % 50)
        .join(srcf, F.col("src_id") == F.col("sid"))
        .select(
            "doc_id",
            F.concat(
                F.substring(F.trim("text"), 1, 180), F.lit(" "), F.col("frag")
            ).alias("text"),
        )
    )
    return duplicated_spans(base, "doc_id", "text", k=8, min_len=12)


QUERIES2["dd_substring_spans"] = dd_substring_spans

ORACLES2["dd_substring_spans"] = """
        WITH srcf AS (
            SELECT doc_id AS sid, substr(trim(text), 1, 120) AS frag
            FROM documents WHERE doc_id < 50),
        base AS (
            SELECT d.doc_id,
                   substr(trim(d.text), 1, 180) || ' ' || s.frag AS text
            FROM documents d
            JOIN srcf s ON s.sid = (d.doc_id * 7) % 50
            WHERE d.doc_id < 200),
        toksd AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM base),
        grams AS (
            SELECT doc_id AS id, CAST(u.p AS INTEGER) AS p, u.g AS g
            FROM (SELECT * FROM toksd WHERE len(t) >= 8) toksd,
            unnest([{'p': i - 1,
                     'g': list_aggregate(t[i:i+7], 'string_agg', ' ')}
                    for i in range(1, len(t) - 8 + 2)]) AS _(u)),
        hits AS (
            SELECT a.id AS id1, b.id AS id2, a.p AS p1, b.p AS p2,
                   a.p - b.p AS diag
            FROM grams a JOIN grams b ON a.g = b.g AND a.id < b.id),
        runs AS (
            SELECT *, p1 - row_number() OVER (
                        PARTITION BY id1, id2, diag ORDER BY p1) AS island
            FROM hits)
        SELECT id1, id2,
               min(p1) AS start1, min(p2) AS start2,
               count(*) + 7 AS span_len
        FROM runs
        GROUP BY id1, id2, diag, island
        HAVING count(*) + 7 >= 12
"""


# ===================================================== sitemap ingestion
def src_sitemap_entries(spark, sf_dir):
    """Sitemap parsing end-to-end: one sitemap per host bucket
    (doc_id % 10) assembled from the documents table — <loc> always,
    <lastmod> always, <priority> only for doc_id % 3 == 0 (exercising
    the optional-field null path) plus one child-sitemap index block —
    then parsed back to entry rows."""
    from sandcrawler_spark.sources.sitemaps import sitemap_entries

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    g = (F.col("doc_id") % 10).cast("string")
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    frag = F.concat(
        F.lit("<url><loc> http://h"), g,
        F.lit(".example.org/d/"), F.col("doc_id").cast("string"),
        F.lit(" </loc><lastmod>2024-01-"), day, F.lit("</lastmod>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<priority>0."),
                (F.col("doc_id") % 9).cast("string"),
                F.lit("</priority>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>\n"),
    )
    assembled = (
        d.select(g.alias("g"), F.col("doc_id"), frag.alias("frag"))
        .groupBy("g")
        .agg(
            F.concat(
                F.lit("<urlset>\n"),
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "frag"))),
                        lambda s: s["frag"],
                    ),
                ),
                F.lit("<sitemap><loc>http://h"), F.col("g"),
                F.lit(".example.org/child.xml</loc></sitemap>\n</urlset>"),
            ).alias("xml")
        )
        .select(
            F.concat(
                F.lit("http://h"), F.col("g"), F.lit(".example.org/sitemap.xml")
            ).alias("fetch_url"),
            "xml",
        )
    )
    return sitemap_entries(assembled)


QUERIES2["src_sitemap_entries"] = src_sitemap_entries

ORACLES2["src_sitemap_entries"] = r"""
        WITH frags AS (
            SELECT doc_id,
                   CAST(doc_id % 10 AS VARCHAR) AS g,
                   '<url><loc> http://h' || CAST(doc_id % 10 AS VARCHAR)
                   || '.example.org/d/' || CAST(doc_id AS VARCHAR)
                   || ' </loc><lastmod>2024-01-'
                   || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                   || '</lastmod>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<priority>0.' || CAST(doc_id % 9 AS VARCHAR)
                                || '</priority>'
                           ELSE '' END
                   || '</url>' || chr(10) AS frag
            FROM documents WHERE doc_id < 100),
        sm AS (
            SELECT 'http://h' || g || '.example.org/sitemap.xml' AS fetch_url,
                   '<urlset>' || chr(10)
                   || string_agg(frag, '' ORDER BY doc_id)
                   || '<sitemap><loc>http://h' || g
                   || '.example.org/child.xml</loc></sitemap>'
                   || chr(10) || '</urlset>' AS xml
            FROM frags GROUP BY g),
        url_blocks AS (
            SELECT fetch_url, 'url' AS kind,
                   unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS b
            FROM sm),
        sm_blocks AS (
            SELECT fetch_url, 'sitemap' AS kind,
                   unnest(regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS b
            FROM sm),
        blocks AS (SELECT * FROM url_blocks UNION ALL SELECT * FROM sm_blocks),
        parsed AS (
            SELECT fetch_url, kind,
                   regexp_extract(b, '(?s)<loc>\s*(.*?)\s*</loc>', 1) AS url,
                   nullif(regexp_extract(b, '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1), '') AS lastmod,
                   CAST(nullif(regexp_extract(b, '(?s)<priority>\s*(.*?)\s*</priority>', 1), '') AS DOUBLE) AS sm_priority
            FROM blocks)
        SELECT * FROM parsed WHERE length(url) > 0
"""


# =============================================== corpus length quantiles
def txt_len_quantiles(spark, sf_dir):
    """Per-language exact length quantiles (corpus QA report). Exact
    `percentile` keeps the DuckDB oracle bit-checkable (both sides are
    linear interpolation over the sorted group); at 10^10 docs swap in
    `approx_percentile` — same report, sketch-based, no per-group sort."""
    q = F.expr("percentile(n_chars, array(0.5, 0.9, 0.99))")
    return (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(q[0], 6).alias("p50"),
            F.round(q[1], 6).alias("p90"),
            F.round(q[2], 6).alias("p99"),
        )
    )


QUERIES2["txt_len_quantiles"] = txt_len_quantiles

ORACLES2["txt_len_quantiles"] = """
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.5), 6) AS p50,
               round(quantile_cont(n_chars, 0.9), 6) AS p90,
               round(quantile_cont(n_chars, 0.99), 6) AS p99
        FROM documents GROUP BY lang
"""


# ======================================================= RSS/Atom feeds
def src_feed_entries(spark, sf_dir):
    """Feed parsing end-to-end: one RSS feed per even host bucket and
    one Atom feed per odd bucket, assembled from the documents table,
    parsed back to sitemap-shaped entry rows."""
    from sandcrawler_spark.sources.feeds import feed_entries

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    g = (F.col("doc_id") % 6).cast("string")
    loc = F.concat(
        F.lit("http://h"), g, F.lit(".example.org/p/"),
        F.col("doc_id").cast("string"),
    )
    day = F.lpad(((F.col("doc_id") % 28) + 1).cast("string"), 2, "0")
    rss_item = F.concat(
        F.lit("<item><title>t</title><link>"), loc,
        F.lit("</link><pubDate>Mon, "), day,
        F.lit(" Jan 2024 00:00:00 GMT</pubDate></item>\n"),
    )
    atom_entry = F.concat(
        F.lit('<entry><link rel="alternate" href="'), loc,
        F.lit('"/><updated>2024-01-'), day,
        F.lit("T00:00:00Z</updated></entry>\n"),
    )
    frag = F.when(F.col("doc_id") % 2 == 0, rss_item).otherwise(atom_entry)
    assembled = (
        d.select(g.alias("g"), F.col("doc_id"), frag.alias("frag"))
        .groupBy("g")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "frag"))),
                    lambda s: s["frag"],
                ),
            ).alias("xml")
        )
        .select(
            F.concat(
                F.lit("http://h"), F.col("g"), F.lit(".example.org/feed.xml")
            ).alias("fetch_url"),
            "xml",
        )
    )
    return feed_entries(assembled)


QUERIES2["src_feed_entries"] = src_feed_entries

ORACLES2["src_feed_entries"] = r"""
        WITH frags AS (
            SELECT doc_id,
                   CAST(doc_id % 6 AS VARCHAR) AS g,
                   'http://h' || CAST(doc_id % 6 AS VARCHAR)
                   || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS loc,
                   lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') AS day
            FROM documents WHERE doc_id < 60),
        pieces AS (
            SELECT doc_id, g,
                   CASE WHEN doc_id % 2 = 0
                        THEN '<item><title>t</title><link>' || loc
                             || '</link><pubDate>Mon, ' || day
                             || ' Jan 2024 00:00:00 GMT</pubDate></item>' || chr(10)
                        ELSE '<entry><link rel="alternate" href="' || loc
                             || '"/><updated>2024-01-' || day
                             || 'T00:00:00Z</updated></entry>' || chr(10)
                   END AS frag
            FROM frags),
        feeds AS (
            SELECT 'http://h' || g || '.example.org/feed.xml' AS fetch_url,
                   string_agg(frag, '' ORDER BY doc_id) AS xml
            FROM pieces GROUP BY g),
        rss AS (
            SELECT fetch_url,
                   unnest(regexp_extract_all(xml, '(?s)<item>(.*?)</item>', 1)) AS b,
                   '(?s)<link>\s*(.*?)\s*</link>' AS link_re,
                   '(?s)<pubDate>\s*(.*?)\s*</pubDate>' AS date_re
            FROM feeds),
        atom AS (
            SELECT fetch_url,
                   unnest(regexp_extract_all(xml, '(?s)<entry>(.*?)</entry>', 1)) AS b,
                   '(?s)<link[^>]*href="([^"]*)"' AS link_re,
                   '(?s)<updated>\s*(.*?)\s*</updated>' AS date_re
            FROM feeds),
        blocks AS (SELECT * FROM rss UNION ALL SELECT * FROM atom),
        parsed AS (
            SELECT fetch_url, 'url' AS kind,
                   regexp_extract(b, link_re, 1) AS url,
                   nullif(regexp_extract(b, date_re, 1), '') AS lastmod,
                   CAST(NULL AS DOUBLE) AS sm_priority
            FROM blocks)
        SELECT * FROM parsed WHERE length(url) > 0
"""


# ================================================ unigram-LM quality score
def txt_unigram_nll(spark, sf_dir):
    """Mean per-token NLL under the corpus's own add-0.5-smoothed
    unigram LM (the SQL-replayable stand-in for CCNet's KenLM
    perplexity filter)."""
    from sandcrawler_spark.operators.retrieval import unigram_nll

    return unigram_nll(_t(spark, sf_dir, "documents"), alpha=0.5)


QUERIES2["txt_unigram_nll"] = txt_unigram_nll

ORACLES2["txt_unigram_nll"] = """
        WITH toksu AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents),
        post AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM (
              SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toksu)
            WHERE length(term) > 0 GROUP BY 1, 2, 3),
        counts AS (SELECT term, sum(tf) AS cnt FROM post GROUP BY 1),
        totals AS (SELECT sum(cnt) AS t_tokens, count(*) AS v_size
                   FROM counts)
        SELECT p.doc_id,
               round(-sum(p.tf * ln((c.cnt + 0.5)
                                    / (tt.t_tokens + 0.5 * tt.v_size)))
                     / any_value(p.dl), 6) AS nll
        FROM post p JOIN counts c USING (term), totals tt
        GROUP BY p.doc_id
"""


# ============================================ span interleaving profile
def sp_interleave_stats(spark, sf_dir):
    """Multimodal interleave QA over synthesized span sequences: doc_id
    < 300 gets 6 spans, kind = media wherever (doc_id + offset) % 3 ==
    0, then the per-doc alternation/ratio profile."""
    from sandcrawler_spark.operators.spans import interleave_stats

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    rows = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("offset")
    ).select(
        "doc_id",
        F.when((F.col("doc_id") + F.col("offset")) % 3 == 0, F.lit("image"))
        .otherwise(F.lit("text"))
        .alias("kind"),
        "offset",
    )
    return interleave_stats(rows)


QUERIES2["sp_interleave_stats"] = sp_interleave_stats

ORACLES2["sp_interleave_stats"] = """
        WITH rows_ AS (
            SELECT doc_id, u.off AS "offset",
                   CASE WHEN (doc_id + u.off) % 3 = 0 THEN 'image'
                        ELSE 'text' END AS kind
            FROM (SELECT doc_id FROM documents WHERE doc_id < 300),
                 (SELECT unnest(range(6)) AS off) u),
        flagged AS (
            SELECT doc_id, kind, "offset",
                   CASE WHEN kind <> 'text' THEN 1 ELSE 0 END AS m,
                   CASE WHEN lag(kind) OVER (
                            PARTITION BY doc_id ORDER BY "offset") IS NOT NULL
                         AND kind <> lag(kind) OVER (
                            PARTITION BY doc_id ORDER BY "offset")
                        THEN 1 ELSE 0 END AS alt
            FROM rows_)
        SELECT doc_id,
               count(*) AS n_spans,
               CAST(sum(m) AS BIGINT) AS n_media,
               round(sum(m) * 1.0 / count(*), 6) AS media_fraction,
               CAST(min(CASE WHEN m = 1 THEN "offset" END) AS INTEGER) AS first_media_offset,
               CAST(sum(alt) AS BIGINT) AS alternations
        FROM flagged GROUP BY doc_id
"""


# ========================================================= mirror hosts
def dd_mirror_hosts(spark, sf_dir):
    """Host-level mirror detection over synthetic host→content
    assignments: host h_k serves every doc with doc_id % 7 == k % 7
    (so hosts k and k+7 are exact mirrors), plus hosts 20/21 share a
    half-overlapping slice."""
    from sandcrawler_spark.operators.dedup import mirror_hosts

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 14).cast("string")).alias("host"),
        F.md5(F.col("text")).alias("sha1hex"),
    ).unionByName(
        d.where(F.col("doc_id") % 7 < 4).select(
            F.concat(F.lit("m"), ((F.col("doc_id") % 14) + 100).cast("string")).alias("host"),
            F.md5(F.col("text")).alias("sha1hex"),
        )
    )
    return mirror_hosts(base, tau=0.3)


QUERIES2["dd_mirror_hosts"] = dd_mirror_hosts

ORACLES2["dd_mirror_hosts"] = """
        WITH assign AS (
            SELECT 'h' || CAST(doc_id % 14 AS VARCHAR) AS host,
                   md5(text) AS c
            FROM documents
            UNION ALL
            SELECT 'm' || CAST((doc_id % 14) + 100 AS VARCHAR) AS host,
                   md5(text) AS c
            FROM documents WHERE doc_id % 7 < 4),
        sets AS (SELECT DISTINCT host, c FROM assign),
        sizes AS (SELECT host, count(*) AS sz FROM sets GROUP BY host),
        inter AS (
            SELECT a.host AS host1, b.host AS host2, count(*) AS inter
            FROM sets a JOIN sets b ON a.c = b.c AND a.host < b.host
            GROUP BY 1, 2),
        scored AS (
            SELECT i.host1, i.host2, i.inter,
                   round(i.inter * 1.0 / (s1.sz + s2.sz - i.inter), 6) AS jacc
            FROM inter i
            JOIN sizes s1 ON s1.host = i.host1
            JOIN sizes s2 ON s2.host = i.host2)
        SELECT host1, host2, inter, jacc FROM scored WHERE jacc >= 0.3
"""


# =========================================================== SemDeDup
def dd_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table with the first 8 vectors as
    fixed centroids (tau 0.99 — synthetic embeddings are near-uniform,
    so only near-identical pairs prune)."""
    from sandcrawler_spark.operators.similarity import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, emb.filter(F.col("vec_id") < 8), tau=0.99)


QUERIES2["dd_semdedup"] = dd_semdedup

ORACLES2["dd_semdedup"] = """
        WITH cen AS (SELECT vec_id AS centroid_id,
                            CAST(embedding AS DOUBLE[]) AS cv
                     FROM embeddings WHERE vec_id < 8),
        c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        s AS (SELECT vec_id, centroid_id,
                     round(list_cosine_similarity(v, cv), 6) AS sim
              FROM c CROSS JOIN cen),
        assign AS (
            SELECT vec_id, centroid_id FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY sim DESC, centroid_id ASC) AS rn FROM s)
            WHERE rn = 1),
        va AS (SELECT c.vec_id, c.v, a.centroid_id
               FROM c JOIN assign a USING (vec_id)),
        dups AS (
            SELECT DISTINCT b.vec_id
            FROM va a JOIN va b
              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99)
        SELECT va.vec_id, va.centroid_id,
               (d.vec_id IS NULL) AS keep
        FROM va LEFT JOIN dups d ON d.vec_id = va.vec_id
"""


# ================================================== mixture application
def smp_mixture_sample(spark, sf_dir):
    """Apply the alpha=0.5 domain mixture at a 30%-of-corpus char
    budget: per-lang ppm rates from the weight table, deterministic
    md5 draws."""
    from sandcrawler_spark.operators.curation import mixture_sample

    d = _t(spark, sf_dir, "documents")
    budget = 0.3 * (d.agg(F.sum("n_chars")).first()[0] or 0)
    return mixture_sample(
        d, "lang", "n_chars", "doc_id", budget, alpha=0.5
    ).select("doc_id", "lang", "rate_ppm")


QUERIES2["smp_mixture_sample"] = smp_mixture_sample

ORACLES2["smp_mixture_sample"] = """
        WITH per AS (
            SELECT lang, count(*) AS n_docs, sum(n_chars) AS size_total
            FROM documents GROUP BY lang),
        tot AS (SELECT sum(size_total) AS t,
                       sum(power(size_total, 0.5)) AS z,
                       0.3 * sum(size_total) AS budget
                FROM per),
        rates AS (
            SELECT lang,
                   CAST(floor(least(
                     1.0,
                     round(power(size_total, 0.5) / z, 6) * budget
                       / size_total) * 1000000) AS BIGINT) AS rate_ppm
            FROM per, tot)
        SELECT d.doc_id, d.lang, r.rate_ppm
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(concat('0x',
                substr(md5(concat('mix', CAST(d.doc_id AS VARCHAR))), 1, 15))
              AS BIGINT) % 1000000 < r.rate_ppm
"""


# --- adaptive re-crawl + DSIR importance sampling (session-6) ----------


def fr_change_rate(spark, sf_dir):
    """Cho & Garcia-Molina change-rate estimation (operators/freshness):
    the `events` stream stands in for capture history — user_id is the
    page key, ts the capture time, event_type the content digest. Per
    key: n observations, X consecutive-pair changes, span T → Poisson
    λ̂ (changes/day) + expected staleness at the corpus horizon."""
    from sandcrawler_spark.operators import freshness

    ev = _t(spark, sf_dir, "events", fanout=False).select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        "ts",
        F.col("event_type").alias("dg"),
    )
    return freshness.estimate_change_rates(
        ev, url_col="url", ts_col="ts", digest_col="dg", min_captures=3
    )


def cu_dsir_score(spark, sf_dir):
    """DSIR importance scoring (Xie et al. 2023, operators/curation):
    hashed-unigram LM log-likelihood ratio of the English subset
    (target) vs the rest, per document."""
    from sandcrawler_spark.operators import curation

    docs = _t(spark, sf_dir, "documents").withColumn(
        "is_en", F.col("lang") == "en"
    )
    return curation.dsir_scores(docs, "doc_id", "text", "is_en", buckets=4096)


QUERIES2.update({"fr_change_rate": fr_change_rate, "cu_dsir_score": cu_dsir_score})

ORACLES2.update(
    {
        "fr_change_rate": """
        WITH seq AS (
            SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
                   epoch(ts) AS ts_s,
                   CASE WHEN lag(event_type) OVER w IS NULL THEN 0
                        WHEN event_type <> lag(event_type) OVER w THEN 1
                        ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts), event_type)),
        per AS (
            SELECT url, count(*) AS n_caps,
                   CAST(sum(chg) AS BIGINT) AS n_changes,
                   max(ts_s) - min(ts_s) AS span_raw,
                   max(ts_s) AS last_s
            FROM seq GROUP BY url
            HAVING count(*) >= 3 AND max(ts_s) - min(ts_s) > 0),
        now_t AS (SELECT max(last_s) AS now_s FROM per)
        SELECT url, n_caps, n_changes,
               CAST(floor(span_raw) AS BIGINT) AS span_seconds,
               round(-ln((n_caps - n_changes + 0.5) / (n_caps + 0.5))
                     / (span_raw / n_caps) * 86400.0, 6) AS lambda_day,
               round(1.0 - exp(ln((n_caps - n_changes + 0.5) / (n_caps + 0.5))
                     / (span_raw / n_caps) * (now_s - last_s)), 6) AS staleness
        FROM per, now_t
    """,
        "cu_dsir_score": """
        WITH toks AS (
            SELECT doc_id, (lang = 'en') AS tgt,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
            FROM documents),
        t2 AS (
            SELECT doc_id, tgt,
                   CAST(concat('0x', substr(md5(concat('dsir', tok)), 1, 15))
                        AS BIGINT) % 4096 AS b
            FROM toks WHERE tok <> ''),
        pb AS (
            SELECT b, CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                      CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS nr
            FROM t2 GROUP BY b),
        tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt,
                       CAST(sum(nr) AS BIGINT) AS rr FROM pb),
        ratio AS (
            SELECT b, ln((nt + 1.0) / (tt + 4096.0))
                      - ln((nr + 1.0) / (rr + 4096.0)) AS lr
            FROM pb, tot)
        SELECT t2.doc_id, count(*) AS n_toks,
               round(sum(lr), 6) AS dsir_score
        FROM t2 JOIN ratio USING (b)
        GROUP BY t2.doc_id
    """,
    }
)


def bib_metadata_filter(spark, sf_dir):
    """GROBID-metadata quality gate (filter_grobid_metadata.py:46-160
    via operators/biblio.py::filter_biblio_metadata): synthesized
    title/authors/journal variants per doc_id arm; the oracle states
    the expected survivors and cleaned fields independently."""
    from sandcrawler_spark.operators.biblio import filter_biblio_metadata

    i = F.col("doc_id")
    sid = i.cast("string")
    src = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(i % 8 == 0, F.concat(F.lit("Study of subject "), sid,
                                    F.lit(": methods and results")))
        .when(i % 8 == 1, F.lit("Impact Factor: 2.114"))
        .when(i % 8 == 2, F.lit("nr short"))
        .when(i % 8 == 3, F.concat(F.lit("The Journal of Synthetic Results "), sid))
        .when(i % 8 == 4, F.lit("A b c d e f g h i j k l m n useful"))
        .when(i % 8 == 5, F.concat(F.lit("Volume 2 Issue 3 results for item "), sid))
        .when(i % 8 == 6, F.concat(F.lit("Ver. 2. results for item "), sid))
        .otherwise(F.concat(F.lit("A perfectly ordinary useful title "), sid))
        .alias("title"),
        F.when(i % 4 == 0, F.array(F.lit("Jane Q Doe"), F.lit("PhD")))
        .when(i % 4 == 1, F.array(F.lit("John 123 456")))
        .when(i % 4 == 2, F.array(F.lit("phd student")))
        .otherwise(F.array(F.lit("Ana B Cruz"), F.lit("D. E.")))
        .alias("authors"),
        F.when(i % 5 == 0, F.lit("Journal of Tests e-ISSN"))
        .when(i % 5 == 1, F.lit("xy"))
        .when(i % 5 == 2, F.lit("Research Article Fine Journal ISSN"))
        .when(i % 5 == 3, F.lit(None).cast("string"))
        .otherwise(F.lit("Plain   Journal"))
        .alias("journal"),
    )
    return filter_biblio_metadata(src).select(
        "doc_id",
        "title",
        F.array_join("authors", "|").alias("authors_str"),
        F.size("authors").alias("n_authors"),
        "journal",
    )


QUERIES2.update({"bib_metadata_filter": bib_metadata_filter})

ORACLES2.update(
    {
        "bib_metadata_filter": """
        SELECT doc_id,
               CASE doc_id % 8
                 WHEN 0 THEN 'Study of subject ' || CAST(doc_id AS VARCHAR)
                             || ': methods and results'
                 ELSE 'A perfectly ordinary useful title '
                      || CAST(doc_id AS VARCHAR)
               END AS title,
               CASE doc_id % 4 WHEN 0 THEN 'Jane Q Doe' WHEN 1 THEN 'John'
                               WHEN 2 THEN '' ELSE 'Ana B Cruz|D. E.'
               END AS authors_str,
               CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0
                               ELSE 2 END AS n_authors,
               CASE doc_id % 5 WHEN 0 THEN 'Journal of Tests'
                               WHEN 2 THEN 'Fine Journal'
                               WHEN 4 THEN 'Plain Journal'
                               ELSE NULL END AS journal
        FROM documents
        WHERE doc_id % 8 IN (0, 7)
    """,
    }
)

def fr_reingest_seeds(spark, sf_dir):
    """Adaptive reingest trigger (operators/freshness::
    staleness_reingest_seeds): events replay as capture history in the
    crawl's CDX shape (url, 14-digit datetime, digest); every page is
    "seen" at its last capture; pages whose expected staleness
    1-exp(-lambda*age) >= 0.5 become force_recrawl seeds with the
    staleness as citation_priority (the Cho & Garcia-Molina re-crawl
    ordering), in the seed schema run_reingest consumes."""
    from sandcrawler_spark.operators.freshness import staleness_reingest_seeds

    caps = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("url"),
        F.date_format("ts", "yyyyMMddHHmmss").alias("datetime"),
        F.col("event_type").alias("sha1b32"),
    )
    seen = (
        caps.groupBy("url")
        .agg(F.max("datetime").alias("terminal_dt"))
        .select(
            F.lit("html").alias("ingest_type"),
            F.col("url").alias("canonical_url"),
            "terminal_dt",
        )
    )
    return staleness_reingest_seeds(caps, seen, tau=0.5, min_captures=3)


QUERIES2.update({"fr_reingest_seeds": fr_reingest_seeds})

ORACLES2.update(
    {
        # Same estimator CTEs as fr_change_rate, but on second-truncated
        # timestamps (the 14-digit-datetime roundtrip drops sub-second
        # fractions), filtered at tau and re-shaped to the seed contract.
        "fr_reingest_seeds": """
        WITH seq AS (
            SELECT 'u' || CAST(user_id AS VARCHAR) AS url,
                   epoch(date_trunc('second', ts)) AS ts_s,
                   CASE WHEN lag(event_type) OVER w IS NULL THEN 0
                        WHEN event_type <> lag(event_type) OVER w THEN 1
                        ELSE 0 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch(date_trunc('second', ts)), event_type)),
        per AS (
            SELECT url, count(*) AS n_caps,
                   CAST(sum(chg) AS BIGINT) AS n_changes,
                   max(ts_s) - min(ts_s) AS span_raw,
                   max(ts_s) AS last_s
            FROM seq GROUP BY url
            HAVING count(*) >= 3 AND max(ts_s) - min(ts_s) > 0),
        now_t AS (SELECT max(last_s) AS now_s FROM per),
        due AS (
            SELECT url AS canonical_url,
                   round(1.0 - exp(ln((n_caps - n_changes + 0.5) / (n_caps + 0.5))
                         / (span_raw / n_caps) * (now_s - last_s)), 6) AS staleness
            FROM per, now_t),
        hit AS (SELECT * FROM due WHERE staleness >= 0.5)
        SELECT CAST(row_number() OVER (ORDER BY canonical_url) - 1 AS BIGINT) AS seq,
               'html' AS ingest_type,
               canonical_url AS base_url,
               'change-rate' AS link_source,
               canonical_url AS link_source_id,
               CAST(0 AS INTEGER) AS priority,
               staleness AS citation_priority,
               CAST(0 AS INTEGER) AS depth,
               TRUE AS force_recrawl
        FROM hit
    """,
    }
)

def ann_pq_search(spark, sf_dir):
    """ADC top-k over PQ codes (similarity.pq_search): the corpus is
    encoded against the fixed closed-form codebooks (same books as
    ann_pq_encode), then each query (vec_id < 10) scans the code table
    with an m-lookup-per-row distance — the memory-bound ANN scale
    path where the corpus is m bytes/vector instead of dim floats."""
    # fanout=False: pq_encode's projection collapses each vector to m
    # code bytes immediately — interleaved A/B at sf1.0 showed the
    # byte-rule fan-out is a pure extra pass here (1.17 -> 0.87 s)
    emb = _t(spark, sf_dir, "embeddings", fanout=False)
    books = _pq_fixed_books()
    codes = similarity.pq_encode(emb, books)
    return similarity.pq_search(
        emb.filter(F.col("vec_id") < 10), codes, books, k=5
    )


def _pw16(terms: list) -> str:
    """Parenthesize a 16-term sum in numpy's pairwise-reduction order
    (unrolled-by-8 accumulators, then a balanced combine) so the oracle
    adds the SAME doubles in the SAME order as ``pq_search``'s
    ``((Q - B) ** 2).sum(axis=2)`` — bit-identical, not merely close."""
    r = [f"({terms[i]} + {terms[i + 8]})" for i in range(8)]
    return (
        f"((({r[0]} + {r[1]}) + ({r[2]} + {r[3]}))"
        f" + (({r[4]} + {r[5]}) + ({r[6]} + {r[7]})))"
    )


def _pq_search_oracle() -> str:
    # per-(subspace, code) full squared distance ‖q_sub − B[j][c]‖²,
    # elementwise (e[i]-b)*(e[i]-b) like numpy's (Q-B)**2
    cases = []
    for j in range(_PQ_M):
        arms = []
        for c in range(_PQ_K):
            terms = []
            for i in range(_PQ_DSUB):
                idx = j * _PQ_DSUB + i + 1
                b = _pq_b(j, c, i)
                if b == 0:
                    terms.append(f"q.e[{idx}] * q.e[{idx}]")
                else:
                    terms.append(f"(q.e[{idx}] - ({b})) * (q.e[{idx}] - ({b}))")
            arms.append(f"WHEN {c} THEN {_pw16(terms)}")
        cases.append(f"(CASE enc.c{j} {' '.join(arms)} END)")
    dist = " + ".join(cases)  # left-assoc == numpy's sequential d += lut_j
    return f"""
        WITH enc AS ({_pq_encode_oracle()}),
        q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 10),
        d AS (SELECT q.q_id, enc.vec_id, round({dist}, 6) AS adc_dist
              FROM q CROSS JOIN enc WHERE enc.vec_id <> q.q_id),
        r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                  ORDER BY adc_dist, vec_id) AS rn FROM d)
        SELECT q_id, vec_id, adc_dist FROM r WHERE rn <= 5
    """


QUERIES2.update({"ann_pq_search": ann_pq_search})
ORACLES2.update({"ann_pq_search": _pq_search_oracle()})


def med_audio_segments(spark, sf_dir):
    """Audio windowing over the documents table (stub decoder:
    hash-derived duration from md5 byte 3, overlapping 4s windows at
    2s hop, ≤16 segments, payload = sha256(blob | '|aud|' |
    seg_idx_be32)); the 1→N fan-out happens inside the Arrow batch.
    Oracle: unnest(range(n)) per doc in DuckDB with the same window
    arithmetic (integer-valued durations keep the doubles exact)."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.encode("text", "UTF-8").alias("blob"),
    )
    out = media.segment_audio(
        d, "doc_id", "blob", window_s=4.0, hop_s=2.0, max_segments=16
    )
    return out.select(
        "doc_id", "seg_idx", "t_start", "t_end",
        F.lower(F.hex("segment")).alias("segment_sha256"),
    )


QUERIES2.update({"med_audio_segments": med_audio_segments})
ORACLES2.update(
    {
        "med_audio_segments": """
        WITH f AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
                   1.0 + CAST(concat('0x', substr(md5(text), 7, 2)) AS BIGINT) AS dur
            FROM documents),
        g AS (
            SELECT doc_id, text, dur,
                   LEAST(16, GREATEST(1, CAST(floor((dur - 4.0) / 2.0) AS INT) + 1)) AS n
            FROM f),
        x AS (SELECT doc_id, text, dur, unnest(range(n)) AS i FROM g)
        SELECT doc_id, CAST(i AS INT) AS seg_idx,
               CAST(i * 2.0 AS DOUBLE) AS t_start,
               LEAST(i * 2.0 + 4.0, dur) AS t_end,
               sha256(text || '|aud|' || decode(unhex(lpad(to_hex(i), 8, '0')))) AS segment_sha256
        FROM x
    """,
    }
)


def aj_asof_join(spark, sf_dir):
    """As-of join over the events stream: for each purchase, the user's
    latest click at-or-before it (operators/temporal.py). Runs the
    BUCKETED two-phase plan (1-day buckets over the 30-day stream) so
    the skew-proof scale path — not just the single-window one — is the
    variant proven oracle-exact. Right side deduped last-wins per
    (user_id, ts); oracle is DuckDB's native ASOF LEFT JOIN."""
    ev = _t(spark, sf_dir, "events", fanout=False)
    w = W.partitionBy("user_id", "ts").orderBy(F.desc("click_id"))
    right = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts",
                F.col("event_id").alias("click_id"),
                F.col("value").alias("click_value"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return temporal.asof_join(
        left, right, on="user_id", left_time="ts",
        right_cols=["click_id", "click_value"], bucket_s=86400,
    )


QUERIES2.update({"aj_asof_join": aj_asof_join})
ORACLES2.update(
    {
        "aj_asof_join": """
        WITH r0 AS (
            SELECT user_id, ts, event_id AS click_id, value AS click_value,
                   row_number() OVER (PARTITION BY user_id, ts
                                      ORDER BY event_id DESC) AS rn
            FROM events WHERE event_type = 'click'),
        r AS (SELECT user_id, ts, click_id, click_value FROM r0 WHERE rn = 1),
        l AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase')
        SELECT l.user_id, l.ts, l.event_id,
               r.click_id AS click_id_right,
               r.click_value AS click_value_right
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    }
)


def iv_interval_join(spark, sf_dir):
    """Interval (range) join over the events stream: clicks landing
    inside the 12-hour window after each error, per user
    (operators/temporal.py::interval_join — bucketized equi-join with
    canonical-bucket dedupe; a naive range-condition join would plan as
    BroadcastNestedLoop). Oracle: plain SQL range join in DuckDB."""
    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 12 HOURS")).alias("e"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    out = temporal.interval_join(
        left, right, on="user_id", left_span=("s", "e"),
        right_span=("ts", "ts"), bucket_s=43200.0,
    )
    return out.select("err_id", "user_id", "click_id_right")


QUERIES2.update({"iv_interval_join": iv_interval_join})
ORACLES2.update(
    {
        "iv_interval_join": """
        WITH l AS (SELECT event_id AS err_id, user_id, ts AS s,
                          ts + INTERVAL 12 HOUR AS e
                   FROM events WHERE event_type = 'error'),
        r AS (SELECT event_id AS click_id, user_id, ts FROM events
              WHERE event_type = 'click')
        SELECT l.err_id, l.user_id, r.click_id AS click_id_right
        FROM l JOIN r ON l.user_id = r.user_id
                     AND r.ts >= l.s AND r.ts <= l.e
    """,
    }
)


def pack_token_chunks_q(spark, sf_dir):
    """Concat-and-chunk sequence packing over the documents table
    (n_chars standing in for token counts, 2048-token chunks): one row
    per (doc, chunk) span with chunk/chunk_off/doc_off/n_toks. The
    packing is a closed-form function of the exclusive global cumsum,
    so the oracle is a plain window cumsum + unnest(range(...))."""
    from sandcrawler_spark.operators import curation

    d = _t(spark, sf_dir, "documents")
    return curation.pack_token_chunks(d, "doc_id", "n_chars", 2048)


QUERIES2.update({"pack_token_chunks": pack_token_chunks_q})
ORACLES2.update(
    {
        "pack_token_chunks": """
        WITH c AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS toks,
                   CAST(COALESCE(SUM(CAST(n_chars AS BIGINT)) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS c0
            FROM documents WHERE n_chars > 0),
        x AS (
            SELECT doc_id, toks, c0,
                   unnest(range(CAST(floor(c0 / 2048.0) AS BIGINT),
                                CAST(floor((c0 + toks - 1) / 2048.0) AS BIGINT) + 1)) AS k
            FROM c)
        SELECT doc_id, k AS chunk,
               GREATEST(c0 - k * 2048, 0) AS chunk_off,
               GREATEST(k * 2048 - c0, 0) AS doc_off,
               LEAST(toks, (k + 1) * 2048 - c0) - GREATEST(k * 2048 - c0, 0) AS n_toks
        FROM x
    """,
    }
)


def sp_media_context(spark, sf_dir):
    """Interleaved-span context resolution: for every TEXT span, the
    nearest PRECEDING media span in the same document — the lookup a
    multimodal training pipeline does to pair each text chunk with its
    governing image. It is exactly an as-of join with doc_id as the
    key and span offset as time (operators/temporal.py::asof_join,
    backward), over the same synthesized interleave as
    sp_interleave_stats. Oracle: DuckDB ASOF LEFT JOIN on offsets."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    rows = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("offset")
    ).select(
        "doc_id",
        F.when((F.col("doc_id") + F.col("offset")) % 3 == 0, F.lit("image"))
        .otherwise(F.lit("text"))
        .alias("kind"),
        "offset",
    )
    left = rows.filter(F.col("kind") == "text").select("doc_id", "offset")
    right = rows.filter(F.col("kind") == "image").select(
        "doc_id", "offset",
        F.col("offset").cast("long").alias("media_off"),
        F.concat(
            F.lit("m"), F.col("doc_id").cast("string"),
            F.lit("_"), F.col("offset").cast("string"),
        ).alias("media_ref"),
    )
    return temporal.asof_join(
        left, right, on="doc_id", left_time="offset",
        right_cols=["media_off", "media_ref"],
    )


QUERIES2.update({"sp_media_context": sp_media_context})
ORACLES2.update(
    {
        "sp_media_context": """
        WITH rows_ AS (
            SELECT doc_id, CAST(u.off AS INTEGER) AS "offset",
                   CASE WHEN (doc_id + u.off) % 3 = 0 THEN 'image'
                        ELSE 'text' END AS kind
            FROM (SELECT doc_id FROM documents WHERE doc_id < 300),
                 (SELECT unnest(range(6)) AS off) u),
        t AS (SELECT doc_id, "offset" FROM rows_ WHERE kind = 'text'),
        m AS (SELECT doc_id, "offset",
                     CAST("offset" AS BIGINT) AS media_off,
                     concat('m', doc_id, '_', "offset") AS media_ref
              FROM rows_ WHERE kind = 'image')
        SELECT t.doc_id, t."offset",
               m.media_off AS media_off_right,
               m.media_ref AS media_ref_right
        FROM t ASOF LEFT JOIN m
          ON t.doc_id = m.doc_id AND t."offset" >= m."offset"
    """,
    }
)


def dd_minhash_incr(spark, sf_dir):
    """Incremental MinHash-LSH: even doc_ids are the persisted corpus
    (band index built once), odd doc_ids are the new batch probing it —
    output is every confirmed near-dup pair touching the batch. Oracle
    = the full-batch MinHash SQL restricted to pairs with an odd id."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    ix = dedup.build_minhash_index(corpus, "doc_id", "text")
    # max_bucket=None pinned: uncapped-exact vs the uncapped oracle
    return dedup.minhash_probe_index(
        delta, ix, corpus, "doc_id", "text", tau=0.8, max_bucket=None
    )


QUERIES2.update({"dd_minhash_incr": dd_minhash_incr})
ORACLES2.update(
    {
        "dd_minhash_incr": f"""
        WITH {_SQL_TOKS}, {_SQL_SH}, {_SQL_PERMS},
        h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT) AS h
              FROM sh),
        mh AS (SELECT doc_id, j, min((a * h + b) % {dedup.MINHASH_P}) AS mh
               FROM h CROSS JOIN perms GROUP BY doc_id, j),
        bands AS (SELECT doc_id, j // {dedup.LSH_ROWS_PER_BAND} AS band,
                         md5(string_agg(CAST(mh AS VARCHAR), '-' ORDER BY j)) AS band_key
                  FROM mh GROUP BY doc_id, j // {dedup.LSH_ROWS_PER_BAND}),
        cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
                 FROM bands a JOIN bands b
                   ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
                 WHERE a.doc_id % 2 = 1 OR b.doc_id % 2 = 1),
        sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        inter AS (SELECT c.id1, c.id2, count(*) AS m
                  FROM cand c
                  JOIN sh s1 ON s1.doc_id = c.id1
                  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.s = s1.s
                  GROUP BY 1, 2)
        {_JACCARD_TAIL}
    """,
    }
)


def sp_html_scope(spark, sf_dir):
    """HTML ingest scope classification (operators/scope.py =
    ingest_html.py:232-374): 15 deterministic URL/HTML/biblio shapes per
    doc_id covering every decision family. The Spark side must extract
    the generator/platform signals from the HTML text with the real
    regex chain; the oracle re-derives platform and scope from the case
    id, so the comparison checks the extraction + decision chain."""
    from sandcrawler_spark.operators import scope as _scope

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    m = k % 15
    ks = k.cast("string")
    wc = (k * 7) % 2500
    url = (
        F.when(m == 0, F.concat(F.lit("https://x.org/p/"), ks, F.lit("/cookieAbsent")))
        .when(m == 1, F.lit("https://page-one.live.cf.public.springer.com/x/y"))
        .when(m == 2, F.lit("https://scielo.br/scielo.php?script=sci_abstract&pid=1"))
        .when(m == 3, F.lit("https://scielo.br/scielo.php?script=sci_arttext&pid=1"))
        .when(m == 4, F.lit("https://x.org/p/showcaptcha.asp?u=1"))
        .when(m == 5, F.lit("https://x.org/"))
        .when(m == 6, F.concat(F.lit("https://x.org/a/"), ks))
        .when(m == 7, F.concat(F.lit("https://x.org/a/"), ks))
        .when(m == 8, F.concat(F.lit("https://j.org/article/"), ks))
        .when(m == 9, F.concat(F.lit("https://j.org/article/view/"), ks))
        .when(m == 10, F.concat(F.lit("https://blog.example.org/post/"), ks))
        .when(m == 11, F.concat(F.lit("https://plain.org/doc/"), ks))
        .when(m == 12, F.lit("https://karger.com/Article/Abstract/12"))
        .when(m == 13, F.lit("https://dergipark.gov.tr/x/y"))
        .otherwise(F.concat(F.lit("https://x.org/p/"), ks))
    )
    html = (
        F.when(
            m == 8,
            F.lit(
                '<html><head><meta name="generator" content="Open Journal'
                ' Systems 3.1.2"/></head><body>b</body></html>'
            ),
        )
        .when(
            m == 9,
            F.lit(
                "<html><head><meta content='Open Journal Systems 2.4'"
                " name='generator'/></head><body>b</body></html>"
            ),
        )
        .when(
            m == 10,
            F.lit(
                "<html><head><meta name='generator' content='WordPress 5.0'/>"
                "</head><body>b</body></html>"
            ),
        )
        .when(
            m == 14,
            F.lit("<html><body><center><h1>403 Forbidden</h1></center></body></html>"),
        )
        .otherwise(F.lit("<html><body>page</body></html>"))
    )
    ft = (
        F.when(m == 6, F.concat(F.lit("http://www.x.org/a/"), ks))
        .when(m == 7, F.lit("http://x.org/other"))
        .cast("string")
    )
    title = F.when(m == 8, F.lit("T")).cast("string")
    pdf = F.lit(None).cast("string")
    base = docs.select(
        "doc_id",
        url.alias("url"),
        html.alias("html"),
        ft.alias("ft"),
        title.alias("title"),
        pdf.alias("pdf"),
        wc.alias("wc"),
    ).withColumn("platform", _scope.html_platform_col(F.col("url"), F.col("html")))
    return base.select(
        "doc_id",
        "platform",
        _scope.html_scope_col(
            F.col("url"), F.col("html"), F.col("platform"),
            F.col("ft"), F.col("title"), F.col("pdf"), F.col("wc"),
        ).alias("scope"),
    )


QUERIES2.update({"sp_html_scope": sp_html_scope})
ORACLES2.update(
    {
        "sp_html_scope": """
        SELECT doc_id,
          CASE doc_id % 15
            WHEN 2 THEN 'scielo' WHEN 3 THEN 'scielo'
            WHEN 8 THEN 'ojs3' WHEN 9 THEN 'ojs' WHEN 10 THEN 'wordpress'
          END AS platform,
          CASE doc_id % 15
            WHEN 0 THEN 'blocked-cookie'
            WHEN 1 THEN 'article-sample'
            WHEN 2 THEN 'landingpage'
            WHEN 3 THEN 'article-fulltext'
            WHEN 4 THEN 'blocked-captcha'
            WHEN 5 THEN 'homepage-domain'
            WHEN 6 THEN 'article-fulltext'
            WHEN 7 THEN 'landingpage'
            WHEN 8 THEN CASE WHEN (doc_id * 7) % 2500 > 1200
                             THEN 'fulltext' ELSE 'landingpage' END
            WHEN 9 THEN CASE WHEN (doc_id * 7) % 2500 > 600
                             THEN 'fulltext' ELSE 'other' END
            WHEN 10 THEN CASE WHEN (doc_id * 7) % 2500 < 20 THEN 'stub'
                              WHEN (doc_id * 7) % 2500 > 500
                              THEN 'article-fulltext' ELSE 'unknown' END
            WHEN 11 THEN CASE WHEN (doc_id * 7) % 2500 < 20 THEN 'stub'
                              WHEN (doc_id * 7) % 2500 > 1200
                              THEN 'article-fulltext' ELSE 'unknown' END
            WHEN 12 THEN 'landingpage'
            WHEN 13 THEN 'other'
            WHEN 14 THEN 'blocked-forbidden'
          END AS scope
        FROM documents
    """,
    }
)


def dd_simhash_incr(spark, sf_dir):
    """Incremental SimHash: even doc_ids are the stored signature table,
    odd doc_ids probe it. Oracle = the full-batch SimHash pair SQL
    restricted to pairs with an odd id."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    ix = dedup.simhash(corpus, "doc_id", "text")
    # max_bucket=None pinned: uncapped-exact vs the uncapped oracle
    return dedup.simhash_probe_index(
        delta, ix, "doc_id", "text", max_hamming=3, max_bucket=None
    )


QUERIES2.update({"dd_simhash_incr": dd_simhash_incr})
ORACLES2.update(
    {
        "dd_simhash_incr": f"""
        WITH {_SQL_TOKS},
        tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        h AS (SELECT doc_id,
                     CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
              FROM tk),
        bits AS (SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
                 FROM h CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
                 GROUP BY doc_id, b),
        sig AS (SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
                                     ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS id1, b.doc_id AS id2,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
          AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
    """,
    }
)


def pipe_html_ingest(spark, sf_dir):
    """The HTML-ingest decision spine (ingest_html.py:383-449
    run_single, minus the wayback/trafilatura I/O hops): mimetype gate
    → TEI-body word count (real XML parse) → platform + scope
    classification → wrong-mimetype / wrong-scope / success. Six
    deterministic shapes per doc_id; the oracle re-derives every field
    from the case id, so the comparison checks the composed pipeline
    (XML parse included), not the generator."""
    from sandcrawler_spark.operators import scope as _scope
    from sandcrawler_spark.operators import tei as _tei

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    m = k % 6
    ks = k.cast("string")
    mimetype = (
        F.when(m == 0, F.lit("application/pdf"))
        .when(m == 4, F.lit("text/xml"))
        .otherwise(F.lit("text/html"))
    )
    n_words = (
        F.when(m == 2, F.lit(1300)).when(m == 3, F.lit(5)).otherwise(F.lit(300))
    )
    tei_xml = F.concat(
        F.lit('<TEI xmlns="http://www.tei-c.org/ns/1.0"><text><body><p>'),
        F.rtrim(F.repeat(F.lit("w "), n_words)),
        F.lit("</p></body></text></TEI>"),
    )
    url = (
        F.when(m == 5, F.concat(F.lit("https://x.org/p/"), ks, F.lit("/cookieAbsent")))
        .otherwise(F.concat(F.lit("https://x.org/a/"), ks))
    )
    ft = F.when(m == 1, F.lit("http://x.org/other")).cast("string")
    html = F.lit("<html><body>page</body></html>")
    rows = docs.select(
        "doc_id",
        url.alias("url"),
        html.alias("html"),
        mimetype.alias("mimetype"),
        tei_xml.alias("tei_xml"),
        ft.alias("ft"),
    )
    withbody = _tei.tei_body_stats(rows)
    withplat = withbody.withColumn(
        "platform", _scope.html_platform_col(F.col("url"), F.col("html"))
    )
    sc = _scope.html_scope_col(
        F.col("url"), F.col("html"), F.col("platform"),
        F.col("ft"), F.lit(None).cast("string"), F.lit(None).cast("string"),
        F.col("body")["word_count"],
    )
    mime_ok = F.col("mimetype").isin("text/html", "text/xml")
    scored = withplat.withColumn("scope", F.when(mime_ok, sc))
    status = (
        F.when(~mime_ok, F.lit("wrong-mimetype"))
        .when(~F.col("scope").isin("article-fulltext", "unknown"), F.lit("wrong-scope"))
        .otherwise(F.lit("success"))
    )
    return scored.select(
        "doc_id",
        status.alias("status"),
        "scope",
        F.when(mime_ok, F.col("body")["word_count"]).alias("word_count"),
    )


QUERIES2.update({"pipe_html_ingest": pipe_html_ingest})
ORACLES2.update(
    {
        "pipe_html_ingest": """
        SELECT doc_id,
          CASE doc_id % 6
            WHEN 0 THEN 'wrong-mimetype'
            WHEN 1 THEN 'wrong-scope'
            WHEN 2 THEN 'success'
            WHEN 3 THEN 'wrong-scope'
            WHEN 4 THEN 'success'
            ELSE 'wrong-scope'
          END AS status,
          CASE doc_id % 6
            WHEN 0 THEN NULL
            WHEN 1 THEN 'landingpage'
            WHEN 2 THEN 'article-fulltext'
            WHEN 3 THEN 'stub'
            WHEN 4 THEN 'unknown'
            ELSE 'blocked-cookie'
          END AS scope,
          CASE doc_id % 6
            WHEN 0 THEN NULL
            WHEN 2 THEN 1300
            WHEN 3 THEN 5
            ELSE 300
          END AS word_count
        FROM documents
    """,
    }
)


def bib_pdftrio_persist(spark, sf_dir):
    """PDF-classifier persist fan-out (PersistPdfTrioWorker,
    persist.py:470-500 + db.py:362-416): synthesized classifier result
    messages (six arms per doc_id: absent payload, missing status_code,
    status_code 0, full success, heritrix-style -4 timeout, success
    with empty versions) keyed so 40 sha1 groups collide and the
    last-in-batch-wins dedup is exercised; both sink feeds (pdftrio
    update-policy rows + gated file_meta rows) come back as one tagged
    union. The oracle re-derives every survivor arithmetically."""
    from sandcrawler_spark.operators.media import pdftrio_persist_rows

    i = F.col("doc_id")
    m6 = i % 6
    k32 = F.md5(F.concat(F.lit("trio"), (i % 40).cast("string")))
    src = _t(spark, sf_dir, "documents").select(
        F.concat(k32, F.substring(k32, 1, 8)).alias("key"),
        i.alias("seq"),
        F.when(
            m6 != 0,
            F.to_json(
                F.struct(
                    F.when(m6 == 2, F.lit(0))
                    .when(m6 == 4, F.lit(-4))
                    .when(m6.isin(3, 5), F.lit(200))
                    .alias("status_code"),
                    F.when(m6 == 1, F.lit("error-misc"))
                    .when(m6 == 2, F.lit("error-connect"))
                    .when(m6 == 4, F.lit("error-timeout"))
                    .otherwise(F.lit("success"))
                    .alias("status"),
                    F.when(m6 == 3, F.lit("2020-05-06T12:00:00Z")).alias("updated"),
                    F.when(
                        m6 == 3,
                        F.struct(
                            F.lit("0.3.1-dev").alias("pdftrio_version"),
                            F.lit("2020-01-31").alias("models_date"),
                        ),
                    )
                    .when(
                        m6 == 5,
                        F.struct(
                            F.lit("").alias("pdftrio_version"),
                            F.lit("").alias("models_date"),
                        ),
                    )
                    .alias("versions"),
                    F.when(m6.isin(3, 5), (i % 64) / 64.0).alias("ensemble_score"),
                    F.when(m6 == 3, (i % 32) / 32.0).alias("bert_score"),
                    F.when(m6 == 3, (i % 16) / 16.0).alias("linear_score"),
                    F.when(m6 == 3, (i % 8) / 8.0).alias("image_score"),
                )
            ),
        ).alias("pdf_trio"),
        F.when(
            m6.isin(3, 4, 5),
            F.to_json(
                F.struct(
                    F.md5(F.concat(F.lit("s256"), i.cast("string"))).alias("sha256hex"),
                    F.md5(F.concat(F.lit("m5"), i.cast("string"))).alias("md5hex"),
                    (F.lit(1000) + i).cast("long").alias("size_bytes"),
                    F.lit("application/pdf").alias("mimetype"),
                )
            ),
        ).alias("file_meta"),
    )
    trio, fmeta = pdftrio_persist_rows(src, seq_col="seq", now="2024-01-01T00:00:00Z")
    trio_out = trio.select(
        F.lit("pdftrio").alias("sink"),
        "sha1hex", "updated", "status_code", "status",
        "pdftrio_version", "models_date",
        F.col("ensemble_score").cast("double").alias("ensemble_score"),
        F.col("bert_score").cast("double").alias("bert_score"),
        F.col("linear_score").cast("double").alias("linear_score"),
        F.col("image_score").cast("double").alias("image_score"),
        F.lit(None).cast("string").alias("sha256hex"),
        F.lit(None).cast("string").alias("md5hex"),
        F.lit(None).cast("long").alias("size_bytes"),
        F.lit(None).cast("string").alias("mimetype"),
    )
    fm_out = fmeta.select(
        F.lit("file_meta").alias("sink"),
        "sha1hex",
        F.lit(None).cast("string").alias("updated"),
        F.lit(None).cast("int").alias("status_code"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("string").alias("pdftrio_version"),
        F.lit(None).cast("date").alias("models_date"),
        F.lit(None).cast("double").alias("ensemble_score"),
        F.lit(None).cast("double").alias("bert_score"),
        F.lit(None).cast("double").alias("linear_score"),
        F.lit(None).cast("double").alias("image_score"),
        "sha256hex", "md5hex", "size_bytes", "mimetype",
    )
    return trio_out.unionByName(fm_out)


QUERIES2.update({"bib_pdftrio_persist": bib_pdftrio_persist})

ORACLES2.update(
    {
        "bib_pdftrio_persist": """
        WITH src AS (
            SELECT doc_id, doc_id % 6 AS m6,
                   md5('trio' || CAST(doc_id % 40 AS VARCHAR)) AS k32
            FROM documents
        ),
        kept AS (
            SELECT doc_id, m6, k32 || substr(k32, 1, 8) AS sha1hex
            FROM src WHERE m6 IN (3, 4, 5)
        ),
        trio AS (
            SELECT sha1hex,
                   CASE WHEN m6 = 3 THEN '2020-05-06T12:00:00Z'
                        ELSE '2024-01-01T00:00:00Z' END AS updated,
                   CASE WHEN m6 = 4 THEN -4 ELSE 200 END AS status_code,
                   CASE WHEN m6 = 4 THEN 'error-timeout'
                        ELSE 'success' END AS status,
                   CASE WHEN m6 = 3 THEN '0.3.1-dev' END AS pdftrio_version,
                   CASE WHEN m6 = 3 THEN DATE '2020-01-31' END AS models_date,
                   CASE WHEN m6 IN (3, 5)
                        THEN (doc_id % 64) / 64.0 END AS ensemble_score,
                   CASE WHEN m6 = 3 THEN (doc_id % 32) / 32.0 END AS bert_score,
                   CASE WHEN m6 = 3 THEN (doc_id % 16) / 16.0 END AS linear_score,
                   CASE WHEN m6 = 3 THEN (doc_id % 8) / 8.0 END AS image_score,
                   row_number() OVER (PARTITION BY sha1hex
                                      ORDER BY doc_id DESC) AS rn
            FROM kept
        ),
        fm AS (
            SELECT sha1hex,
                   md5('s256' || CAST(doc_id AS VARCHAR)) AS sha256hex,
                   md5('m5' || CAST(doc_id AS VARCHAR)) AS md5hex,
                   CAST(1000 + doc_id AS BIGINT) AS size_bytes,
                   'application/pdf' AS mimetype,
                   row_number() OVER (PARTITION BY sha1hex
                                      ORDER BY doc_id DESC) AS rn
            FROM kept WHERE m6 IN (3, 5)
        )
        SELECT 'pdftrio' AS sink, sha1hex, updated, status_code, status,
               pdftrio_version, models_date, ensemble_score, bert_score,
               linear_score, image_score,
               CAST(NULL AS VARCHAR) AS sha256hex,
               CAST(NULL AS VARCHAR) AS md5hex,
               CAST(NULL AS BIGINT) AS size_bytes,
               CAST(NULL AS VARCHAR) AS mimetype
        FROM trio WHERE rn = 1
        UNION ALL
        SELECT 'file_meta', sha1hex, NULL, NULL, NULL, NULL,
               CAST(NULL AS DATE), NULL, NULL, NULL, NULL,
               sha256hex, md5hex, size_bytes, mimetype
        FROM fm WHERE rn = 1
    """,
    }
)


# ============================================== CCNet head/middle/tail
def txt_ccnet_buckets(spark, sf_dir):
    """CCNet's per-language head/middle/tail quality split (Wenzek et
    al. 2020): unigram-LM NLL terciles per language, applied as
    broadcast thresholds."""
    from sandcrawler_spark.operators.retrieval import ccnet_buckets

    return ccnet_buckets(_t(spark, sf_dir, "documents"), alpha=0.5)


QUERIES2["txt_ccnet_buckets"] = txt_ccnet_buckets

ORACLES2["txt_ccnet_buckets"] = """
        WITH toksu AS (
            SELECT doc_id,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS t
            FROM documents),
        post AS (
            SELECT doc_id, dl, term, count(*) AS tf FROM (
              SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toksu)
            WHERE length(term) > 0 GROUP BY 1, 2, 3),
        counts AS (SELECT term, sum(tf) AS cnt FROM post GROUP BY 1),
        totals AS (SELECT sum(cnt) AS t_tokens, count(*) AS v_size
                   FROM counts),
        nll AS (
            SELECT p.doc_id,
                   round(-sum(p.tf * ln((c.cnt + 0.5)
                                        / (tt.t_tokens + 0.5 * tt.v_size)))
                         / any_value(p.dl), 6) AS nll
            FROM post p JOIN counts c USING (term), totals tt
            GROUP BY p.doc_id),
        scored AS (
            SELECT n.doc_id, d.lang, n.nll
            FROM nll n JOIN documents d USING (doc_id)),
        th AS (
            SELECT lang,
                   quantile_cont(nll, 1.0/3) AS q1,
                   quantile_cont(nll, 2.0/3) AS q2
            FROM scored GROUP BY lang)
        SELECT s.doc_id, s.lang, s.nll,
               CASE WHEN s.nll <= t.q1 THEN 'head'
                    WHEN s.nll <= t.q2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored s JOIN th t USING (lang)
"""


# ========================================= jusText boilerplate removal
def txt_boilerplate(spark, sf_dir):
    """jusText-inspired paragraph boilerplate classification: per doc,
    five paragraphs — two slices of real text (varied density), a
    short-or-link-spam arm, an all-stopword 'good' paragraph, and a
    0.25-density neargood one — so every context-free class AND both
    context-sensitive promotions (short→good, neargood→good) occur."""
    from sandcrawler_spark.operators.text import boilerplate_classify

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id")
    text2 = F.concat_ws(
        "\n\n",
        F.substring("text", 1, 200),
        F.when(i % 3 == 0, F.lit("ok")).otherwise(
            F.lit("click here menu navigation links copyright page")
        ),
        F.lit("the be to of and that have with"),
        F.lit("the data table scan"),
        F.substring("text", 201, 160),
    )
    return boilerplate_classify(
        d.select("doc_id", text2.alias("text2")), "doc_id", "text2"
    )


QUERIES2["txt_boilerplate"] = txt_boilerplate

ORACLES2["txt_boilerplate"] = """
    WITH docs2 AS (
      SELECT doc_id,
             substr(text, 1, 200) || chr(10) || chr(10) ||
             CASE WHEN doc_id % 3 = 0 THEN 'ok'
                  ELSE 'click here menu navigation links copyright page' END
             || chr(10) || chr(10) ||
             'the be to of and that have with' || chr(10) || chr(10) ||
             'the data table scan' || chr(10) || chr(10) ||
             substr(text, 201, 160) AS text2
      FROM documents),
    paras AS (
      SELECT doc_id AS id,
             unnest(range(len(l))) AS idx,
             unnest(l) AS para
      FROM (SELECT doc_id, regexp_split_to_array(text2, '\\n{2,}') AS l
            FROM docs2)),
    scored AS (
      SELECT id, idx, len(toks) AS n_words,
             len(list_filter(toks,
                 x -> x IN ('the','be','to','of','and','that','have','with')
             )) AS n_stop
      FROM (SELECT id, idx,
                   list_filter(regexp_split_to_array(lower(trim(para)), '\\s+'),
                               x -> length(x) > 0) AS toks
            FROM paras)),
    cf AS (
      SELECT id, idx, n_words,
             CASE WHEN n_words < 4 THEN 'short'
                  WHEN n_stop / n_words >= 0.32 THEN 'good'
                  WHEN n_stop / n_words >= 0.17 THEN 'neargood'
                  ELSE 'bad' END AS ctx_free
      FROM scored)
    SELECT id, CAST(idx AS INTEGER) AS idx,
           CAST(n_words AS INTEGER) AS n_words, ctx_free,
           CASE WHEN ctx_free IN ('good','bad') THEN ctx_free
                WHEN lag(ctx_free) OVER w = 'good'
                     OR lead(ctx_free) OVER w = 'good' THEN 'good'
                ELSE 'bad' END AS cls
    FROM cf WINDOW w AS (PARTITION BY id ORDER BY idx)
"""


def sp_fulltext_tricks(spark, sf_dir):
    """Publisher-specific fulltext-URL tricks (operators/fulltext.py =
    html.py:17-343): 14 deterministic (url, html) shapes per doc_id,
    one per representative publisher arm (body-regex extract, JSON-in-
    script, URL rewrite, body-substring gate, href extraction, the
    generic url+'.pdf' guess, and a no-match arm). The Spark side runs
    the real coalesce-of-whens ladder; the oracle re-derives the
    expected (pdf_url, next_url, release_stage, technique) from the
    case id, so the comparison checks the regex extraction and arm
    priority, not the fixture."""
    from sandcrawler_spark.operators.fulltext import fulltext_url_tricks

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    ks = k.cast("string")
    m = k % 14
    url = (
        F.when(m == 0, F.concat(F.lit("https://www.researchsquare.com/article/rs-"), ks, F.lit("/v1")))
        .when(m == 1, F.concat(F.lit("https://arxiv.org/abs/2001.0"), ks))
        .when(m == 2, F.concat(F.lit("https://osf.io/a"), ks))
        .when(m == 3, F.concat(F.lit("https://onlinelibrary.wiley.com/doi/pdf/10.1111/x"), ks))
        .when(m == 4, F.concat(F.lit("https://ieeexplore.ieee.org/document/"), ks))
        .when(m == 5, F.concat(F.lit("https://insights.ovid.com/crossref?an="), ks))
        .when(m == 6, F.concat(F.lit("https://www.protocols.io/view/p-"), ks))
        .when(m == 7, F.concat(F.lit("https://www.degruyter.com/view/books/"), ks, F.lit("/"), ks, F.lit(".xml")))
        .when(m == 8, F.concat(F.lit("https://www.ahajournals.org/doi/10.1161/c."), ks))
        .when(m == 9, F.concat(F.lit("https://www.cogentoa.com/article/10.1080/"), ks))
        .when(m == 10, F.concat(F.lit("https://mhealth.jmir.org/2020/"), ks, F.lit("/")))
        .when(m == 11, F.concat(F.lit("https://drive.google.com/file/d/FILEID00000"), ks, F.lit("/view")))
        .when(m == 12, F.concat(F.lit("https://repo.example.org/d/"), ks))
        .otherwise(F.concat(F.lit("https://none.example.org/"), ks))
    )
    html = (
        F.when(m == 0, F.concat(F.lit('x "url":"https://assets.researchsquare.com/files/f'), ks, F.lit('/v2/Manuscript.pdf)" wrong'), F.lit(' "url":"https://assets.researchsquare.com/files/f'), ks, F.lit('/v2/Manuscript.pdf"')))
        .when(m == 3, F.lit('<a href="/doi/pdfdirect/x">direct</a>'))
        .when(m == 4, F.concat(F.lit('{"pdfPath":"/iel7/'), ks, F.lit('/0.pdf",')))
        .when(m == 5, F.concat(F.lit('var journalURL = "https://j.example.org/ft/'), ks, F.lit('";')))
        .when(m == 8, F.lit('<a href="/doi/pdf/10.1161/x">PDF</a>'))
        .when(m == 12, F.concat(F.lit("get https://repo.example.org/d/"), ks, F.lit(".pdf here")))
        .otherwise(F.lit("<html><body>page</body></html>"))
    )
    src = docs.select("doc_id", url.alias("url"), html.alias("html"))
    return fulltext_url_tricks(src).select(
        "doc_id", "url", "pdf_url", "next_url", "release_stage", "technique"
    )


QUERIES2.update({"sp_fulltext_tricks": sp_fulltext_tricks})
ORACLES2.update(
    {
        "sp_fulltext_tricks": """
WITH d AS (SELECT doc_id AS k, CAST(doc_id AS VARCHAR) AS ks, doc_id % 14 AS m
           FROM documents),
base AS (
  SELECT k, m, ks,
    CASE m
      WHEN 0 THEN 'https://www.researchsquare.com/article/rs-' || ks || '/v1'
      WHEN 1 THEN 'https://arxiv.org/abs/2001.0' || ks
      WHEN 2 THEN 'https://osf.io/a' || ks
      WHEN 3 THEN 'https://onlinelibrary.wiley.com/doi/pdf/10.1111/x' || ks
      WHEN 4 THEN 'https://ieeexplore.ieee.org/document/' || ks
      WHEN 5 THEN 'https://insights.ovid.com/crossref?an=' || ks
      WHEN 6 THEN 'https://www.protocols.io/view/p-' || ks
      WHEN 7 THEN 'https://www.degruyter.com/view/books/' || ks || '/' || ks || '.xml'
      WHEN 8 THEN 'https://www.ahajournals.org/doi/10.1161/c.' || ks
      WHEN 9 THEN 'https://www.cogentoa.com/article/10.1080/' || ks
      WHEN 10 THEN 'https://mhealth.jmir.org/2020/' || ks || '/'
      WHEN 11 THEN 'https://drive.google.com/file/d/FILEID00000' || ks || '/view'
      WHEN 12 THEN 'https://repo.example.org/d/' || ks
      ELSE 'https://none.example.org/' || ks END AS url
  FROM d
)
SELECT k AS doc_id, url,
  CASE m
    WHEN 0 THEN 'https://assets.researchsquare.com/files/f' || ks || '/v2/Manuscript.pdf'
    WHEN 1 THEN 'https://arxiv.org/pdf/2001.0' || ks
    WHEN 4 THEN 'https://ieeexplore.ieee.org/iel7/' || ks || '/0.pdf'
    WHEN 6 THEN url || '.pdf'
    WHEN 7 THEN 'https://www.degruyter.com/downloadpdf/books/' || ks || '/' || ks || '.pdf'
    WHEN 8 THEN 'https://www.ahajournals.org/doi/pdf/10.1161/c.' || ks || '?download=true'
    WHEN 9 THEN url || '.pdf'
    WHEN 10 THEN url || 'pdf'
    WHEN 11 THEN 'https://drive.google.com/uc?export=download&id=FILEID00000' || ks
    WHEN 12 THEN url || '.pdf'
    END AS pdf_url,
  CASE m
    WHEN 2 THEN url || '/download'
    WHEN 3 THEN 'https://onlinelibrary.wiley.com/doi/pdfdirect/10.1111/x' || ks
    WHEN 5 THEN 'https://j.example.org/ft/' || ks
    END AS next_url,
  CASE m WHEN 0 THEN 'manuscript' WHEN 4 THEN 'published' END AS release_stage,
  CASE m
    WHEN 0 THEN 'publisher' WHEN 1 THEN 'arxiv-url' WHEN 2 THEN 'osf-by-url'
    WHEN 3 THEN 'wiley-pdfdirect' WHEN 4 THEN 'ieeexplore' WHEN 5 THEN 'ovid'
    WHEN 6 THEN 'protocolsio-url' WHEN 7 THEN 'degruyter-url'
    WHEN 8 THEN 'ahajournals-url' WHEN 9 THEN 'cogentoa-url'
    WHEN 10 THEN 'jmir-url' WHEN 11 THEN 'google-drive'
    WHEN 12 THEN 'guess-url-plus-pdf'
    END AS technique
FROM base
"""
    }
)


def sp_pdf_hop(spark, sf_dir):
    """The pdf-ingest next-hop decision (operators/fulltext.py::
    pdf_hop_decision = ingest_file.py:772-809): six outcome shapes per
    doc_id — biblio-preferred link, tricks-pdf link, link-loop against
    the hop chain, blocked-wall, no-pdf-link, and a tricks next_url
    (ovid). The oracle re-derives status/link/technique/hops from the
    case id; the Spark side runs the real extraction + decision."""
    from sandcrawler_spark.operators.fulltext import pdf_hop_decision

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    ks = k.cast("string")
    m = k % 6
    arxiv_abs = F.concat(F.lit("https://arxiv.org/abs/2001."), ks)
    arxiv_pdf = F.concat(F.lit("https://arxiv.org/pdf/2001."), ks)
    url = (
        F.when(m.isin(0, 1, 2), arxiv_abs)
        .when(m == 3, F.concat(F.lit("https://x.example.org/login?TARGET=p"), ks))
        .when(m == 4, F.concat(F.lit("https://x.example.org/p"), ks))
        .otherwise(F.concat(F.lit("https://insights.ovid.com/crossref?an="), ks))
    )
    html = F.when(
        m == 5,
        F.concat(F.lit('var journalURL = "https://j.example.org/ft/'), ks, F.lit('";')),
    ).otherwise(F.lit("x"))
    biblio = F.when(m == 0, F.concat(F.lit("https://pub.example.org/"), ks, F.lit(".pdf")))
    hops = (
        F.when(m.isin(0, 1), F.array(arxiv_abs))
        .when(m == 2, F.array(arxiv_pdf))
        .otherwise(F.array().cast("array<string>"))
    )
    src = docs.select(
        "doc_id", url.alias("url"), html.alias("html"),
        biblio.alias("biblio_pdf"), hops.alias("hops"),
    )
    return pdf_hop_decision(src, biblio_pdf_col="biblio_pdf").select(
        "doc_id", "hop_status", "hop_next_url", "hop_technique",
        # scalars-only output boundary: hop chains are ordered, so the
        # '|' join preserves ingest_file.py's hop sequence exactly
        F.concat_ws("|", "hops_out").alias("hops_out"),
    )


QUERIES2.update({"sp_pdf_hop": sp_pdf_hop})
ORACLES2.update(
    {
        "sp_pdf_hop": """
WITH d AS (SELECT doc_id AS k, CAST(doc_id AS VARCHAR) AS ks, doc_id % 6 AS m
           FROM documents),
b AS (
  SELECT k, m,
    'https://arxiv.org/abs/2001.' || ks AS abs_url,
    'https://arxiv.org/pdf/2001.' || ks AS pdf_url,
    'https://pub.example.org/' || ks || '.pdf' AS bib_url,
    'https://j.example.org/ft/' || ks AS ovid_url
  FROM d
)
SELECT k AS doc_id,
  CASE m WHEN 0 THEN 'next-hop' WHEN 1 THEN 'next-hop' WHEN 2 THEN 'link-loop'
         WHEN 3 THEN 'blocked-wall' WHEN 4 THEN 'no-pdf-link'
         ELSE 'next-hop' END AS hop_status,
  CASE m WHEN 0 THEN bib_url WHEN 1 THEN pdf_url WHEN 2 THEN pdf_url
         WHEN 5 THEN ovid_url END AS hop_next_url,
  CASE m WHEN 0 THEN 'html_biblio' WHEN 1 THEN 'arxiv-url'
         WHEN 2 THEN 'arxiv-url' WHEN 5 THEN 'ovid' END AS hop_technique,
  CASE m WHEN 0 THEN abs_url || '|' || bib_url
         WHEN 1 THEN abs_url || '|' || pdf_url
         WHEN 2 THEN pdf_url WHEN 5 THEN ovid_url
         ELSE '' END AS hops_out
FROM b
"""
    }
)


def pack_ffd_twoclass(spark, sf_dir):
    """The FFD packing kernel under an EXACT oracle: a two-size-class
    fixture (sizes 60/30, budget 100, shard = doc_id % 4) where
    first-fit-decreasing has a closed form — every 60 opens its own
    bin (120 > 100), the first min(n30, n60) thirties first-fit one
    per 60-bin in creation order (fill 90), and leftover thirties pack
    three per new bin. The Spark side runs the real sequential
    applyInPandas packer; the oracle states the closed form, so the
    driver gets an exact value-hash row for the FFD kernel (the
    closed form needs these two size classes: arbitrary
    sizes are not SQL-expressible)."""
    from sandcrawler_spark.operators import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 4).alias("shard"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(60)).otherwise(F.lit(30))
        .cast("long").alias("sz"),
    )
    packed = curation.pack_ffd(d, "sz", "doc_id", budget=100)
    return packed.groupBy("shard", "bin").agg(
        F.count("*").alias("n_docs"), F.max("bin_fill").alias("bin_fill")
    )


QUERIES2.update({"pack_ffd_twoclass": pack_ffd_twoclass})
ORACLES2.update(
    {
        "pack_ffd_twoclass": """
WITH d AS (
  SELECT doc_id, doc_id % 4 AS shard,
         CASE WHEN doc_id % 3 = 0 THEN 60 ELSE 30 END AS sz
  FROM documents
),
c AS (
  SELECT shard,
         SUM(CASE WHEN sz = 60 THEN 1 ELSE 0 END) AS n60,
         SUM(CASE WHEN sz = 30 THEN 1 ELSE 0 END) AS n30
  FROM d GROUP BY 1
),
r AS (
  SELECT shard, sz,
         row_number() OVER (PARTITION BY shard, sz ORDER BY doc_id) - 1 AS rk
  FROM d
),
sixty AS (
  SELECT r.shard, r.rk AS bin,
    CASE WHEN r.rk < LEAST(c.n30, c.n60) THEN 2 ELSE 1 END AS n_docs,
    CASE WHEN r.rk < LEAST(c.n30, c.n60) THEN 90 ELSE 60 END AS bin_fill
  FROM r JOIN c USING (shard) WHERE r.sz = 60
),
extra AS (
  SELECT r.shard, c.n60 + (r.rk - c.n60) // 3 AS bin, COUNT(*) AS n_docs
  FROM r JOIN c USING (shard)
  WHERE r.sz = 30 AND r.rk >= c.n60
  GROUP BY 1, 2
)
SELECT shard, CAST(bin AS INT) AS bin, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(bin_fill AS BIGINT) AS bin_fill FROM sixty
UNION ALL
SELECT shard, CAST(bin AS INT) AS bin, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_docs * 30 AS BIGINT) AS bin_fill FROM extra
"""
    }
)


# ================================================ crawler-trap detection
def crawl_trap_hosts(spark, sf_dir):
    """Trap-host detection over a synthesized capture table: 40 hosts
    from the events stream; every 5th host is a session-id trap (each
    capture mints a unique ?sid= URL over only 8 distinct contents),
    the rest serve stable content (digest = md5(url), diversity 1.0).
    The flags must reproduce the oracle's exact-distinct replay."""
    from sandcrawler_spark.operators.dedup import trap_host_stats

    ev = _t(spark, sf_dir, "events")
    hid = F.col("user_id") % 40
    is_trap = (hid % 5) == 0
    host = F.concat(F.lit("h"), hid.cast("string"))
    base = F.concat(
        F.lit("https://"),
        host,
        F.lit(".example.org"),
        F.expr("repeat('/d', cast(1 + event_id % 3 as int))"),
        F.lit("/p"),
        (F.col("event_id") % 50).cast("string"),
    )
    url = F.when(
        is_trap, F.concat(base, F.lit("?sid="), F.col("event_id").cast("string"))
    ).otherwise(base)
    digest = F.when(
        is_trap, F.md5(F.concat(host, (F.col("event_id") % 8).cast("string")))
    ).otherwise(F.md5(url))
    cap = ev.select(host.alias("host"), url.alias("url"), digest.alias("digest"))
    return trap_host_stats(cap, min_urls=120)


QUERIES2["crawl_trap_hosts"] = crawl_trap_hosts

ORACLES2["crawl_trap_hosts"] = """
        WITH ev AS (
            SELECT event_id, user_id % 40 AS hid,
                   (user_id % 40) % 5 = 0 AS is_trap
            FROM events),
        cap0 AS (
            SELECT 'h' || CAST(hid AS VARCHAR) AS host, is_trap, event_id,
                   'https://h' || CAST(hid AS VARCHAR) || '.example.org' ||
                   repeat('/d', CAST(1 + event_id % 3 AS INT)) ||
                   '/p' || CAST(event_id % 50 AS VARCHAR) AS base
            FROM ev),
        cap AS (
            SELECT host,
                   CASE WHEN is_trap
                        THEN base || '?sid=' || CAST(event_id AS VARCHAR)
                        ELSE base END AS url,
                   CASE WHEN is_trap
                        THEN md5(host || CAST(event_id % 8 AS VARCHAR))
                        ELSE md5(base) END AS digest
            FROM cap0),
        feats AS (
            SELECT host, url, digest,
                   length(p) - length(replace(p, '/', '')) AS depth,
                   CASE WHEN contains(url, '?') THEN 1 ELSE 0 END AS has_q
            FROM (SELECT *, regexp_replace(split_part(url, '?', 1),
                        '^[a-z][a-z0-9+.-]*://[^/]*', '') AS p FROM cap)),
        stats AS (
            SELECT host,
                   count(*) AS n_captures,
                   count(DISTINCT url) AS n_urls,
                   count(DISTINCT digest) AS n_digests,
                   round(avg(has_q), 4) AS query_ratio,
                   round(avg(depth), 4) AS avg_path_depth
            FROM feats GROUP BY host)
        SELECT host, n_captures, n_urls, n_digests,
               round(n_digests * 1.0 / n_urls, 4) AS content_diversity,
               query_ratio, avg_path_depth,
               (n_urls >= 120 AND
                (round(n_digests * 1.0 / n_urls, 4) <= 0.10
                 OR query_ratio >= 0.90)) AS trap_suspect
        FROM stats
"""


# --- epoch ordering: deterministic shuffle + weighted source interleave


def cu_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-1 training order over `documents` with 8
    round-robin shards: epoch_pos is the global position in the salted-
    md5 permutation (two-phase rank, no single-task window), shard =
    epoch_pos mod 8."""
    from sandcrawler_spark.operators import curation

    return curation.epoch_shuffle(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        "doc_id",
        epoch=1,
        n_shards=8,
    ).select("doc_id", "source", "epoch_pos", "shard")


def cu_interleave_sources(spark, sf_dir):
    """Weighted deterministic interleave of the 20 `documents` sources
    into one training stream: weight(srcN) = 1 + N mod 3, stride
    scheduling on virtual time (src_rank+1)/weight with a
    (vtime, source, src_rank) total order."""
    from sandcrawler_spark.operators import curation

    weights = {f"src{i}": float(1 + i % 3) for i in range(20)}
    return curation.interleave_sources(
        _t(spark, sf_dir, "documents").select("doc_id", "source"),
        "source",
        "doc_id",
        weights,
        epoch=1,
    ).select("doc_id", "source", "src_rank", "interleave_pos")


QUERIES2.update(
    {
        "cu_epoch_shuffle": cu_epoch_shuffle,
        "cu_interleave_sources": cu_interleave_sources,
    }
)

ORACLES2.update(
    {
        "cu_epoch_shuffle": f"""
        WITH h AS (SELECT doc_id, source,
                          {_H60.format(salt='epoch:1:')} AS hh
                   FROM documents),
        r AS (SELECT doc_id, source,
                     row_number() OVER (ORDER BY hh, doc_id) - 1 AS epoch_pos
              FROM h)
        SELECT doc_id, source, epoch_pos,
               CAST(epoch_pos % 8 AS INTEGER) AS shard
        FROM r
    """,
        "cu_interleave_sources": f"""
        WITH h AS (SELECT doc_id, source,
                          {_H60.format(salt='il:1:')} AS hh,
                          1.0 + (CAST(substr(source, 4) AS INTEGER) % 3) AS w
                   FROM documents),
        r AS (SELECT doc_id, source, w,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY hh, doc_id) - 1 AS src_rank
              FROM h),
        v AS (SELECT doc_id, source, src_rank,
                     CAST(src_rank + 1 AS DOUBLE) / w AS vt
              FROM r)
        SELECT doc_id, source, src_rank,
               row_number() OVER (ORDER BY vt, source, src_rank) - 1
                 AS interleave_pos
        FROM v
    """,
    }
)


# --- model-based quality filtering: hashed-ngram linear classifier


def cls_quality_score(spark, sf_dir):
    """Hashed bag-of-ngrams linear classifier inference (the DCLM /
    FineWeb-Edu model-based quality-filter stage, operators/classifier):
    unigram+bigram salted-md5 features mod 4096, synthesized exact-
    decimal weight table w(b) = (b % 201)/100 − 1, bias −0.1, sigmoid
    score. The oracle rebuilds the identical feature stream and weight
    function in DuckDB."""
    from sandcrawler_spark.operators import classifier

    docs = _t(spark, sf_dir, "documents")
    wdf = spark.range(4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") % 201).cast("double") / 100.0 - 1.0).alias("w"),
    )
    out = classifier.classify_documents(
        docs, "doc_id", "text", wdf, bias=-0.1, dim=4096
    )
    return out.select(F.col("id").alias("doc_id"), "score")


QUERIES2.update({"cls_quality_score": cls_quality_score})

ORACLES2.update(
    {
        "cls_quality_score": r"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               x -> x <> '') AS l
            FROM documents),
        uni AS (SELECT doc_id, unnest(l) AS f FROM t),
        bi AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS f
               FROM t, unnest(range(1, len(l))) AS r(i)
               WHERE len(l) >= 2),
        feats AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('hlc', f)), 1, 15))
                        AS BIGINT) % 4096 AS b
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        perb AS (SELECT doc_id, b, count(*) AS c FROM feats GROUP BY doc_id, b),
        perd AS (SELECT doc_id, count(*) AS n FROM feats GROUP BY doc_id),
        m AS (
            SELECT perb.doc_id,
                   sum(((b % 201) / 100.0 - 1.0) * (c * 1.0 / n)) - 0.1 AS margin
            FROM perb JOIN perd USING (doc_id)
            GROUP BY perb.doc_id)
        SELECT doc_id, round(1.0 / (1.0 + exp(-margin)), 6) AS score FROM m
    """,
    }
)


def pipe_curation_quality(spark, sf_dir):
    """The composed rule→model curation pipeline: exact-dedup + Gopher
    gates (curation_decisions) then the model-based quality filter
    (curation.quality_filter with the synthesized exact-decimal weight
    table of cls_quality_score) — kept docs scoring < 0.5 demote to
    'quality_fail'. The oracle replays both stages."""
    from sandcrawler_spark.operators.curation import (
        curation_decisions,
        quality_filter,
    )

    docs = _t(spark, sf_dir, "documents")
    decisions = curation_decisions(docs)
    wdf = spark.range(4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") % 201).cast("double") / 100.0 - 1.0).alias("w"),
    )
    d2, _kept, _scores = quality_filter(
        docs, decisions, wdf, bias=-0.1, threshold=0.5, dim=4096
    )
    return d2.select("doc_id", "reason")


QUERIES2.update({"pipe_curation_quality": pipe_curation_quality})

ORACLES2.update(
    {
        "pipe_curation_quality": r"""
        WITH hashed AS (
            SELECT doc_id, text, md5(lower(trim(text))) AS h
            FROM documents),
        canon AS (SELECT h, min(doc_id) AS keep_id FROM hashed GROUP BY h),
        toksq AS (
            SELECT hashed.doc_id,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS t
            FROM hashed JOIN canon USING (h)
            WHERE hashed.doc_id = canon.keep_id),
        feats AS (
            SELECT doc_id,
                   len(t) AS n_words,
                   round(length(list_aggregate(t, 'string_agg', ''))
                         * 1.0 / len(t), 4) AS mean_word_len,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[#]|[.]{3}|…')))
                         * 1.0 / len(t), 4) AS symbol_ratio,
                   round(len(list_filter(t,
                         x -> regexp_matches(x, '[A-Za-z]')))
                         * 1.0 / len(t), 4) AS alpha_frac,
                   len(list_filter(t, x -> list_contains(
                         ['the','be','to','of','and','that','have','with'],
                         x))) AS n_stop
            FROM toksq),
        gates AS (
            SELECT doc_id,
                   ((n_words BETWEEN 50 AND 100000)
                    AND (mean_word_len BETWEEN 3 AND 10)
                    AND (symbol_ratio < 0.1)
                    AND (alpha_frac >= 0.8)
                    AND (n_stop >= 2)) AS pass_gopher
            FROM feats),
        rules AS (
            SELECT hashed.doc_id,
                   CASE WHEN hashed.doc_id <> canon.keep_id THEN 'exact_dup'
                        WHEN NOT gates.pass_gopher THEN 'gopher_fail'
                        ELSE 'kept' END AS reason
            FROM hashed
            JOIN canon USING (h)
            LEFT JOIN gates ON gates.doc_id = hashed.doc_id),
        tq AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               x -> x <> '') AS l
            FROM documents),
        uni AS (SELECT doc_id, unnest(l) AS f FROM tq),
        bi AS (SELECT doc_id, l[i] || ' ' || l[i + 1] AS f
               FROM tq, unnest(range(1, len(l))) AS r(i)
               WHERE len(l) >= 2),
        fx AS (
            SELECT doc_id,
                   CAST(concat('0x', substr(md5(concat('hlc', f)), 1, 15))
                        AS BIGINT) % 4096 AS b
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
        perb AS (SELECT doc_id, b, count(*) AS c FROM fx GROUP BY doc_id, b),
        perd AS (SELECT doc_id, count(*) AS n FROM fx GROUP BY doc_id),
        m AS (
            SELECT perb.doc_id,
                   sum(((b % 201) / 100.0 - 1.0) * (c * 1.0 / n)) - 0.1 AS margin
            FROM perb JOIN perd USING (doc_id)
            GROUP BY perb.doc_id),
        sc AS (SELECT doc_id,
                      round(1.0 / (1.0 + exp(-margin)), 6) AS score FROM m)
        SELECT rules.doc_id,
               CASE WHEN rules.reason = 'kept' AND sc.score < 0.5
                    THEN 'quality_fail' ELSE rules.reason END AS reason
        FROM rules LEFT JOIN sc ON sc.doc_id = rules.doc_id
    """,
    }
)


def dd_cluster_reps(spark, sf_dir):
    """Keep-best cluster-representative selection
    (dedup.select_representatives): synthetic clusters + scores from
    orders (cluster = o_orderkey % 977, score = (o_orderkey % 53) with
    every 11th member unscored), argmax-score / min-id-tiebreak per
    cluster — the quality-retention dedup policy."""
    from sandcrawler_spark.operators.dedup import select_representatives

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    members = orders.select(
        k.cast("long").alias("id"), (k % 977).cast("long").alias("cluster_id")
    )
    scores = orders.filter(k % 11 != 0).select(
        k.cast("long").alias("id"), (k % 53).cast("double").alias("score")
    )
    out = select_representatives(members, scores)
    return out.select(
        "id",
        "cluster_id",
        # -inf round-trips differently via duckdb; compare a NULLed twin
        F.when(F.col("score") != F.lit(float("-inf")), F.col("score")).alias("score"),
        "is_representative",
    )


QUERIES2.update({"dd_cluster_reps": dd_cluster_reps})

ORACLES2.update(
    {
        "dd_cluster_reps": r"""
        WITH m AS (
            SELECT CAST(o_orderkey AS BIGINT) AS id,
                   CAST(o_orderkey % 977 AS BIGINT) AS cluster_id,
                   CASE WHEN o_orderkey % 11 <> 0
                        THEN CAST(o_orderkey % 53 AS DOUBLE) END AS score
            FROM orders),
        mm AS (SELECT *, coalesce(score, -1e308) AS s FROM m),
        best AS (SELECT cluster_id, max(s) AS b FROM mm GROUP BY cluster_id),
        keep AS (
            SELECT mm.cluster_id, min(mm.id) AS keep_id
            FROM mm JOIN best USING (cluster_id) WHERE mm.s = best.b
            GROUP BY mm.cluster_id)
        SELECT mm.id, mm.cluster_id, mm.score,
               mm.id = keep.keep_id AS is_representative
        FROM mm JOIN keep USING (cluster_id)
    """,
    }
)


def txt_clean(spark, sf_dir):
    """Unicode/text cleanup kernel (text.clean_documents): controls
    stripped, horizontal-whitespace runs collapsed, space-around-
    newline normalized, blank-line runs capped, trim, NFC. The corpus
    plants every rule: a decomposed e+combining-acute (NFC target),
    BEL control, NBSP+tab run, a 4-newline run, CRLF. The oracle
    replays each regex pass + nfc_normalize in DuckDB."""
    from sandcrawler_spark.operators.text import clean_documents

    docs = _t(spark, sf_dir, "documents")
    noisy = docs.select(
        "doc_id",
        # the prefix literal is DECOMPOSED on purpose (e + U+0301, see
        # the bytes) - the engine's NFC must compose it to match the
        # oracle's nfc_normalize
        F.concat(
            F.lit("étude:\x07  \t"),
            F.col("text"),
            F.lit(" \n\n\n\nend \r\n fin"),
        ).alias("text"),
    )
    out = clean_documents(noisy)
    return out.select(F.col("id").alias("doc_id"), "text")


QUERIES2.update({"txt_clean": txt_clean})

ORACLES2.update(
    {
        "txt_clean": r"""
        WITH noisy AS (
            SELECT doc_id,
                   'e' || chr(769) || 'tude:' || chr(7) || ' ' || chr(160)
                   || chr(9) || text || ' ' || repeat(chr(10), 4)
                   || 'end ' || chr(13) || chr(10) || ' fin' AS t
            FROM documents),
        c1 AS (SELECT doc_id,
                      regexp_replace(t, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]', '', 'g') AS t
               FROM noisy),
        c2 AS (SELECT doc_id,
                      regexp_replace(t, '[ \t\x{00A0}]+', ' ', 'g') AS t FROM c1),
        c3 AS (SELECT doc_id,
                      regexp_replace(t, ' ?\r?\n ?', chr(10), 'g') AS t FROM c2),
        c4 AS (SELECT doc_id,
                      regexp_replace(t, '\n{3,}', chr(10) || chr(10), 'g') AS t FROM c3)
        SELECT doc_id, nfc_normalize(trim(t)) AS text FROM c4
    """,
    }
)
