"""Interleaved-document span transforms (the input_hint invariant).

The reference models an HTML capture as a primary text body plus an
ORDERED list of typed sub-resources (`WebResource`,
ingest_html.py:74-87), assembled in extraction order by
``html_extract_resources`` (html_metadata.py:1034-1077) which removes
EXACT duplicates only (``if r not in resources``, html_metadata.py:1075)
while preserving first-occurrence order. ``IngestWebResult`` interleaves
the text body (with ``word_count``, ingest_html.py:36-61) with those
resources. The per-row invariant the rebuild must preserve through any
ingest/extract transform: span-sequence equality — (kind, text,
media_ref) ordered by offset.

Order never depends on partitioning: offset is data, not an artifact
of task order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interleave_stats(span_rows: DataFrame) -> DataFrame:
    """Per-document interleaving profile of a span sequence — the
    multimodal corpus-QA metric for ``(doc_id, spans)`` tables
    (image/text ratio, alternation density): how many spans, how many
    are media, the media fraction, the offset of the first media span,
    and the number of kind ALTERNATIONS in offset order (a pure-text
    doc alternates 0 times; a caption-per-image page alternates every
    span).

    Input is exploded span rows (doc_id, kind, offset).  Order
    comes from ``offset`` — data, not partitioning — via a per-doc lag
    window, so the result is parallelism-independent; the window is
    keyed by doc_id, never global.
    """
    from pyspark.sql import Window

    is_media = (F.col("kind") != "text").cast("int")
    w = Window.partitionBy("doc_id").orderBy("offset")
    flagged = span_rows.select(
        "doc_id", "kind", "offset", is_media.alias("m")
    ).withColumn(
        "alt",
        F.when(
            F.lag("kind").over(w).isNotNull()
            & (F.col("kind") != F.lag("kind").over(w)),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("m").alias("n_media"),
        F.round(F.sum("m") / F.count("*"), 6).alias("media_fraction"),
        F.min(F.when(F.col("m") == 1, F.col("offset"))).alias(
            "first_media_offset"
        ),
        F.sum("alt").alias("alternations"),
    )


def flatten_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_text_spans, n_media_spans): each doc's
    interleaved span sequence flattened to plain text — kind='text'
    spans joined by one space in OFFSET order (array_sort with an
    explicit offset comparator, applied inside the array: no explode,
    no shuffle, order from data not partitioning). Media spans are
    counted, never decoded. The crawl→corpus bridge
    (tools/crawl_to_corpus.py) runs this over fetched docs to produce
    the `documents` table the curation/dedup/classifier operators eat.
    """
    text_spans = F.array_sort(
        F.filter("spans", lambda s: s["kind"] == "text"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    return docs.select(
        "doc_id",
        F.array_join(F.transform(text_spans, lambda s: s["text"]), " ").alias("text"),
        F.size(F.filter("spans", lambda s: s["kind"] == "text")).alias("n_text_spans"),
        F.size(F.filter("spans", lambda s: s["kind"] != "text")).alias("n_media_spans"),
    )
