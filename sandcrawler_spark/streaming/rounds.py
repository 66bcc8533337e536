"""Streaming ingest-result persistence (SURVEY §3.2).

Reference lifecycle: KafkaJsonPusher consumes `ingest-file-results` in
batches of 100 → PersistIngestFileResultWorker.push_batch fans ONE JSON
batch into 5 relational upserts in one transaction
(persist.py:246-314; batching sandcrawler_worker.py:289-302).

Spark shape: one streaming DataFrame → ``foreachBatch`` → cache the
micro-batch once → N idempotent table writes (the cache replaces the
reference's 'one decode, five upserts' transaction body). At-least-once
stream delivery + key-deduped MERGE = effectively-once, replacing the
reference's manual offset-store-after-process (workers.py:595-598).

File-based streams are used here (Kafka jars absent); semantics are
source-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("ingest_type", T.StringType()),
        T.StructField("canonical_url", T.StringType()),
        T.StructField("hit", T.BooleanType()),
        T.StructField("status", T.StringType()),
        T.StructField("terminal_sha1hex", T.StringType()),
        T.StructField("size_bytes", T.LongType()),
        T.StructField("mimetype", T.StringType()),
    ]
)


def _merge_parquet_nothing(batch: DataFrame, path: str, keys: list[str]) -> None:
    """ON CONFLICT DO NOTHING upsert into a parquet-backed table
    (db.py:204-207 file_meta policy). Iceberg MERGE in production; here:
    anti-join existing keys, append only novel rows."""
    spark = batch.sparkSession
    if os.path.exists(path):
        existing = spark.read.parquet(path).select(*keys)
        batch = batch.join(existing, keys, "left_anti")
    batch.write.mode("append").parquet(path)


def persist_results_stream(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    batch_size_files: int = 1,
):
    """results JSON-lines stream → (url_seen, file_meta) fan-out.

    In-batch last-wins dedup per key BEFORE the merge, exactly the
    reference's row_dict[key]=row idiom (db.py:186-190) — order-aware
    via the explicit ``seq`` column (SURVEY §7.3 #5: dropDuplicates
    would be arbitrary-wins).
    """
    stream = (
        spark.readStream.schema(RESULT_SCHEMA)
        .option("maxFilesPerTrigger", batch_size_files)
        .json(input_dir)
    )

    def fan_out(batch: DataFrame, epoch_id: int) -> None:
        batch = batch.cache()  # one decode, N table writes (persist.py:262-313)
        try:
            w = Window.partitionBy("ingest_type", "canonical_url").orderBy(F.desc("seq"))
            results = (
                batch.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .drop("rn")
            )
            _merge_parquet_nothing(
                results.select("ingest_type", "canonical_url", "hit", "status", "seq"),
                os.path.join(out_dir, "url_seen"),
                ["ingest_type", "canonical_url"],
            )
            wf = Window.partitionBy("terminal_sha1hex").orderBy(F.desc("seq"))
            file_meta = (
                batch.filter(F.col("terminal_sha1hex").isNotNull())
                .withColumn("rn", F.row_number().over(wf))
                .filter(F.col("rn") == 1)
                .select("terminal_sha1hex", "size_bytes", "mimetype")
            )
            _merge_parquet_nothing(
                file_meta, os.path.join(out_dir, "file_meta"), ["terminal_sha1hex"]
            )
        finally:
            batch.unpersist()

    return (
        stream.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_status_counters(spark: SparkSession, input_dir: str):
    """A7 as a stream: per-status counts over 1-minute event-time windows
    with a watermark for late data — the streaming form of the frontier's
    per-round counters."""
    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("status", T.StringType()),
                    T.StructField("ts", T.TimestampType()),
                ]
            )
        )
        .json(input_dir)
    )
    return (
        stream.withWatermark("ts", "5 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), "status")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("wstart"), "status", "n")
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str = "ts",
    right_time: str = "ts",
    window_s: int = 600,
    watermark_s: int = 300,
) -> DataFrame:
    """Stream-stream time-range join: right events landing in the
    ``window_s`` window after each left event, per key — the streaming
    form of ``operators/temporal.py::interval_join`` (batch twin used
    as the oracle in tests).

    Both inputs must be streaming DataFrames. Watermarks bound the join
    state: Spark keeps a left row only until its window can no longer
    match (watermark past ``left_time + window_s``) and a right row
    until the watermark passes ``right_time``, so state is
    O(in-flight window), not O(stream). The equality key keeps it a
    hash join per micro-batch — no nested loop."""
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("l_ts"),
        *[c for c in left.columns if c not in (on, left_time)],
    ).withWatermark("l_ts", f"{watermark_s} seconds")
    r = right.select(
        F.col(on).alias("__k2"),
        F.col(right_time).alias("r_ts"),
        *[c for c in right.columns if c not in (on, right_time)],
    ).withWatermark("r_ts", f"{watermark_s} seconds")
    cond = (
        (F.col("__k") == F.col("__k2"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {window_s} SECONDS"))
    )
    return (
        l.join(r, cond, "inner")
        .drop("__k2")
        .withColumnRenamed("__k", on)
    )
