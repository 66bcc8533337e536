"""JSON-lines source (S2) + blob sinks (S13).

Reference: JsonLinePusher (workers.py:374-409) reads JSON-per-line task
files and counts undecodable lines instead of failing; the
disk blob sink (persist.py:437-467) fans TEI-XML out to
``aa/bb/<sha1>...`` prefix directories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | str | None = None) -> DataFrame:
    """S2: JSON-lines scan. PERMISSIVE mode + _corrupt_record mirrors the
    reference's skip-and-count behavior for undecodable lines
    (workers.py:391-393)."""
    reader = spark.read.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    )
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_blob_fanout(df: DataFrame, path: str, key_col: str = "sha1hex") -> None:
    """S13/S14: content-addressed blob sink under 2-hex-char fan-out
    prefixes (persist.py:437-467 'aa/bb/<sha1>' layout) — expressed as a
    partitioned write so the object-store layout comes from the engine,
    not a per-row loop."""
    (
        df.withColumn("p1", F.substring(key_col, 1, 2))
        .withColumn("p2", F.substring(key_col, 3, 2))
        .write.mode("overwrite")
        .partitionBy("p1", "p2")
        .parquet(path)
    )
