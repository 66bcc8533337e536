"""Sources & sinks: CDX text scan, JSON-lines, zip/binary blobs, blob
fan-out sinks, and the Iceberg-or-parquet table store (see
plans.state)."""
