"""K1/K3 sinks (SURVEY.md §2.2): extracted-output and lineage writers.

Production target is Iceberg (`BASELINE.json: north_rule` — snapshot
isolation, per-bucket idempotent overwrite via `overwritePartitions`);
the sandbox has no Iceberg runtime jar, so destinations are routed by
prefix through ONE module with a parquet path that preserves the same
idempotence contract (dynamic partition overwrite by bucket):

  "iceberg:db.extracted"  -> df.writeTo(...).overwritePartitions()
  "/path/dir"             -> dynamic-overwrite parquet partitioned by bucket

Tests never depend on the jar (SURVEY §7.4 sandbox risk).

EXPERIMENTAL: the iceberg: branch is written against the public Iceberg
Spark-runtime API (writeTo/overwritePartitions/append + spark.table) but
CANNOT be executed in this sandbox — no Iceberg runtime jar is available
— so it is unverified by any test here.  The parquet branch carries the
identical idempotence contract and is fully tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

ICEBERG_PREFIX = "iceberg:"


def write_extracted(df: DataFrame, dest: str) -> None:
    """Idempotent per-bucket write of the extraction output.

    Requires a `bucket` column (the resume/lineage unit).  Re-running a
    subset of buckets replaces exactly those buckets — both backends
    honor that contract, so resume logic is backend-agnostic.
    """
    if dest.startswith(ICEBERG_PREFIX):
        table = dest[len(ICEBERG_PREFIX):]
        # Iceberg dynamic overwrite: replaces only the partitions present
        # in df (table partitioned by `bucket`); snapshot-isolated.
        df.writeTo(table).overwritePartitions()
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(dest)
    )


def write_lineage(df: DataFrame, dest: str) -> None:
    """Append-only lineage/counters rows (G28)."""
    if dest.startswith(ICEBERG_PREFIX):
        df.writeTo(dest[len(ICEBERG_PREFIX):]).append()
        return
    df.write.mode("append").parquet(dest)


def start_parquet_sink(
    df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    available_now: bool,
) -> StreamingQuery:
    """Start an append-mode parquet sink for a streaming frame.  Spark's
    checkpoint makes it exactly-once across restarts; `available_now`
    drains the input present at start and stops."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_output(spark, dest: str) -> DataFrame:
    if dest.startswith(ICEBERG_PREFIX):
        # spark.table is the canonical read for catalog table identifiers
        # and matches df.writeTo's catalog resolution; format("iceberg")
        # .load() can be misread as a path under some catalog configs.
        return spark.table(dest[len(ICEBERG_PREFIX):])
    return spark.read.parquet(dest)
