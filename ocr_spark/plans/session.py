"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session with AQE, Arrow, UTC, and right-sized shuffle partitions.

    In local[N] mode shuffle partitions default to N (the guide's
    "~cores, not 200" rule); on a real cluster leave the default or pass
    an explicit value sized to executor count * cores.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches sized so a batch of fat turns stays comfortably
        # in worker memory (analogue of tf.data batching, SURVEY §4.1).
        # 8192 x ~1KB payloads ~ 8MB/batch; measured 30% faster than 2048
        # (fewer per-batch Arrow IPC + pandas-construction round-trips).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # The record cap alone is row-count-based; MAX_TURN_CHARS allows
        # 16 MiB turns, so a batch of fat turns must ALSO be bytes-gated
        # or the UDF worker can see multi-GB batches on skewed corpora.
        # 32 MB halves Spark 4's 64 MB default to leave headroom for the
        # cross-turn flat block arrays _extract_batch_results builds on
        # top of the Arrow batch (~2-3x the payload bytes).
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "33554432b")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_parallelism(master)))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_parallelism(master: str) -> int:
    """Task slots of a local master: `local` runs 1, `local[N]` and
    `local[N,F]` run N, `local[*]` and `local[*,F]` one per CPU this
    process may run on (the JVM honours the affinity mask too; F is the
    task retry count, not a width).  Anything else is a cluster URL,
    whose width the driver cannot see: Spark's default of 200."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:,\d+)?\])?", master)
    if m is None:
        return 200
    n = m.group(1)
    if n is None:
        return 1
    return len(os.sched_getaffinity(0)) if n == "*" else int(n)
