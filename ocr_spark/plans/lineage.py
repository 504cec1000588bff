"""G28/K2-K3: per-bucket lineage + counters table; resume anti-join.

Generalizes the reference's per-item debug artifacts and model
checkpointing (/root/reference/handwriting/predict.py:247-248,
train_mnist.py:129-132) into the thing a 10^12-turn batch job actually
needs: a small table recording which (run_id, bucket) units completed,
with row/block counters, so a re-run resumes from checkpoint via a
LEFT ANTI join (SURVEY.md §2.7, §7.2 M3).

The counters are collected inside the extraction pass itself: one
accumulator per run holds an n_buckets x len(COUNTERS) matrix that every
extraction batch adds to, and `run_extract` turns it into lineage rows.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark import Accumulator, AccumulatorParam, SparkContext
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ocr_spark.sinks.writers import ICEBERG_PREFIX

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.LongType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("blocks_kept", T.LongType(), True),
        T.StructField("blocks_dropped", T.LongType(), True),
        T.StructField("n_ok", T.LongType(), True),
        T.StructField("n_empty", T.LongType(), True),
        T.StructField("n_error", T.LongType(), True),
        T.StructField("finished_ts", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)


# Columns of the accumulator matrix: rows_in ... n_error.
COUNTERS = tuple(LINEAGE_SCHEMA.names[2:9])


class _MatrixSum(AccumulatorParam):
    """Element-wise sum of int64 counter matrices.  A batch may send only
    the rows up to its largest bucket."""

    def zero(self, value: np.ndarray) -> np.ndarray:
        return np.zeros_like(value)

    def addInPlace(self, value1: np.ndarray, value2: np.ndarray) -> np.ndarray:
        value1[: len(value2)] += value2
        return value1


def lineage_counts(sc: SparkContext, n_buckets: int) -> Accumulator:
    """A fresh n_buckets x len(COUNTERS) accumulator for one run."""
    return sc.accumulator(
        np.zeros((n_buckets, len(COUNTERS)), np.int64), _MatrixSum()
    )


def lineage_from_counts(
    spark: SparkSession, counts: np.ndarray, run_id: str
) -> DataFrame:
    """One lineage row per bucket that had input rows in this run.

    Raises RuntimeError when a bucket's rows_in (counted on the UDF's
    input rows) differs from its rows_out (counted on its output frame):
    G26 promises one output row per input row, never row loss.
    """
    rows_in, rows_out = counts[:, 0], counts[:, 1]
    bad = np.flatnonzero(rows_in != rows_out)
    if len(bad):
        raise RuntimeError(
            f"lineage: rows_in != rows_out in buckets {bad[:10].tolist()}"
        )
    finished = datetime.now(timezone.utc)
    rows = [
        (run_id, int(b), *map(int, counts[b]), finished, "done")
        for b in np.flatnonzero(rows_in)
    ]
    return spark.createDataFrame(rows, LINEAGE_SCHEMA)


def lineage_from_output(out: DataFrame, run_id: str) -> DataFrame:
    """Aggregate per-bucket counters from a written extraction output.

    The output cannot show the input rows, so rows_in is a copy of
    rows_out here.  `run_extract` does not use this: it counts both
    independently in the extraction pass (`lineage_from_counts`).  This
    scan is the reference those counts are tested against.
    """
    return out.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum("n_blocks_kept").cast("long").alias("blocks_kept"),
        F.sum(F.col("n_blocks_in") - F.col("n_blocks_kept"))
        .cast("long")
        .alias("blocks_dropped"),
        F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
        F.sum((F.col("status") == "empty").cast("long")).alias("n_empty"),
        F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
    ).select(
        F.lit(run_id).alias("run_id"),
        F.col("bucket").cast("long"),
        F.col("rows_out").alias("rows_in"),
        "rows_out",
        "blocks_kept",
        "blocks_dropped",
        "n_ok",
        "n_empty",
        "n_error",
        F.current_timestamp().alias("finished_ts"),
        F.lit("done").alias("status"),
    )


def read_lineage(spark: SparkSession, path: str) -> DataFrame | None:
    """The lineage rows at `path`, routed as `write_lineage` routes it (an
    `iceberg:` table or a parquet directory), or None when nothing has
    been written there yet.  Any other read error raises."""
    try:
        if path.startswith(ICEBERG_PREFIX):
            return spark.table(path[len(ICEBERG_PREFIX):])
        return spark.read.schema(LINEAGE_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND"):
            return None
        raise


def completed_buckets(spark: SparkSession, path: str, run_id: str) -> DataFrame | None:
    """Buckets already done for run_id, for the resume LEFT ANTI join."""
    lin = read_lineage(spark, path)
    if lin is None:
        return None
    return (
        lin.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket")
        .distinct()
    )
