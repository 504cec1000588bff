"""What two or more query families share: the input tables, the sf
the DuckDB oracles bind to, the planted-twin corpus builder and the
quality score, and the `oracle` decorator that attaches each query's
DuckDB twin to its Spark builder."""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ocr_spark.functions.text import lower_words


def oracle(sql: str | Callable[[], str]):
    """Attach a driver query's DuckDB oracle as `fn.oracle`: the SQL text,
    or a zero-argument callable when the text depends on the oracle sf
    (expected-table paths, ANN parameters, IVF centroids).  Column names
    and aliases match the Spark side exactly (the driver hashes values
    after sorting columns by name)."""

    def attach(fn):
        fn.oracle = sql
        return fn

    return attach


_STOPWORDS = "the|and|of|to|a|in|is|it|for|on"


def _oracle_sf_dir() -> str:
    """The sf dir the DuckDB oracles bind to: SPARK_GRAFT_ORACLE_SF holds
    either a bare sf name (driver default, tables under /root/testdata)
    or a full dir path (tools/compare_oracle.py)."""
    v = os.environ.get("SPARK_GRAFT_ORACLE_SF", "sf0.01").rstrip("/")
    return v if os.sep in v else os.path.join("/root/testdata", v)


def _with_planted_twins(df: DataFrame, key: str, val: str, below: int,
                        twin) -> DataFrame:
    """(key, val): every row, plus a planted twin (key + 1000000, `twin`)
    for each row with key < `below`, so the dedup queries have
    non-trivial positives at every sf.  ONE scan: each row conditionally
    emits itself and its twin via a single explode (the union-of-filter
    formulation scanned the table twice per reference)."""
    rows = F.array(
        F.struct(F.col(key).alias(key), F.col(val).alias(val)),
        F.when(
            F.col(key) < below,
            F.struct((F.col(key) + F.lit(1000000)).alias(key), twin.alias(val)),
        ),
    )
    return (
        df.select(F.explode(rows).alias("r"))
        .filter(F.col("r").isNotNull())
        .select(f"r.{key}", f"r.{val}")
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet is a single small file -> one input partition.
    Queries doing heavy per-row compute (regex, UDFs, explodes) must
    spread rows across cores first; the tiny round-robin shuffle is
    orders of magnitude cheaper than serializing the compute.  (At 100 TB
    the scan would arrive pre-split by maxPartitionBytes and this becomes
    a no-op choice; it exists because the sandbox file is one row group.)
    """
    return _docs(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Quality score: stopword ratio + bounded length factor, fixed-pointed.
def _quality_fp(d: DataFrame) -> DataFrame:
    """(doc_id, quality_fp) of each (doc_id, text) row."""
    lower = F.lower(F.col("text"))
    # two-step projection: each regex/split runs once per row, the score
    # expression below reads plain columns
    d = d.select(
        "doc_id",
        F.size(lower_words(lower)).cast("double").alias("_words"),
        F.size(
            F.regexp_extract_all(lower, F.lit(rf"\b({_STOPWORDS})\b"), F.lit(0))
        )
        .cast("double")
        .alias("_stop_hits"),
    )
    words = F.col("_words")
    stop_hits = F.col("_stop_hits")
    score = (
        F.least(words, F.lit(100.0)) / F.lit(100.0) * F.lit(0.5)
        + F.when(words > 0, stop_hits / words).otherwise(F.lit(0.0)) * F.lit(0.5)
    )
    return d.select(
        "doc_id",
        F.floor(score * F.lit(10000.0)).cast("long").alias("quality_fp"),
    )
