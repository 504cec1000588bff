"""Scalar text functions (SURVEY.md §2.9/§2.10).

Two tiers:
  - JVM-side Column helpers (whole-stage codegen; used by SQL-checkable
    queries in __spark_entry__) for the ops built-ins can express;
  - Arrow-vectorized pandas_udfs wrapping the pure extractor for the ops
    they can't (the extraction itself).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column
from pyspark.sql.types import IntegerType, StringType


# --- JVM-side helpers (no UDF, codegen'd) ---------------------------------

def canonicalize_ws(col: Column) -> Column:
    """G17 canonical whitespace form, expressible in both Spark SQL and
    DuckDB (used with a SQL oracle): trim + collapse internal whitespace
    runs to single spaces."""
    return F.trim(F.regexp_replace(col, r"[ \t\r\n]+", " "))


def word_count(col: Column) -> Column:
    """G10 word count over canonical whitespace form."""
    return F.when(F.length(canonicalize_ws(col)) == 0, F.lit(0)).otherwise(
        F.size(F.split(canonicalize_ws(col), " "))
    )


def token_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single symbols.

    The regex is dialect-portable (Java regex and RE2 agree on it), so
    the DuckDB oracle runs the identical pattern.
    """
    return F.size(F.regexp_extract_all(col, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"), 0))


# --- Arrow-vectorized UDFs -------------------------------------------------

@F.pandas_udf(StringType())
def extract_text(text: pd.Series) -> pd.Series:
    """Thin scalar wrapper over the pure extractor for SQL composability:
    SELECT extract_text(text) — returns extracted_text only (G24).
    Runs the cross-turn batched pipeline per Arrow batch (result-identical
    to per-row extract_turn; tests/test_batch_parity.py)."""
    from ocr_spark.extract.extractor import extract_results

    return pd.Series([r["extracted_text"] for r in extract_results(text.tolist())])


@F.pandas_udf(IntegerType())
def extracted_block_count(text: pd.Series) -> pd.Series:
    """Number of accepted spans per payload (A5 analogue)."""
    from ocr_spark.extract.extractor import extract_results

    res = extract_results(text.tolist())
    return pd.Series([r["n_blocks_kept"] for r in res]).astype("int32")


def register_all(spark) -> None:
    """Register UDFs for spark.sql() use."""
    spark.udf.register("extract_text", extract_text)
    spark.udf.register("extracted_block_count", extracted_block_count)
