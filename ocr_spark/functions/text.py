"""Text Column builders shared by the driver queries and their streaming
twins, plus the extraction as a SQL-composable pandas_udf.

Every JVM-side text expression that more than one query spells is
defined here once: the two word tokenizers, the word bigram and
word-3-gram shingle, the n-gram md5 fingerprints and the md5-prefix
hash.  The queries in
ocr_spark/queries/ and the streams in ocr_spark/streaming/ both call
these builders, so the DuckDB oracle SQL (written out independently
beside each query) checks the code the streams actually run.

`extract_text` wraps the pure extractor for `x_extract_documents`
(SELECT extract_text(text)).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StringType


def md5_long(col: Column | str, hex_chars: int = 15) -> Column:
    """Cross-engine deterministic hash: the int64 of the first
    `hex_chars` hex digits of md5(col) (60 bits at the default), equal to
    DuckDB's `('0x' || substr(md5(x), 1, 15))::BIGINT`."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def letter_words() -> Column:
    """Letters-only words of `text`: every non-letter becomes a space,
    lowercase, space runs collapse, split on ' '.  A text with no letters gives
    [''] (callers that explode filter on length)."""
    canon = F.lower(F.trim(F.regexp_replace("text", r"[^A-Za-z ]", " ")))
    return F.split(F.trim(F.regexp_replace(canon, r" +", " ")), " ")


def word_rows(df: DataFrame, *keys: str, min_len: int = 1) -> DataFrame:
    """(keys..., w): one row per `letter_words` word of `text` that is at
    least `min_len` characters long."""
    return df.select(*keys, F.explode(letter_words()).alias("w")).filter(
        F.length("w") >= min_len
    )


def lower_words(col: Column | str) -> Column:
    """Lowercase whitespace words: lower, collapse [ \\t\\r\\n] runs, trim,
    split on ' '.  The empty-text guard makes an empty or all-whitespace
    text [] rather than ['']."""
    canon = F.trim(F.regexp_replace(F.lower(col), r"[ \t\r\n]+", " "))
    return F.when(F.length(canon) == 0, F.expr("array()")).otherwise(
        F.split(canon, " ")
    )


def word_bigrams(ws: str) -> Column:
    """Adjacent word pairs 'a b' of the word-array column `ws`, in order
    (duplicates kept)."""
    return F.expr(
        f"transform(sequence(1, greatest(size({ws}) - 1, 0)),"
        f" i -> concat(element_at({ws}, i), ' ', element_at({ws}, i+1)))"
    )


def word3_shingles(w: str) -> Column:
    """Distinct word-3-gram strings of the word-array column `w`.  `w`
    must be a projected column: inlining split() into the lambda would
    re-split the text for every shingle (O(words^2) splits per doc)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({w}) - 2, 0)),"
        f" i -> concat_ws(' ', element_at({w}, i),"
        f" element_at({w}, i+1), element_at({w}, i+2))))"
    )


def gram_fingerprints(ws: str, gram: int) -> Column:
    """16-hex md5 of every `gram`-word window of the word-array column
    `ws`, in position order; [] when the text is shorter than `gram`."""
    return F.expr(
        f"if(size({ws}) >= {gram},"
        f" transform(sequence(1, size({ws}) - {gram - 1}),"
        f" i -> substring(md5(array_join(slice({ws}, i, {gram}), ' ')),"
        f" 1, 16)), array())"
    )


@F.pandas_udf(StringType())
def extract_text(text: pd.Series) -> pd.Series:
    """Thin scalar wrapper over the pure extractor for SQL composability:
    SELECT extract_text(text) — returns extracted_text only (G24).
    Runs the cross-turn batched pipeline per Arrow batch (result-identical
    to per-row extract_turn; tests/test_batch_parity.py)."""
    from ocr_spark.extract.extractor import extract_results

    return pd.Series([r["extracted_text"] for r in extract_results(text.tolist())])
