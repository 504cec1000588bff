"""The extraction as a SQL-composable pandas_udf.

`extract_text` wraps the pure extractor for `x_extract_documents`
(SELECT extract_text(text)).  The JVM-side text queries (`q_canonicalize`,
`q_word_count`, `q_token_count`) spell their Column expressions inline in
__spark_entry__.py, next to their oracle SQL.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def extract_text(text: pd.Series) -> pd.Series:
    """Thin scalar wrapper over the pure extractor for SQL composability:
    SELECT extract_text(text) — returns extracted_text only (G24).
    Runs the cross-turn batched pipeline per Arrow batch (result-identical
    to per-row extract_turn; tests/test_batch_parity.py)."""
    from ocr_spark.extract.extractor import extract_results

    return pd.Series([r["extracted_text"] for r in extract_results(text.tolist())])
