"""The distributed extraction operator (SURVEY.md §2.10).

`extract_turns` is the UDTF-shaped whole-pipeline operator
(generalizing predict_from_pil_image, /root/reference/handwriting/
predict.py:212-299) as a mapInPandas over Arrow batches: per batch of
turns, the pure `extract_frame` runs NumPy-vectorized — no per-row Python
UDFs anywhere (input_hint mandate).

Given a lineage accumulator, the same pass also counts each batch's input
and output rows per bucket (plans/lineage.py), so lineage never re-reads
the written output.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark import Accumulator
from pyspark.sql import DataFrame

from ocr_spark.extract.extractor import (
    OUTPUT_SCHEMA_DDL,
    STATUS_EMPTY,
    STATUS_ERROR,
    STATUS_OK,
    extract_frame,
)


def _bucket_counts(bucket_in: np.ndarray, out: pd.DataFrame) -> np.ndarray:
    """One batch's lineage counters: a (max bucket + 1) x 7 int64 matrix,
    columns in `lineage.COUNTERS` order.  rows_in comes from the input
    rows, everything else from the output frame's own rows."""
    n = int(bucket_in.max(initial=-1)) + 1
    b = out["bucket"].to_numpy()
    kept = out["n_blocks_kept"].to_numpy()
    dropped = out["n_blocks_in"].to_numpy() - kept
    status = out["status"].to_numpy()
    cols = [
        np.bincount(bucket_in, minlength=n),
        np.bincount(b, minlength=n),
        np.bincount(b, kept, n),
        np.bincount(b, dropped, n),
        np.bincount(b, status == STATUS_OK, n),
        np.bincount(b, status == STATUS_EMPTY, n),
        np.bincount(b, status == STATUS_ERROR, n),
    ]
    return np.column_stack(cols).astype(np.int64)


def _extract_batches(
    it: Iterator[pd.DataFrame], counts: Accumulator | None = None
) -> Iterator[pd.DataFrame]:
    # G27: module import above = once-per-executor init of compiled
    # regexes/tables; nothing per-batch to (re)load.
    for pdf in it:
        out = extract_frame(pdf)
        if counts is not None:
            bucket = pdf["bucket"].to_numpy(np.int64)
            # pandas refuses a column of another length: each output row
            # carries the bucket of the input row it was extracted from.
            out["bucket"] = bucket
            counts.add(_bucket_counts(bucket, out))
        yield out


def extract_turns(df: DataFrame, counts: Accumulator | None = None) -> DataFrame:
    """Run main-content extraction over a transcripts DataFrame.

    Narrow transformation (no shuffle of its own): partitioning is the
    caller's concern (plans/extract_job.py buckets + salts first).
    Input needs columns (conv_id, turn_idx, text); output schema is
    OUTPUT_SCHEMA_DDL.

    With `counts` (a `lineage_counts` accumulator) the input also needs
    `bucket`: it is carried through to the output, and every batch adds
    its per-bucket counters to `counts`.
    """
    # Column-prune before the Arrow transfer: ship only what the UDF
    # reads (role/tool/ts stay JVM-side).
    if counts is None:
        pruned = df.select("conv_id", "turn_idx", "text")
        return pruned.mapInPandas(_extract_batches, schema=OUTPUT_SCHEMA_DDL)
    pruned = df.select("conv_id", "turn_idx", "text", "bucket")
    return pruned.mapInPandas(
        partial(_extract_batches, counts=counts),
        schema=OUTPUT_SCHEMA_DDL + ", bucket long",
    )
