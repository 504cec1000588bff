"""The one stream launcher and the operator shapes the streams share.

A streaming operator is a DataFrame -> DataFrame transform marked with
the schema of the files it reads (`@stream_op`); `start_stream` reads
the arriving files under that schema, applies the operator and starts
the parquet sink.  The same transforms run on batch frames.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout

from ocr_spark.sinks.writers import start_parquet_sink
from ocr_spark.sources.transcripts import read_stream

WATERMARK = "30 minutes"    # late-data horizon of windowed and stateful streams
DEDUP_WATERMARK = "1 hour"  # exact and near-dup state horizon
WINDOW = "1 hour"           # event-time window of `closed_windows`


def stream_op(schema):
    """Attach the input schema `start_stream` reads an operator's files
    under, as `fn.schema`."""

    def attach(fn):
        fn.schema = schema
        return fn

    return attach


def start_stream(
    spark: SparkSession,
    op: Callable[..., DataFrame],
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    **params,
) -> StreamingQuery:
    """Read the files arriving under `input_path` with `op.schema`, apply
    `op(frame, **params)` and start the exactly-once parquet sink (returns
    the live query).  `available_now=True` drains the backlog then stops
    (tests and backfills); a bad `max_files_per_trigger` raises in
    `read_stream`, before any query starts."""
    frame = read_stream(spark, input_path, op.schema, max_files_per_trigger)
    return start_parquet_sink(
        op(frame, **params), output_path, checkpoint_path, available_now
    )


def closed_windows(df: DataFrame, keys: list[str], agg: Column) -> DataFrame:
    """Watermarked (event-time window, keys...) aggregate: append mode
    emits each window exactly once, when the watermark (max event time -
    WATERMARK) passes its end; later rows are dropped rather than
    corrupting closed windows, so state is bounded by the horizon, not
    the stream length.  Columns: window_start, window_end, keys..., agg."""
    return (
        df.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("win"), *keys)
        .agg(agg)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "*",
        )
        .drop("win")
    )


def grouped_state(
    df: DataFrame,
    keys: list[str],
    fn: Callable,
    output_schema: str,
    state_schema: str,
    watermark: str = WATERMARK,
) -> DataFrame:
    """`applyInPandasWithState` per `keys` group in append mode with an
    event-time timeout: `fn` sets the timeout, and the watermark firing it
    is what bounds the state."""
    return (
        df.withWatermark("ts", watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            fn,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
