"""The one stream launcher and the operator shapes the streams share.

A streaming operator is a DataFrame -> DataFrame transform marked with
the schema of the files it reads (`@stream_op`); `start_stream` reads
the arriving files under that schema, applies the operator and starts
the parquet sink.  The same transforms run on batch frames.

The four event-time-state operators (sessionize, conversation assembly,
funnel, MinHash near-dup) are a pure `fold`/`flush` pair each, and
`grouped_state` is the one place that drives them through `GroupState`;
it drops rows with a null event time before they reach any fold.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ocr_spark.sinks.writers import start_parquet_sink
from ocr_spark.sources.transcripts import read_stream

WATERMARK = "30 minutes"    # late-data horizon of windowed and stateful streams
DEDUP_WATERMARK = "1 hour"  # exact and near-dup state horizon
WINDOW = "1 hour"           # event-time window of `closed_windows`


def stream_op(schema, bounded=True):
    """Attach the input schema `start_stream` reads an operator's files
    under, as `fn.schema`, and whether a drain may be split into bounded
    micro-batches, as `fn.bounded`."""

    def attach(fn):
        fn.schema, fn.bounded = schema, bounded
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
    `read_stream`, before any query starts.  An operator marked
    `bounded=False` takes no `max_files_per_trigger`: a bounded drain
    would advance the watermark and the state timeouts between
    micro-batches and change what it emits."""
    if max_files_per_trigger is not None and not op.bounded:
        raise ValueError(
            f"{op.__name__} takes no max_files_per_trigger: its event-time "
            "state would time out between bounded micro-batches"
        )
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


def epoch_ms(ts: pd.Series) -> pd.Series:
    """Epoch milliseconds of a datetime64[ns] series."""
    return ts.astype("int64") // 1_000_000


def grouped_state(
    df: DataFrame,
    keys: list[str],
    fold: Callable,
    flush: Callable,
    output_schema: str,
    state_schema: str,
    gap_ms: int,
    watermark: str = WATERMARK,
) -> DataFrame:
    """`applyInPandasWithState` per `keys` group in append mode with an
    event-time timeout, driving a pure fold/flush pair:

    - new frames: `fold(key, state or None, frame) -> (state, rows)`; the
      state's last field is its last event time in ms, and the timeout is
      set to it + `gap_ms`;
    - timeout (the watermark passed that time): emit `flush(key, state)`
      and remove the state.

    `rows` are dicts keyed by the output columns.  The watermark firing
    the timeout is what bounds the state.  Rows with a null `ts` are
    dropped first: an event with no event time has no place in
    event-time state (it would fold in as epoch -2^63 ns and open a bogus
    session)."""

    def handle(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            rows = flush(key, state.get)
            state.remove()
        else:
            new, rows = fold(
                key, state.get if state.exists else None,
                pd.concat(pdfs, ignore_index=True),
            )
            state.update(new)
            state.setTimeoutTimestamp(new[-1] + gap_ms)
        if rows:
            yield pd.DataFrame(rows)

    return (
        df.filter(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(*keys)
        .applyInPandasWithState(
            handle,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
