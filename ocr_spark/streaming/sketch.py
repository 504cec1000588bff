"""Streaming HyperLogLog — the continuous twin of the batch distinct
sketch (P29, `ocr_spark.queries.sketches.q_hll_distinct`).

The whole point of choosing HLL registers as the distinct summary is
that they merge by MAX — which makes the streaming twin a NATIVE
watermarked max-aggregate, no custom state operator at all:

    words -> (window, lang, register j) -> max(rho)

Append mode + watermark = each (window, lang, j) register row emits
exactly once, when the watermark closes its window; per-partition and
per-micro-batch partial maxes combine in the state store exactly like
map-side combine does in batch.  Downstream consumers fold register
rows to cardinality estimates with `hll_estimate` (the same integer
fixed-point arithmetic as the batch query — no float libm anywhere),
and can UNION register streams from independent pipelines before
folding, because max-merge is associative/commutative/idempotent.
That idempotence is also what makes the sink safely reprocessable: a
replayed register row can never change a folded estimate.

State bound: one long per (open window, lang, register) — at most
64 x |langs| live cells per window horizon, independent of stream
length or cardinality.  The register builders and the fold below are
the batch query's own: `q_hll_distinct` calls them, so
the DuckDB oracle checks the expressions this stream runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ocr_spark.functions.text import md5_long, word_rows
from ocr_spark.sources.transcripts import DOCS_STREAM_SCHEMA
from ocr_spark.streaming.launch import closed_windows, stream_op

HLL_M = 64                              # registers (p = 6)
HLL_S = 1 << 30                         # fixed-point scale for Z
_ALPHA_NUM, _ALPHA_DEN = 709, 1000      # alpha_64 = 0.709


def hll_registers(words: DataFrame, *keys: str) -> DataFrame:
    """(keys..., w) -> (keys..., j, m): each word's register j and its
    rho m = leading-zero count + 1 within the 54-bit hash tail.  The bit
    length comes from the binary-string length (an exact integer path
    in both engines)."""
    h = md5_long(F.concat(F.lit("hll:"), F.col("w")))
    hw = words.select(*keys, h.alias("h")).select(
        *keys,
        (F.col("h") % HLL_M).alias("j"),
        F.expr(f"h div {HLL_M}").alias("h2"),   # 54 remaining hash bits
    )
    rho = F.when(F.col("h2") == 0, F.lit(55)).otherwise(
        F.lit(55) - F.length(F.expr("bin(h2)"))
    )
    return hw.select(*keys, "j", rho.alias("m"))


def hll_register_columns(df: DataFrame) -> DataFrame:
    """(lang, text, ts) -> one row per word occurrence (>= 4 letters)
    with its (j, m) register coordinates.  Stateless, the batch query's
    own builders, so stream and batch registers compare value for
    value."""
    return hll_registers(word_rows(df, "lang", "ts", min_len=4), "lang", "ts")


def hll_fold(registers: DataFrame, *group_cols: str) -> DataFrame:
    """(group..., j, m) register rows -> (group..., n_set, z_set, z_fp,
    est_distinct): max-merge per register, then the estimate
    alpha*m^2/Z with Z in 2^30 fixed point — integer arithmetic only, so
    it matches DuckDB bit for bit."""
    merged = registers.groupBy(*group_cols, "j").agg(F.max("m").alias("m"))
    per = merged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_set"),
        F.sum(F.expr(f"shiftright({HLL_S}, m)")).alias("z_set"),
    )
    z = F.col("z_set") + (F.lit(HLL_M) - F.col("n_set")) * F.lit(HLL_S)
    est = F.expr(
        f"({_ALPHA_NUM} * {HLL_M} * {HLL_M} * cast({HLL_S} as bigint))"
        f" div ({_ALPHA_DEN} * z_fp)"
    )
    return per.withColumn("z_fp", z.cast("long")).withColumn(
        "est_distinct", est.cast("long")
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Fold (group-cols..., j, m) register rows to per-group cardinality
    estimates — exactly the batch arithmetic (`hll_fold`).  Registers
    from multiple sources may be unioned first: max-merge is associative
    and idempotent."""
    group_cols = [c for c in registers.columns if c not in ("j", "m")]
    return hll_fold(registers, *group_cols).select(*group_cols, "est_distinct")


@stream_op(DOCS_STREAM_SCHEMA)
def hll_window_registers(docs: DataFrame) -> DataFrame:
    """Continuous per-(event-time window, lang) HLL register stream over
    arriving document files.  Emits each closed window's 64-register
    table exactly once (append mode); fold with `hll_estimate`."""
    return closed_windows(
        hll_register_columns(docs), ["lang", "j"], F.max("m").alias("m")
    )


# ---------------------------------------------------------------------------
# Streaming Count-Min (P62) — the continuous twin of the batch frequency
# sketch (P21, `ocr_spark.queries.sketches.q_countmin_sketch`).
# ---------------------------------------------------------------------------
#
# Count-Min cells merge by SUM, so — like the HLL registers above — the
# streaming twin is a NATIVE watermarked aggregate, no custom state
# operator: words -> (window, row_id, col_id) -> count(*).  Append mode
# emits each closed window's 4x256 cell table exactly once.  One honest
# contrast with HLL: sum-merge is associative/commutative but NOT
# idempotent, so replay safety comes from the file sink's transaction
# log alone (the HLL stream is additionally immune at the algebra
# level).  State bound: at most 4*256 longs per (open window) horizon —
# fixed, independent of vocabulary or stream length; that fixed bound
# is exactly why a sketch (not an exact word count) is the streaming
# frequency summary at 100 TB.

CM_ROWS = 4
CM_COLS = 256


def cm_cells(w: Column) -> Column:
    """The CM_ROWS (row_id, col_id) cells of word `w`: sketch row r
    hashes 'cm{r}:' || w into CM_COLS columns (per-row salts over the
    cross-engine md5 hash)."""
    return F.array(*[
        F.struct(
            F.lit(r).cast("long").alias("row_id"),
            (md5_long(F.concat(F.lit(f"cm{r}:"), w)) % F.lit(CM_COLS))
            .alias("col_id"),
        )
        for r in range(CM_ROWS)
    ])


def cm_cell_columns(df: DataFrame) -> DataFrame:
    """(text, ts) -> one row per (word occurrence x sketch row) with its
    (row_id, col_id) cell coordinates.  Stateless; the batch sketch's
    own builders, so stream and batch cells compare value-exact."""
    return word_rows(df, "ts").select(
        "ts", F.explode(cm_cells(F.col("w"))).alias("c")
    ).select("ts", "c.row_id", "c.col_id")


@stream_op(DOCS_STREAM_SCHEMA)
def countmin_window_cells(docs: DataFrame) -> DataFrame:
    """Continuous per-(event-time window) Count-Min cell stream over
    arriving document files.  Emits each closed window's cell table
    exactly once (append mode); windows union by summing cnt."""
    return closed_windows(
        cm_cell_columns(docs),
        ["row_id", "col_id"],
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
