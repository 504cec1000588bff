"""The distributed extraction plan (SURVEY.md §3.4):

  read -> bucket = pmod(xxhash64(conv_id), B) -> resume anti-join ->
  slice salting -> repartition(bucket, salt)  [the ONE wide op] ->
  sortWithinPartitions(conv_id, turn_idx) -> mapInPandas(extract_turns)
  -> write parquet partitioned by bucket (dynamic overwrite = idempotent
  per-bucket re-runs) + lineage rows counted inside that same pass.

Scale design (10^12-turn framing, BASELINE.json north_rule):
  - bucketing by hashed conv_id keeps conversations together for
    ordering while bounding lineage/resume granularity to B units;
  - skew is handled by STATIC slice salting (salt = turn_idx div
    SALT_SLICE_TURNS): conversations shorter than the slice stay whole,
    mega-conversations split into bounded slices.  No pre-scan of the
    input — the job reads it exactly once.  Safe because the hot path is
    a pure per-turn map (no per-conversation aggregation), SURVEY.md
    §4.3;
  - everything before/after the single repartition is narrow; AQE
    handles post-shuffle coalescing;
  - lineage is counted by the UDF into an accumulator while it extracts,
    so the written output is never read back.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ocr_spark.constants import DEFAULT_N_BUCKETS, SALT_SLICE_TURNS
from ocr_spark.operators.extract_op import extract_turns
from ocr_spark.plans.lineage import (
    completed_buckets,
    lineage_counts,
    lineage_from_counts,
)


def _udf_stage_partitions(df: DataFrame) -> int:
    """Partition count for the CPU-bound mapInPandas stage: 2 tasks per
    core so stragglers overlap.  Passed EXPLICITLY to repartition because
    AQE's post-shuffle coalescing sizes partitions by shuffle bytes and
    would collapse a small-but-CPU-heavy input to a handful of tasks
    (observed: 4 tasks on 32 cores), starving the extraction stage.
    """
    return df.sparkSession.sparkContext.defaultParallelism * 2


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
    )


def with_slice_salt(
    df: DataFrame, slice_turns: int = SALT_SLICE_TURNS
) -> DataFrame:
    """Static skew split with ZERO pre-scan: salt = turn_idx div
    slice_turns.

    Conversations with < slice_turns turns (the overwhelming majority at
    any scale) get the constant salt 0 and stay whole within their
    bucket; a mega-conversation is split into slices of at most
    slice_turns turns, each hashing to its own partition under the
    (bucket, salt) repartition.  Deterministic and input-size-oblivious,
    so the flagship job scans its input exactly once — no
    groupBy().count() pre-pass (the round-1 approach doubled input I/O
    at scale).
    """
    return df.withColumn(
        "salt", F.expr(f"cast(turn_idx div {int(slice_turns)} as int)")
    )


def stable_order(df: DataFrame) -> DataFrame:
    """O6/north_rule: restore stable (conv_id, turn_idx) ordering via a
    window row_number — the reading-order restoration (G11 analogue).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def _salted_shuffle(
    df: DataFrame,
    salt_hot: bool,
    slice_turns: int,
    num_partitions: int | None,
) -> DataFrame:
    """The ONE wide op, shared by plan_extract and run_extract so the
    batch and resume paths cannot drift: slice salt -> repartition on
    (bucket, salt) -> per-partition sort.

    Sort BEFORE the UDF: mapInPandas preserves per-partition row order,
    so sorting the (slim) input rows gives ordered output for free —
    sorting the output would re-sort fat extracted_text+spans rows.
    """
    s = (
        with_slice_salt(df, slice_turns)
        if salt_hot
        else df.withColumn("salt", F.lit(0))
    )
    return s.repartition(
        num_partitions or _udf_stage_partitions(df),
        F.col("bucket"),
        F.col("salt"),
    ).sortWithinPartitions("conv_id", "turn_idx")


def plan_extract(
    df: DataFrame,
    n_buckets: int = DEFAULT_N_BUCKETS,
    num_partitions: int | None = None,
    slice_turns: int = SALT_SLICE_TURNS,
) -> DataFrame:
    """Build the extraction DataFrame (no I/O, no planning-time jobs):
    bucket -> slice salt -> repartition -> per-partition sort ->
    mapInPandas (`_salted_shuffle` sorts the input; the UDF keeps its
    order).  The input is scanned exactly once when the plan executes."""
    b = with_bucket(df, n_buckets)
    out = extract_turns(_salted_shuffle(b, True, slice_turns, num_partitions))
    return with_bucket(out, n_buckets)


def run_extract(
    spark: SparkSession,
    df: DataFrame,
    output_path: str,
    lineage_path: str,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
    resume: bool = False,
    num_partitions: int | None = None,
) -> dict:
    """Execute the full job with resume + lineage.  Returns counters,
    among them the salt slice length (SALT_SLICE_TURNS).

    Two Spark jobs run the extraction and its write (the shuffle, then
    the UDF + write stage), one more appends the lineage rows.
    """
    df = with_bucket(df, n_buckets)
    skipped = 0
    if resume:
        done = completed_buckets(spark, lineage_path, run_id)
        if done is not None:
            skipped = done.count()
            # resume anti-join (K3): pending = input \ completed buckets
            df = df.join(F.broadcast(done), "bucket", "left_anti")

    # The UDF counts lineage as it extracts.  It runs in the write job's
    # result stage (below the one Exchange), where Spark applies each
    # partition's accumulator update exactly once (PLANS.md invariant 6).
    counts = lineage_counts(spark.sparkContext, n_buckets)
    shuffled = _salted_shuffle(df, True, SALT_SLICE_TURNS, num_partitions)
    out = extract_turns(shuffled, counts)

    # Idempotent per-bucket writes: dynamic partition overwrite replaces
    # exactly the buckets this run produced (SURVEY §4.3 resume row).
    # Destination routing (iceberg: prefix vs parquet path) lives in
    # sinks/writers.py; both honor the same overwrite contract.
    from ocr_spark.sinks.writers import write_extracted, write_lineage

    write_extracted(out, output_path)

    # Lineage for exactly this run's buckets, from the counts above: the
    # output path is not read back, so earlier runs' buckets there are
    # never counted.  Raises before appending if rows_in != rows_out.
    write_lineage(lineage_from_counts(spark, counts.value, run_id), lineage_path)

    return {"buckets_skipped": skipped, "slice_turns": SALT_SLICE_TURNS}
