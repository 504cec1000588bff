"""M2/M3 distributed-correctness tests (SURVEY.md §5.2.1/.3):

  - oracle parity: mapInPandas output byte-equals the single-process
    pandas oracle per (conv_id, turn_idx) — THE north_rule invariant;
  - parity is partitioning-invariant (forced salting, few/many
    partitions);
  - resume: second run with lineage present skips completed buckets;
  - idempotence: re-running a bucket leaves output unchanged;
  - lineage: the counts taken inside the extraction pass equal a scan of
    the written output, cover only the run's own buckets, and cost no
    extra Spark job.
"""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from fixtures.gen import gen_transcripts
from ocr_spark.extract import extract_frame
from ocr_spark.plans.extract_job import (
    plan_extract,
    run_extract,
    stable_order,
    with_bucket,
    with_slice_salt,
)
from ocr_spark.plans.lineage import (
    COUNTERS,
    completed_buckets,
    lineage_from_counts,
    lineage_from_output,
    read_lineage,
)
from ocr_spark.sinks.writers import read_output
from ocr_spark.sources.transcripts import transcripts_from_pandas


def _oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    out = extract_frame(pdf)
    return out.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _spark_result(sdf) -> pd.DataFrame:
    pdf = sdf.drop("bucket").toPandas()
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def _lineage(spark, lin_p, run_id) -> pd.DataFrame:
    # finished_ts is dropped: test_resume_partial plants a pandas-written
    # lineage file whose nanosecond timestamps Spark cannot read
    lin = read_lineage(spark, lin_p).filter(F.col("run_id") == run_id)
    pdf = lin.drop("finished_ts").toPandas()
    return pdf.sort_values("bucket").reset_index(drop=True)


def _bucket_sizes(spark, sdf, n_buckets) -> dict[int, int]:
    rows = with_bucket(sdf, n_buckets).groupBy("bucket").count().collect()
    return {r["bucket"]: r["count"] for r in rows}


def _assert_parity(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame):
    assert len(spark_pdf) == len(oracle_pdf)
    assert list(spark_pdf["conv_id"]) == list(oracle_pdf["conv_id"])
    assert list(spark_pdf["turn_idx"]) == list(oracle_pdf["turn_idx"])
    # the invariant: byte-exact text per turn
    assert list(spark_pdf["extracted_text"]) == list(oracle_pdf["extracted_text"])
    assert list(spark_pdf["status"]) == list(oracle_pdf["status"])
    # span arrays equal (mapInPandas returns struct Rows -> normalize)
    for a, b in zip(spark_pdf["spans"], oracle_pdf["spans"]):
        na = [tuple(x) if not isinstance(x, dict) else (x["start"], x["end"], x["score"], x["position"]) for x in a]
        nb = [(x["start"], x["end"], x["score"], x["position"]) for x in b]
        assert na == nb


@pytest.fixture(scope="module")
def fixture_pdf():
    return gen_transcripts(n_convs=60, seed=11)


def test_oracle_parity(spark, fixture_pdf):
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    result = _spark_result(plan_extract(sdf, n_buckets=16))
    _assert_parity(result, _oracle(fixture_pdf))


def test_parity_partitioning_invariant(spark, fixture_pdf):
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    few = _spark_result(plan_extract(sdf, n_buckets=2, num_partitions=1))
    many = _spark_result(plan_extract(sdf, n_buckets=64, num_partitions=32))
    _assert_parity(few, _oracle(fixture_pdf))
    _assert_parity(many, _oracle(fixture_pdf))


def test_parity_with_forced_salting(spark):
    """Slice salting fans a hot conversation out across salts with zero
    pre-scan, and parity holds with the fan-out forced on."""
    pdf = gen_transcripts(n_convs=6, seed=3, hot_conv_turns=2000)
    sdf = with_bucket(transcripts_from_pandas(spark, pdf), 8)
    salted = with_slice_salt(sdf, slice_turns=256)
    n_salts = salted.select("salt").distinct().count()
    assert n_salts > 1, "hot conversation must actually fan out"
    # short conversations keep salt 0 (stay whole in their bucket)
    short = salted.filter(F.col("turn_idx") < 256).select("salt").distinct()
    assert [r["salt"] for r in short.collect()] == [0]
    result = _spark_result(
        plan_extract(
            transcripts_from_pandas(spark, pdf), n_buckets=8, slice_turns=256
        )
    )
    _assert_parity(result, _oracle(pdf))


def test_plan_extract_no_prescan(spark, fixture_pdf, tmp_path):
    """The flagship plan scans its input ONCE and planning triggers no
    jobs (the round-1 hot-bucket pre-pass cost a full extra scan)."""
    p = str(tmp_path / "transcripts")
    transcripts_from_pandas(spark, fixture_pdf).write.parquet(p)
    inp = spark.read.parquet(p)

    sc = spark.sparkContext
    sc.setJobGroup("plan-probe", "planning must not run jobs")
    try:
        out = plan_extract(inp, n_buckets=8)
        # building the plan (incl. analysis) must not submit any job
        assert sc.statusTracker().getJobIdsForGroup("plan-probe") == []
    finally:
        sc.setJobGroup(None, None)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_stable_order_window(spark, fixture_pdf):
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    out = stable_order(plan_extract(sdf, n_buckets=8))
    pdf = out.toPandas().sort_values(["conv_id", "turn_idx"])
    for _, g in pdf.groupby("conv_id"):
        assert list(g["turn_rank"]) == list(range(1, len(g) + 1))


def test_run_extract_and_resume(spark, fixture_pdf, tmp_path):
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lineage")

    stats1 = run_extract(spark, sdf, out_p, lin_p, run_id="r1", n_buckets=8)
    assert stats1["buckets_skipped"] == 0
    first = spark.read.parquet(out_p)
    assert first.count() == len(fixture_pdf)

    lin = spark.read.parquet(lin_p)
    assert lin.filter(F.col("run_id") == "r1").count() > 0
    total = lin.agg(F.sum("rows_out")).collect()[0][0]
    assert total == len(fixture_pdf)

    # resume: every bucket done -> all skipped, output unchanged
    stats2 = run_extract(
        spark, sdf, out_p, lin_p, run_id="r1", n_buckets=8, resume=True
    )
    assert stats2["buckets_skipped"] == lin.select("bucket").distinct().count()
    second = spark.read.parquet(out_p)
    _assert_parity(
        _spark_result(second.select(first.columns)),
        _oracle(fixture_pdf),
    )


def test_resume_partial(spark, fixture_pdf, tmp_path):
    """Kill half the buckets from lineage -> only those rerun."""
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_extract(spark, sdf, out_p, lin_p, run_id="r2", n_buckets=8)

    lin = spark.read.parquet(lin_p).filter(F.col("run_id") == "r2")
    buckets = sorted(r["bucket"] for r in lin.select("bucket").distinct().collect())
    half = buckets[: len(buckets) // 2]
    # rewrite lineage keeping only half the completed buckets
    kept_pdf = lin.filter(F.col("bucket").isin(half)).toPandas()
    import os

    lin2 = str(tmp_path / "lineage2")
    os.makedirs(lin2, exist_ok=True)
    kept_pdf.to_parquet(os.path.join(lin2, "part-0.parquet"))

    stats = run_extract(
        spark, sdf, out_p, lin2, run_id="r2", n_buckets=8, resume=True
    )
    assert stats["buckets_skipped"] == len(half)
    # full output still complete + correct after the partial rerun
    final = spark.read.parquet(out_p)
    assert final.count() == len(fixture_pdf)
    # the rerun's new lineage rows name exactly the rerun buckets, and
    # count all of those buckets' input rows
    rerun = sorted(set(buckets) - set(half))
    new = _lineage(spark, lin2, "r2")
    new = new[~new["bucket"].isin(half)]
    assert list(new["bucket"]) == rerun
    sizes = _bucket_sizes(spark, sdf, 8)
    assert new["rows_out"].sum() == sum(sizes[b] for b in rerun)
    assert list(new["rows_in"]) == list(new["rows_out"])


def test_lineage_counts_match_output_scan(spark, fixture_pdf, tmp_path):
    """Differential: the lineage counted inside the extraction pass equals
    lineage_from_output over the written output, bucket for bucket, with
    planted error (None) and empty (whitespace-only) payloads."""
    pdf = fixture_pdf.copy()
    pdf.loc[pdf.index[::97], "text"] = None
    pdf.loc[pdf.index[5::89], "text"] = " \n\t  \n"
    sdf = transcripts_from_pandas(spark, pdf)
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_extract(spark, sdf, out_p, lin_p, run_id="d", n_buckets=16)

    got = _lineage(spark, lin_p, "d")
    want = lineage_from_output(read_output(spark, out_p), "d").toPandas()
    want = want.sort_values("bucket").reset_index(drop=True)
    cols = ["run_id", "bucket", *COUNTERS, "status"]
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)
    assert got["n_error"].sum() > 0 and got["n_empty"].sum() > 0
    assert got["rows_in"].sum() == len(pdf)


def test_lineage_counts_only_this_run(spark, fixture_pdf, tmp_path):
    """A second run_id written into an existing output path gets lineage
    for its own rows and buckets only, not the earlier run's."""
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lineage")
    run_extract(
        spark, transcripts_from_pandas(spark, fixture_pdf), out_p, lin_p,
        run_id="r1", n_buckets=16,
    )
    convs = sorted(fixture_pdf["conv_id"].unique())[:5]
    subset = fixture_pdf[fixture_pdf["conv_id"].isin(convs)]
    sub_sdf = transcripts_from_pandas(spark, subset)
    run_extract(spark, sub_sdf, out_p, lin_p, run_id="r2", n_buckets=16)

    lin = _lineage(spark, lin_p, "r2")
    assert lin["rows_out"].sum() == len(subset)
    assert set(lin["bucket"]) == set(_bucket_sizes(spark, sub_sdf, 16))


def test_lineage_rows_in_mismatch_raises(spark):
    """rows_in and rows_out are counted on different sides of the UDF; a
    bucket where they differ fails the run instead of writing lineage."""
    counts = np.zeros((4, len(COUNTERS)), np.int64)
    counts[1, :2] = [5, 5]
    assert lineage_from_counts(spark, counts, "ok").count() == 1
    counts[2, :2] = [3, 2]
    with pytest.raises(RuntimeError, match=r"buckets \[2\]"):
        lineage_from_counts(spark, counts, "bad")


def test_read_lineage_routes_iceberg_tables(spark, tmp_path):
    """An `iceberg:` lineage destination is read as a table, as
    `write_lineage` appends to it (a temp view stands in for the table),
    so resume finds its completed buckets; a destination nothing was
    written to yet reads as no lineage."""
    counts = np.zeros((4, len(COUNTERS)), np.int64)
    counts[3, :2] = [7, 7]
    lineage_from_counts(spark, counts, "r").createOrReplaceTempView("lin_view")
    try:
        lin = read_lineage(spark, "iceberg:lin_view")
        assert [r.bucket for r in lin.collect()] == [3]
        done = completed_buckets(spark, "iceberg:lin_view", "r")
        assert [r.bucket for r in done.collect()] == [3]
    finally:
        spark.catalog.dropTempView("lin_view")
    assert read_lineage(spark, "iceberg:lin_view") is None
    assert read_lineage(spark, str(tmp_path / "absent")) is None


def test_run_extract_job_count(spark, fixture_pdf, tmp_path):
    """run_extract runs the shuffle, the UDF + write stage and the lineage
    append: 3 Spark jobs, with no read-back of the written output."""
    sdf = transcripts_from_pandas(spark, fixture_pdf)
    out_p, lin_p = str(tmp_path / "out"), str(tmp_path / "lineage")
    sc = spark.sparkContext
    sc.setJobGroup("run-extract-jobs", "count run_extract jobs")
    try:
        run_extract(spark, sdf, out_p, lin_p, run_id="j")
        jobs = sc.statusTracker().getJobIdsForGroup("run-extract-jobs")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 3, jobs
    assert _lineage(spark, lin_p, "j")["rows_in"].sum() == len(fixture_pdf)


def test_no_per_row_python_udf():
    """input_hint mandate: no row-at-a-time @udf in the engine source."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "ocr_spark"
    for f in root.rglob("*.py"):
        src = f.read_text()
        assert "@F.udf" not in src and "@udf" not in src, f


def test_oversize_payload_distributed(spark):
    """F2 guard at the distributed surface: a 2MB payload and a
    >MAX_TURN_CHARS payload pass through without job failure, and results
    match the oracle byte-for-byte."""
    big = "lorem ipsum words " * 120000            # ~2.1 MB
    huge = "z" * (17 * 1024 * 1024)                # > 16 MiB cap -> truncated
    pdf = pd.DataFrame(
        {
            "conv_id": ["big", "huge", "tiny"],
            "turn_idx": [0, 0, 0],
            "role": ["user"] * 3,
            "text": [big, huge, "short but real content words here"],
            "tool": [""] * 3,
            "ts": [pd.Timestamp("2024-01-01")] * 3,
        }
    )
    result = _spark_result(plan_extract(transcripts_from_pandas(spark, pdf), n_buckets=4))
    _assert_parity(result, _oracle(pdf))
