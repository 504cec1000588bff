"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke test runs every workload on tiny inputs (a few minutes);
`-k "not smoke"` skips it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import CONTROL_REF_S, at_reference_speed  # noqa: E402
from perfbench.oracle import (  # noqa: E402
    check_lineage,
    compare,
    digest_output_dir,
    oracle_digest,
)

WORKLOADS = ["batch_long", "batch_short", "stream_fixture", "serve_http"]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(args: list[str], cwd: str = ROOT, **kw) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, **kw,
    )


# ------------------------------------------------------------ oracle gate


OUT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("extracted_text", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [("start", pa.int32()), ("end", pa.int32()),
                     ("score", pa.float32()), ("position", pa.int32())]
                )
            ),
        ),
        ("n_blocks_in", pa.int32()),
        ("n_blocks_kept", pa.int32()),
        ("status", pa.string()),
    ]
)


@pytest.fixture(scope="module")
def corpus():
    from fixtures.gen import gen_transcripts
    from ocr_spark.extract.extractor import extract_frame

    pdf = gen_transcripts(n_convs=12, seed=5)
    return pdf, extract_frame(pdf)


def _bucket_bounds(n_rows: int, n_buckets: int = 3) -> list[int]:
    return [b * n_rows // n_buckets for b in range(n_buckets + 1)]


def _write_output(path: str, out) -> None:
    """Write `out` the way the batch job lays it out: bucket=<k>/ files."""
    table = pa.Table.from_pandas(out, schema=OUT_SCHEMA, preserve_index=False)
    bounds = _bucket_bounds(len(out))
    for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        part = os.path.join(path, f"bucket={b}")
        os.makedirs(part)
        pq.write_table(table.slice(lo, hi - lo), os.path.join(part, "part-0.parquet"))


def test_gate_accepts_the_oracle_output(tmp_path, corpus):
    pdf, out = corpus
    _write_output(str(tmp_path / "out"), out.sample(frac=1, random_state=3))
    assert compare(digest_output_dir(str(tmp_path / "out")), oracle_digest(pdf)) == []


@pytest.mark.parametrize("plant", ["text", "status", "span", "drop", "duplicate", "turn_idx"])
def test_gate_catches_a_planted_wrong_row(tmp_path, corpus, plant):
    pdf, out = corpus
    bad = out.copy()
    i = int(bad.index[bad["status"] == "ok"][0])
    if plant == "text":
        bad.at[i, "extracted_text"] = bad.at[i, "extracted_text"] + "x"
    elif plant == "status":
        bad.at[i, "status"] = "empty"
    elif plant == "span":
        spans = [dict(s) for s in bad.at[i, "spans"]]
        spans[0]["end"] += 1
        bad.at[i, "spans"] = spans
    elif plant == "drop":
        bad = bad.drop(index=i)
    elif plant == "duplicate":
        bad = pd.concat([bad, bad.loc[[i]]])
    else:
        bad.at[i, "turn_idx"] = bad.at[i, "turn_idx"] + 1000
    _write_output(str(tmp_path / "out"), bad.reset_index(drop=True))
    assert compare(digest_output_dir(str(tmp_path / "out")), oracle_digest(pdf))


def test_lineage_check(tmp_path, corpus):
    pdf, out = corpus
    _write_output(str(tmp_path / "out"), out)
    n = len(out)
    bounds = _bucket_bounds(n)
    rows = [hi - lo for lo, hi in zip(bounds, bounds[1:])]
    lin = str(tmp_path / "lin")
    os.makedirs(lin)
    good = {"run_id": ["r"] * 3, "bucket": [0, 1, 2], "rows_out": rows}
    pq.write_table(pa.table(good), os.path.join(lin, "a.parquet"))
    assert check_lineage(lin, "r", str(tmp_path / "out"), n) == []
    # a second row for bucket 2, from the same run
    pq.write_table(pa.table({"run_id": ["r"], "bucket": [2], "rows_out": [0]}),
                   os.path.join(lin, "b.parquet"))
    assert check_lineage(lin, "r", str(tmp_path / "out"), n)


def test_time_metrics_are_scaled_by_the_host_control():
    raw = {"turns_per_s": 100.0, "latency_p50_ms": 10.0,
           "worker_peak_rss_mb": 50.0, "setup_s": 2.0}
    # a host twice as slow as the reference: times halve, rates double
    assert at_reference_speed(raw, 2 * CONTROL_REF_S) == {
        "turns_per_s": 200.0, "latency_p50_ms": 5.0,
        "worker_peak_rss_mb": 50.0, "setup_s": 1.0,
    }


# ------------------------------------------------------------ the command


def test_refuses_a_host_narrower_than_the_baseline():
    res = _run(
        ["--workload", "serve_http", "--seed", "1", "--seconds", "1", "--tiny"],
        preexec_fn=lambda: os.sched_setaffinity(0, {0}),
    )
    assert res.returncode != 0
    assert res.stdout.strip() == ""


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(["--workload", "batch_short", "--seed", "1", "--seconds", "1"],
               cwd=str(tmp_path), env={"PATH": os.environ["PATH"]})
    assert res.returncode != 0
    assert res.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    res = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--tiny"])
    assert res.returncode == 0, res.stderr[-3000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = _spec()["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
