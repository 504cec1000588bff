"""jobs/extract.py argument checks, in process and without Spark: a
non-positive bucket or partition count stops the job at parse time."""

import pytest

from jobs import extract as extract_job
from ocr_spark.plans import extract_job as plan
from ocr_spark.plans import session
from ocr_spark.sources import transcripts


@pytest.fixture()
def launched(monkeypatch):
    calls = []
    monkeypatch.setattr(session, "build_session", lambda **kw: "session")
    monkeypatch.setattr(transcripts, "read_transcripts", lambda spark, path: "frame")
    monkeypatch.setattr(
        plan, "run_extract", lambda *a, **kw: calls.append(kw) or {}
    )
    return calls


def _main(tmp_path, *extra):
    return extract_job.main([
        "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
        "--lineage", str(tmp_path / "lin"), "--run-id", "r1", *extra,
    ])


@pytest.mark.parametrize("flag", ["--buckets", "--num-partitions"])
@pytest.mark.parametrize("value", ["0", "-3"])
def test_non_positive_count_exits_before_the_job(tmp_path, launched, flag, value):
    with pytest.raises(SystemExit) as exc:
        _main(tmp_path, flag, value)
    assert exc.value.code == 2
    assert launched == []


def test_counts_reach_run_extract(tmp_path, launched):
    assert _main(tmp_path, "--buckets", "8", "--num-partitions", "3") == 0
    [kw] = launched
    assert (kw["n_buckets"], kw["num_partitions"]) == (8, 3)
