"""jobs/stream.py dispatch, in process and without Spark: each --mode
launches its operator through `start_stream` with the data its file
flags carry, under per-mode output and checkpoint directories."""

import json

import pytest

import ocr_spark.streaming as streaming
from jobs import stream as stream_job
from ocr_spark.plans import session


@pytest.fixture()
def launched(monkeypatch):
    calls = []

    class Query:
        def awaitTermination(self):
            pass

    def start_stream(spark, op, *args, **kwargs):
        calls.append((spark, op, args, kwargs))
        return Query()

    monkeypatch.setattr(session, "build_session", lambda **kw: "session")
    monkeypatch.setattr(streaming, "start_stream", start_stream)
    return calls


def _run(tmp_path, mode, *extra):
    return stream_job.main([
        "--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"), "--mode", mode, "--drain",
        *extra,
    ])


def _dirs(tmp_path, mode):
    return (
        str(tmp_path / "in"),
        str(tmp_path / "out" / mode),
        str(tmp_path / "ckpt" / mode),
    )


@pytest.mark.parametrize("mode", ["extract", "dedup", "rate", "quality"])
def test_mode_launches_its_operator(tmp_path, launched, mode):
    assert _run(tmp_path, mode) == 0
    [(spark, op, args, kwargs)] = launched
    assert spark == "session"
    assert op is getattr(streaming, stream_job.MODES[mode])
    assert op.schema is not None
    assert args == _dirs(tmp_path, mode)
    assert kwargs == {"available_now": True, "max_files_per_trigger": None}


def test_decontam_mode_passes_bench_fingerprints(tmp_path, launched):
    texts = [
        "the quick brown fox jumps over the lazy dog while seven wizards"
        " quietly brew potions",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
        " mu nu xi",
    ]
    bench = tmp_path / "bench.txt"
    bench.write_text("\n".join(texts) + "\n\n")
    assert _run(tmp_path, "decontam", "--bench-file", str(bench)) == 0
    [(_, op, args, kwargs)] = launched
    assert op is streaming.decontam_flags
    assert args == _dirs(tmp_path, "decontam")
    want = streaming.bench_gram_fingerprints(texts)
    assert len(want) > 2
    assert kwargs == {
        "available_now": True, "max_files_per_trigger": None, "bench_grams": want,
    }


def test_resample_mode_passes_ratio_table(tmp_path, launched):
    ratios = [1000 + b for b in range(256)]
    table = tmp_path / "ratios.json"
    table.write_text(json.dumps(ratios))
    assert _run(
        tmp_path, "resample", "--ratio-file", str(table),
        "--max-files-per-trigger", "2",
    ) == 0
    [(_, op, args, kwargs)] = launched
    assert op is streaming.importance_scores
    assert args == _dirs(tmp_path, "resample")
    assert kwargs == {
        "available_now": True, "max_files_per_trigger": 2, "ratio_ppm": ratios,
    }


@pytest.mark.parametrize("mode", ["decontam", "resample"])
def test_mode_without_its_file_exits(tmp_path, launched, mode):
    with pytest.raises(SystemExit):
        _run(tmp_path, mode)
    assert not launched
