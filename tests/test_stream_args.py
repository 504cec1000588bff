"""Every streaming entry point that takes `max_files_per_trigger`
validates it before any query starts: a non-positive value raises
ValueError up front instead of dying later in the stream thread, and no
checkpoint directory is created."""

import inspect

import pytest

import ocr_spark.streaming as streaming

RUNNERS = sorted(
    name
    for name, fn in vars(streaming).items()
    if name.startswith("run_")
    and "max_files_per_trigger" in inspect.signature(fn).parameters
)


def test_runner_set():
    assert RUNNERS == [
        "run_countmin_cell_stream",
        "run_decontam_stream",
        "run_dedup_stream",
        "run_enrich_stream",
        "run_extract_stream",
        "run_hll_register_stream",
        "run_importance_stream",
        "run_minhash_neardup_stream",
        "run_quality_gate_stream",
        "run_turn_rate_stream",
    ]


@pytest.mark.parametrize("name", RUNNERS)
def test_zero_files_per_trigger_raises_before_start(spark, tmp_path, name):
    fn = getattr(streaming, name)
    inp = tmp_path / "in"
    inp.mkdir()
    ckpt = tmp_path / "ckpt"
    args = {
        "spark": spark,
        "input_path": str(inp),
        "output_path": str(tmp_path / "out"),
        "checkpoint_path": str(ckpt),
        "dim_df": spark.createDataFrame([("c", 1)], "conv_id string, v int"),
        "bench_grams": [],
        "ratio_ppm": [1],
    }
    params = inspect.signature(fn).parameters
    kwargs = {k: v for k, v in args.items() if k in params}
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        fn(**kwargs, available_now=True, max_files_per_trigger=0)
    assert not ckpt.exists()
    assert not spark.streams.active
