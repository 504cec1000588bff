"""Every bounded stream runs through `start_stream`, which validates
`max_files_per_trigger` before any query starts: a non-positive value
raises ValueError up front instead of dying later in the stream thread,
and no checkpoint directory is created.  The three event-time-state
operators take no bound at all: `start_stream` refuses one for them the
same way."""

import inspect

import pytest

import ocr_spark.streaming as streaming

# The ten bounded operators, keyed by the name of the entry point each
# one had before `start_stream` ran them all (the test ids keep it).
BOUNDED = {
    "run_countmin_cell_stream": streaming.countmin_window_cells,
    "run_decontam_stream": streaming.decontam_flags,
    "run_dedup_stream": streaming.dedup_turns,
    "run_enrich_stream": streaming.enrich,
    "run_extract_stream": streaming.extract_turns,
    "run_hll_register_stream": streaming.hll_window_registers,
    "run_importance_stream": streaming.importance_scores,
    "run_minhash_neardup_stream": streaming.minhash_neardup_pairs,
    "run_quality_gate_stream": streaming.quality_gate,
    "run_turn_rate_stream": streaming.turn_rates,
}
# The three unbounded operators, keyed the same way.
STATEFUL = {
    "run_conversation_assembly_stream": streaming.conversation_summaries,
    "run_funnel_stream": streaming.user_funnels,
    "run_sessionize_stream": streaming.sessions,
}


def test_runner_set():
    assert sorted(n for n in vars(streaming) if n.startswith("run_")) == [
        "run_extract_stream",
    ]


@pytest.mark.parametrize("name", sorted(BOUNDED))
def test_zero_files_per_trigger_raises_before_start(spark, tmp_path, name):
    op = BOUNDED[name]
    inp = tmp_path / "in"
    inp.mkdir()
    ckpt = tmp_path / "ckpt"
    data = {
        "dim_df": spark.createDataFrame([("c", 1)], "conv_id string, v int"),
        "bench_grams": [],
        "ratio_ppm": [1],
    }
    params = inspect.signature(op).parameters
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        streaming.start_stream(
            spark, op, str(inp), str(tmp_path / "out"), str(ckpt),
            available_now=True, max_files_per_trigger=0,
            **{k: v for k, v in data.items() if k in params},
        )
    assert not ckpt.exists()
    assert not spark.streams.active


@pytest.mark.parametrize("name", sorted(STATEFUL))
def test_stateful_streams_take_no_bound(spark, tmp_path, name):
    inp = tmp_path / "in"
    inp.mkdir()
    ckpt = tmp_path / "ckpt"
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        streaming.start_stream(
            spark, STATEFUL[name], str(inp), str(tmp_path / "out"), str(ckpt),
            available_now=True, max_files_per_trigger=5,
        )
    assert not ckpt.exists()
    assert not spark.streams.active
