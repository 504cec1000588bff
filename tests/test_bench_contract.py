"""bench.py's pure parts: scaling widths from the CPU count, the one
stdout line the driver parses, and the paired-round summary.  No Spark."""

from __future__ import annotations

import json
import random

import pytest

import bench


@pytest.mark.parametrize(
    "cpus, widths",
    [(32, (2, 8)), (8, (2, 8)), (7, (1, 4)), (4, (1, 4)), (3, None)],
)
def test_scaling_widths(cpus, widths):
    assert bench.scaling_widths(cpus) == widths


def _stdout_twin(n_queries: int) -> dict:
    rng = random.Random(n_queries)
    queries = {
        f"q_{rng.choice(['word', 'embedding_ann', 'stream'])}_{i}"
        + ("@sf0.01" if i % 9 == 0 else ""): round(rng.uniform(0.05, 9), 3)
        for i in range(n_queries)
    }
    return {
        "metric": "turns/sec extraction throughput + headline query suite",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "query_reps": 3,
        "queries_tiered": {"sf": 0.01, "n": 12,
                           "names_full": "BENCH_local.json"},
        "aggregation": "median",
        "turns_per_sec": 41234.5,
        "exact_match_gate": "pytest tests/ (oracle parity suite)",
        "scaling": {"speedup": 3.21, "efficiency_raw": 0.803,
                    "efficiency_vs_hw_ceiling": 0.95,
                    "shuffle_efficiency": 0.71,
                    "detail": "BENCH_local.json"},
    }


@pytest.mark.parametrize("n_queries", [104, 150, 400])
def test_stdout_line_fits_and_keeps_slowest(n_queries):
    out = _stdout_twin(n_queries)
    assert len(json.dumps(out, separators=(",", ":"))) > 1950
    line = bench.stdout_line(out)
    assert len(line.encode()) <= 1950
    parsed = json.loads(line)
    assert list(parsed)[: len(out)] == list(out)
    kept = parsed["queries"]
    assert kept and set(kept) <= set(out["queries"])
    assert parsed["queries_elided"] == n_queries - len(kept)
    assert parsed["queries_full"] == "BENCH_local.json"
    elided = [round(v, 2) for k, v in out["queries"].items() if k not in kept]
    assert min(kept.values()) >= max(elided)


def test_stdout_line_untouched_when_it_fits():
    out = _stdout_twin(10)
    assert bench.stdout_line(out) == json.dumps(out, separators=(",", ":"))


def _run(tps: float) -> dict:
    return {"master": "local[n]", "turns": 1000, "sec": 1.0,
            "turns_per_sec": tps}


@pytest.mark.parametrize(
    "speedups, median_round",
    [([3.5, 2.0, 3.0], 2), ([1.0, 4.0, 2.0, 3.0], 3), ([3.3], 0)],
)
def test_summarize_rounds_median_pair_in_round_order(speedups, median_round):
    pairs = [(_run(100.0 + i), _run((100.0 + i) * s))
             for i, s in enumerate(speedups)]
    controls = [{"speedup": 3.3, "n_tps": 1.0, "4n_tps": 3.3}]
    s = bench.summarize_rounds(pairs, controls, [])
    assert s["n_cores"] is pairs[median_round][0]
    assert s["4n_cores"] is pairs[median_round][1]
    assert s["samples"]["round_speedups"] == [round(x, 3) for x in speedups]
    assert s["samples"]["n_cores"] == [a["turns_per_sec"] for a, _ in pairs]
    assert s["speedup"] == round(speedups[median_round], 3)
    assert s["efficiency_raw"] == round(speedups[median_round] / 4, 3)
    assert s["speedup_best_round"] == round(max(speedups), 3)
    assert s["window_control_band"] == [2.7, 3.9]
    assert s["all_controls_failed"] is False
    assert bench.summarize_rounds(pairs, [], controls)["all_controls_failed"]
