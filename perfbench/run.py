"""Benchmark of the transcript-extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload against the public entry points (`run_extract`,
`run_extract_stream`, `python -m ocr_spark.serve --http`), checks every
output against the single-process oracle, and prints as its last stdout
line one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`.  The line before it records the host, the
sample counts and any problems.  Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    BASELINE_CPUS,
    ROOT,
    NullTracer,
    Tracer,
    at_reference_speed,
    cpu_jiffies,
    host_record,
    log,
    median,
    n_cpus,
    new_run_id,
    wait_descendants_gone,
    work_dir,
)

WORKLOADS = {
    "batch_long": {"kind": "batch", "n_docs": 3750, "turns_per_doc": 60, "input_files": 8},
    "batch_short": {"kind": "batch", "n_docs": 5000, "turns_per_doc": 8, "input_files": 8},
    "stream_fixture": {"kind": "stream", "n_convs": 600},
    "serve_http": {"kind": "serve", "n_convs": 100},
}
# --tiny: the same workloads on small inputs, for the benchmark's self-tests
TINY = {
    "batch_long": {"n_docs": 60},
    "batch_short": {"n_docs": 200},
    "stream_fixture": {"n_convs": 30},
    "serve_http": {"n_convs": 10},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="small inputs (self-tests)")
    return p.parse_args(argv)


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def _check_program() -> None:
    """Fail fast, before any work, when the program is not importable."""
    import importlib

    for mod in ("ocr_spark.plans.extract_job", "ocr_spark.serve", "fixtures.gen"):
        importlib.import_module(mod)


def _run(args, cfg: dict, n: int, tracer) -> dict:
    setup_tracer = tracer or NullTracer("off")
    if cfg["kind"] == "serve":
        from perfbench.serve_bench import run_serve

        return run_serve(cfg, args.seed, args.seconds, tracer, setup_tracer)

    from perfbench import spark_bench

    spark, setup_s = spark_bench.setup(n, setup_tracer)
    try:
        run = spark_bench.run_batch if cfg["kind"] == "batch" else spark_bench.run_stream
        res = run(spark, cfg, args.seed, args.seconds, tracer, n)
    finally:
        spark_bench.stop(spark)
    res["setup_s"] = setup_s
    return res


def _metrics(specs: list[dict], values: dict, default=None) -> dict:
    """Metrics named in `specs` with their units.  A per-layer metric the
    workload does not produce belongs to a layer off its path and reads
    `default` (0); an end-to-end metric must always be measured."""
    out = {}
    for m in specs:
        value = values.get(m["name"], default)
        if value is None:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": value, "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = _args(argv)
    n = n_cpus()
    if n < BASELINE_CPUS:
        log(
            f"refusing to report: {n} usable CPUs, fewer than the {BASELINE_CPUS} "
            "the baseline was measured at"
        )
        return 3
    try:
        e2e_specs, layer_specs = _metric_specs()
        _check_program()
    except (OSError, ImportError, KeyError, ValueError) as exc:
        log(f"cannot run the benchmark here: {type(exc).__name__}: {exc}")
        return 2

    # keep temporary files of Python and of every JVM inside the checkout
    os.environ["TMPDIR"] = work_dir("tmp")
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work_dir('tmp')}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cfg = dict(WORKLOADS[args.workload])
    if args.tiny:
        cfg.update(TINY[args.workload])

    jiffies = cpu_jiffies()
    run_id = new_run_id()
    tracer = Tracer(run_id) if args.trace else None
    try:
        res = _run(args, cfg, n, tracer)
    finally:
        wait_descendants_gone()

    sampler = res["sampler"]
    raw = None
    if args.trace:
        metrics = _metrics(layer_specs, res["layers"], default=0)
    else:
        raw = dict(res["e2e"], setup_s=median(res["setup_s"]))
        control = res["control_s"]
        metrics = _metrics(
            e2e_specs, at_reference_speed(raw, median(control)) if control else raw
        )
    correct = sampler.failed == 0

    name = f"{args.workload}-seed{args.seed}-{run_id}"
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "tiny": args.tiny,
        "host": host_record(n, jiffies),
        "unit_of_work": res["unit"],
        "latency_samples": res["samples"],
        **res["notes"],
        "setup_attempts_s": res["setup_s"],
        "control_s": res["control_s"],
        "raw": raw,
        "problems": sampler.problems[:20],
    }
    if tracer is not None:
        info["trace_file"] = os.path.join(work_dir("traces"), name + ".json")
        tracer.write(info["trace_file"])
    result = {
        "correct": correct,
        "attempted": sampler.attempted,
        "failed": sampler.failed,
        "metrics": metrics,
    }
    with open(os.path.join(work_dir("results"), name + ".json"), "w") as fh:
        json.dump({"info": info, "result": result}, fh, indent=1)
    for p in info["problems"]:
        log(f"problem: {p}")
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
