"""Spark workloads: closed-loop `run_extract` over a table of derived turns
(batch_long, batch_short) and `availableNow` drains of
`run_extract_stream` over a directory of fixture files (stream_fixture).

An untraced run measures the end-to-end metrics with tracing off.  A
traced run records spans around the calls into each module for one unit
of work, then adds the per-layer measurements: for the batch plan a
subtractive ablation (L0 scan, L1 exchange, L2 Arrow identity, L3 kernel,
L3w write, then the lineage calls) and a streaming drain of the same
input, the single-process kernel timing, and the micro-batch breakdown
of `recentProgress`.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow.dataset as ds

from perfbench import inputs, kernel
from perfbench.common import (
    NullTracer,
    host_control_s,
    log,
    median,
    python_worker_peak_rss_mb,
    work_dir,
)
from perfbench.oracle import check_lineage, compare, digest_output_dir

SETUPS = 3
STREAM_FILES = 32
STREAM_FILES_PER_TRIGGER = 4
DRAIN_TIMEOUT_S = 150
OFF = NullTracer("off")


# ------------------------------------------------------------------ setup


def _session(n: int):
    from ocr_spark.plans.session import build_session

    return build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        extra_conf={
            "spark.local.dir": work_dir("spark-local"),
            "spark.sql.warehouse.dir": work_dir("spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _warm_workers(spark, n: int) -> None:
    """Start one Python worker per core and load the kernel in each."""
    import pandas as pd

    from ocr_spark.operators.extract_op import extract_turns

    pdf = pd.DataFrame(
        {"conv_id": [f"w{i}" for i in range(n)], "turn_idx": [0] * n,
         "text": ["<p>warm up the python workers</p>"] * n}
    )
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int, text string")
    extract_turns(df.repartition(n)).write.format("noop").mode("overwrite").save()


def setup(n: int, tracer) -> tuple[object, list[float]]:
    """Start the session and warm the workers SETUPS times (the first in a
    fresh JVM, the rest as context restarts inside it) and keep the last
    session.  Returns (spark, seconds per attempt)."""
    times = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        with tracer.span("setup", attempt=i) as sp:
            spark = _session(n)
            _warm_workers(spark, n)
        times.append(sp["end"] - sp["start"])
    log(f"setup (s): {[round(t, 2) for t in times]}")
    return spark, times


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------- helpers


def _fresh(name: str) -> str:
    path = os.path.join(work_dir("runs"), name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def _input_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


class Sampler:
    """Closed loop: run `unit` until the measured time reaches `seconds`
    (at least one unit), verifying each result outside the timing."""

    def __init__(self, unit, verify):
        self.unit, self.verify = unit, verify
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.unit_spans = 0

    def run(self, seconds: float, tracer=OFF) -> list[float]:
        """Returns the seconds each unit of this call took."""
        times: list[float] = []
        while not times or sum(times) < seconds:
            self.attempted += 1
            i = self.attempted
            n_spans = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                result = self.unit(i, tracer)
            except Exception as exc:  # a failed job counts; the loop goes on
                self.fail(f"unit {i}: {type(exc).__name__}: {exc}")
                if self.failed >= 3:
                    raise RuntimeError("three units of work failed") from exc
                continue
            times.append(time.perf_counter() - t0)
            self.unit_spans = len(tracer.spans) - n_spans
            for problem in self.verify(i, result, tracer):
                self.fail(f"unit {i}: {problem}")
        return times

    def fail(self, problem: str) -> None:
        self.failed += 1
        self.problems.append(problem)


def _measure(s: Sampler, seconds: float, tr, n: int):
    """The closed loop, between two readings of the host control.
    Returns (unit times, peak Python-worker RSS, control readings)."""
    control = [host_control_s(n)]
    times = s.run(seconds, tr)
    rss = python_worker_peak_rss_mb(os.getpid())
    control.append(host_control_s(n))
    return times, rss, control


def _drain(spark, src: str, out: str, ckpt: str, tr) -> list[dict]:
    """One availableNow drain of `src`; returns the progress of the
    micro-batches that read rows."""
    from ocr_spark.streaming.extract_stream import run_extract_stream

    with tr.span("streaming.drain"):
        q = run_extract_stream(
            spark, src, out, ckpt, available_now=True,
            max_files_per_trigger=STREAM_FILES_PER_TRIGGER,
        )
        q.awaitTermination(DRAIN_TIMEOUT_S)
    if q.isActive:
        q.stop()
        raise TimeoutError(f"drain still running after {DRAIN_TIMEOUT_S} s")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in q.recentProgress if p["numInputRows"] > 0]


def _streaming_metrics(progress: list[dict], drains: int) -> dict:
    dur = [p["durationMs"] for p in progress]
    return {
        "streaming.batches": len(progress) / drains,
        "streaming.add_batch_ms": median([d.get("addBatch", 0) for d in dur]),
        "streaming.commit_ms": median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]
        ),
        "streaming.planning_ms": median([d.get("queryPlanning", 0) for d in dur]),
    }


def _common_layers(path: str, meta: dict) -> dict:
    # the input rows are permuted, so its first file is a sample of them
    k = kernel.profile(inputs.read_turns(_input_files(path)[0]))
    status = {f"extract.status_{s}": v for s, v in meta["oracle"]["status"].items()}
    return {**kernel.as_metrics(k), **status}


# ------------------------------------------------------------------ batch


def batch_input(spark, cfg: dict, seed: int):
    key = f"docs{cfg['n_docs']}x{cfg['turns_per_doc']}-seed{seed}"
    return inputs.spark_input(
        spark, key,
        lambda: inputs.derived_turns(cfg["n_docs"], cfg["turns_per_doc"], seed),
        n_files=cfg["input_files"],
    )


def run_batch(spark, cfg: dict, seed: int, seconds: float, tracer, n: int) -> dict:
    """`tracer` is None for an untraced run."""
    from ocr_spark.plans.extract_job import run_extract
    from ocr_spark.sources.transcripts import read_transcripts

    tr = tracer or OFF
    with tr.span("input") as sp:
        path, meta = batch_input(spark, cfg, seed)
    log(f"input: {sp['end'] - sp['start']:.1f} s")
    n_turns = meta["n_turns"]

    def unit(i: int, tr, src: str = path):
        out, lin, run_id = _fresh(f"out{i}"), _fresh(f"lin{i}"), f"s{i}"
        with tr.span("sources.read_transcripts"):
            df = read_transcripts(spark, src)
        with tr.span("plans.run_extract", unit=i):
            run_extract(spark, df, out, lin, run_id)
        return out, lin, run_id

    def verify(i: int, result, tr) -> list[str]:
        out, lin, run_id = result
        with tr.span("oracle", unit=i):
            bad = compare(digest_output_dir(out), meta["oracle"])
            bad += check_lineage(lin, run_id, out, n_turns)
        _rm(out, lin)
        return bad

    # warm-up: the same job over one input file, not timed or verified
    with tr.span("warmup") as sp:
        _rm(*unit(0, OFF, src=_input_files(path)[0])[:2])
    log(f"warm-up: {sp['end'] - sp['start']:.1f} s")
    s = Sampler(unit, verify)
    times, rss, control = _measure(s, 0 if tracer else seconds, tr, n)
    log(f"measured jobs (s): {[round(t, 2) for t in times]}")
    res = {
        "sampler": s,
        "unit": "run_extract job",
        "samples": len(times),
        "notes": {"turns": n_turns, "job_s": times},
        "control_s": control,
        "e2e": {
            "turns_per_s": n_turns / median(times),
            "latency_p50_ms": median(times) * 1000,
            "worker_peak_rss_mb": rss,
        },
    }
    if tracer is not None:
        layers = _batch_layers(spark, path, tracer)
        layers["trace.overhead_s"] = s.unit_spans * tracer.span_cost_s()

        out, ckpt = _fresh("stream_out"), _fresh("stream_ckpt")
        progress = _drain(spark, path, out, ckpt, tracer)
        s.attempted += 1
        for problem in compare(digest_output_dir(out), meta["oracle"]):
            s.fail(f"streaming drain: {problem}")
        _rm(out, ckpt)
        layers.update(_streaming_metrics(progress, 1))
        with tracer.span("extract.single_process"):
            layers.update(_common_layers(path, meta))
        layers["plans.parallel_eff"] = (n_turns / layers["extract.kernel_s"]) / (
            n * layers["extract.turns_per_s_core"]
        )
        res["layers"] = layers
    return res


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn) -> float:
    with tracer.span(name) as sp:
        fn()
    return sp["end"] - sp["start"]


def _parquet_files(path: str) -> tuple[int, int]:
    files = total = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                total += os.path.getsize(os.path.join(dirpath, name))
    return files, total


def _batch_layers(spark, path: str, tracer) -> dict:
    """Subtractive ablation of the plan `run_extract` runs: each layer's
    time is the difference to the layer below it, except lineage, whose
    calls are timed directly on the L3w output."""
    import pyspark.sql.functions as F

    from ocr_spark.constants import SALT_SLICE_TURNS
    from ocr_spark.plans.extract_job import _salted_shuffle, plan_extract, with_bucket
    from ocr_spark.plans.lineage import lineage_from_output
    from ocr_spark.sinks.writers import read_output, write_extracted, write_lineage
    from ocr_spark.sources.transcripts import read_transcripts

    def scanned():
        return with_bucket(read_transcripts(spark, path))

    def shuffled():
        return _salted_shuffle(scanned(), True, SALT_SLICE_TURNS, None)

    def identity(batches):
        yield from batches

    def arrow_round_trip():
        return shuffled().select("conv_id", "turn_idx", "text").mapInPandas(
            identity, schema="conv_id string, turn_idx int, text string"
        )

    def extracted():
        return plan_extract(read_transcripts(spark, path))

    out, lin = _fresh("layer_out"), _fresh("layer_lin")
    l0 = _timed(tracer, "L0.sources", lambda: _noop(scanned()))
    l1 = _timed(tracer, "L1.plans", lambda: _noop(shuffled()))
    l2 = _timed(tracer, "L2.operators", lambda: _noop(arrow_round_trip()))
    l3 = _timed(tracer, "L3.extract", lambda: _noop(extracted()))
    l3w = _timed(tracer, "L3w.sinks", lambda: write_extracted(extracted(), out))
    lineage_s = _timed(
        tracer, "lineage",
        lambda: write_lineage(lineage_from_output(read_output(spark, out), "layers"), lin),
    )
    files, nbytes = _parquet_files(out)
    lineage_rows = ds.dataset(lin, format="parquet").count_rows()
    _rm(out, lin)

    with tracer.span("plans.partition_rows"):
        df = shuffled()
        udf_tasks = df.rdd.getNumPartitions()
        rows = [
            r["count"]
            for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        ]
    log(
        f"layers (s): L0 {l0:.2f}  L1 {l1:.2f}  L2 {l2:.2f}  L3 {l3:.2f}  "
        f"L3w {l3w:.2f}  lineage {lineage_s:.2f}"
    )
    return {
        "sources.scan_s": l0,
        "plans.exchange_s": l1 - l0,
        "plans.udf_tasks": udf_tasks,
        "plans.udf_rows_max_over_mean": max(rows) / (sum(rows) / udf_tasks),
        "operators.arrow_s": l2 - l1,
        "extract.kernel_s": l3 - l2,
        "sinks.write_s": l3w - l3,
        "sinks.files_written": files,
        "sinks.bytes_written": nbytes,
        "lineage.s": lineage_s,
        "lineage.rows": lineage_rows,
    }


# ----------------------------------------------------------------- stream


def stream_input(spark, cfg: dict, seed: int):
    return inputs.spark_input(
        spark, f"fixture{cfg['n_convs']}-seed{seed}",
        lambda: inputs.fixture_turns(cfg["n_convs"], seed),
        n_files=STREAM_FILES,
    )


def run_stream(spark, cfg: dict, seed: int, seconds: float, tracer, n: int) -> dict:
    tr = tracer or OFF
    with tr.span("input") as sp:
        path, meta = stream_input(spark, cfg, seed)
    log(f"input: {sp['end'] - sp['start']:.1f} s")
    progress: list[dict] = []

    def unit(i: int, tr, src: str = path):
        out, ckpt = _fresh(f"sout{i}"), _fresh(f"sckpt{i}")
        return out, ckpt, _drain(spark, src, out, ckpt, tr)

    def verify(i: int, result, tr) -> list[str]:
        out, ckpt, prog = result
        progress.extend(prog)
        with tr.span("oracle", unit=i):
            bad = compare(digest_output_dir(out), meta["oracle"])
        _rm(out, ckpt)
        return bad

    # warm-up: one micro-batch's worth of the files, in a directory of
    # their own, not timed or verified
    warm_in = _fresh("warm_in")
    os.makedirs(warm_in)
    for f in _input_files(path)[:STREAM_FILES_PER_TRIGGER]:
        os.link(f, os.path.join(warm_in, os.path.basename(f)))
    with tr.span("warmup") as sp:
        _rm(*unit(0, OFF, src=warm_in)[:2], warm_in)
    log(f"warm-up: {sp['end'] - sp['start']:.1f} s")
    s = Sampler(unit, verify)
    times, rss, control = _measure(s, seconds, tr, n)
    log(f"measured drains (s): {[round(t, 2) for t in times]}")
    batch_ms = [p["durationMs"]["triggerExecution"] for p in progress]
    res = {
        "sampler": s,
        "unit": "micro-batch",
        "samples": len(batch_ms),
        "notes": {"turns": meta["n_turns"], "drain_s": times},
        "control_s": control,
        "e2e": {
            "turns_per_s": meta["n_turns"] / median(times),
            "latency_p50_ms": median(batch_ms),
            "worker_peak_rss_mb": rss,
        },
    }
    if tracer is not None:
        layers = _streaming_metrics(progress, len(times))
        layers["trace.overhead_s"] = s.unit_spans * tracer.span_cost_s()
        with tracer.span("extract.single_process"):
            layers.update(_common_layers(path, meta))
        res["layers"] = layers
    return res
