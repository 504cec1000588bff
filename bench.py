"""Benchmark harness (driver contract + BASELINE.json scaling evidence).

Runs every `__spark_entry__.queries()` entry at `$SPARK_GRAFT_SF_DIR`
(default: the sf0.1 test-data directory) on `local[<CPUs in this
process's affinity mask>]` and prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "turns_per_sec": ..., "scaling": {...}}

Per-query timings are the MEDIAN of QUERY_REPS in-run repeats, so
round-over-round comparisons survive the host's ~40% timing variance
(BASELINE.md caveat).

The north-rule scaling criterion (throughput efficiency >= 0.8 from N to
4N executors) cannot use a real cluster in this sandbox.  It is
evidenced by running the IDENTICAL job in subprocesses pinned to N and
4N of this process's CPUs (`scaling_widths`) on the same input, and
reporting turns/sec at both plus efficiency = speedup / 4, next to the
no-Spark multiprocessing ceiling at the same widths (its input rows are
the same derived transcripts, collected once from a local session).

Each query is forced end-to-end with a `noop`-format write (full
computation, no driver collect) so timings measure the distributed plan,
not result transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.common import n_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = n_cpus()
QUERY_REPS = 3
# paired rounds per scaling workload; up to 3 extra attempts replace
# rounds whose window control falls outside CTL_BAND
SCALING_ROUNDS = 3
# healthy-window band for the control ratio (expected ~3.3 on a quiet box)
CTL_BAND = (2.7, 3.9)
# the bench runner parses only the last 2000 bytes of stdout
STDOUT_LIMIT = 1950

# Cost-tiered queries (VERDICT r4 ask #3): the suite's most expensive
# queries run at sf0.01 in this harness so the whole bench fits a quiet
# measurement window (the r4 driver window's 139-s suite heated the box
# and dragged the scaling ratio under the bar).  Tiering is DISCLOSED in
# the output ("queries_tiered"), and each tiered entry is keyed
# `name@sf0.01` in the per-query map so per-query comparisons across runs
# cannot mix scale factors; sf0.1 numbers for these queries live in
# BENCH_local_r4.json.
# q_embedding_ann_lsh_mp is deliberately NOT tiered: it is the stated
# ANN scale path and keeps a full-sf number in the driver artifact
# (q_embedding_ann_lsh_mt, the superseded design it replaced, is tiered).
TIERED_QUERIES = {
    "q_embedding_ann_lsh_mt",
    "q_embedding_ann_lsh",
    "q_embedding_ann_ivf",
    "q_embedding_ann_ivf_mp",
    "q_embedding_topk",
    "q_hll_distinct",
    "q_bloom_filter",
    "q_cm_heavy_hitters",
    "q_binary_decode_envelope",
    "q_mjpeg_frames",
    "q_cluster_keeper",
    "q_dedup_clusters",
    "q_jaccard_prefix_join",
    "q_table_profile",
}


def scaling_widths(cpus: int) -> tuple[int, int] | None:
    """(N, 4N) for the scaling pass on a process with `cpus` CPUs, or
    None when 4N cannot fit.  Widths stay BELOW the memory-bandwidth
    wall: the batched extractor is fast enough that pure multiprocessing
    (no Spark) saturates the bus around ~8 cores (hw speedup 8->32 is
    only ~1.3x), so 8 vs 32 would measure the host bus, not the plan.
    At 2 vs 8 pinned cores the hardware itself scales ~4x and the plan's
    scaling is actually observable."""
    if cpus >= 8:
        return (2, 8)
    if cpus >= 4:
        return (1, 4)
    return None


def _sf_from_dir(d: str) -> float:
    base = os.path.basename(d.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _tier_dir() -> str | None:
    """sf0.01 sibling of SF_DIR (None when unavailable or not smaller)."""
    cand = os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.01")
    if os.path.isdir(cand) and _sf_from_dir(SF_DIR) > 0.01:
        return cand
    return None


def _first_cpus(n: int) -> list[int]:
    """The first `n` CPUs of this process's affinity mask.  Pinning to
    CPUs 0..n-1 instead would silently shrink to their intersection with
    the mask and mislabel the width."""
    cpus = sorted(os.sched_getaffinity(0))[:n]
    if len(cpus) < n:
        raise ValueError(f"{n} CPUs requested; the mask has {len(cpus)}")
    return cpus


def _hw_worker(chunk) -> None:
    from ocr_spark.extract import extract_frame

    extract_frame(chunk)


def _hw_ceiling(pdf, nproc: int, reps: int = 3) -> dict:
    """Pure-Python multiprocessing extraction throughput at `nproc`
    workers pinned to `nproc` CPUs — the box's ceiling for this workload
    with zero framework overhead.  Spark scaling is judged against the
    RATIO of these."""
    import multiprocessing as mp

    prev = os.sched_getaffinity(0)
    os.sched_setaffinity(0, _first_cpus(nproc))
    try:
        chunks = [pdf.iloc[i::nproc] for i in range(nproc)]
        with mp.Pool(nproc) as pool:
            best = min(_timed(lambda: pool.map(_hw_worker, chunks))
                       for _ in range(reps))
    finally:
        os.sched_setaffinity(0, prev)
    return {"nproc": nproc, "turns": len(pdf), "sec": round(best, 3),
            "turns_per_sec": round(len(pdf) / best, 1)}


def _force(df) -> None:
    """Materialize the full plan without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _extraction_job(tr) -> None:
    from ocr_spark.plans.extract_job import plan_extract

    _force(plan_extract(tr))


def _shuffle_job(tr) -> None:
    """SHUFFLE-HEAVY job: TF-IDF-shaped aggregation over derived turns —
    explode to words, two hash aggregates (tf, df), a join on the word
    key, and a top-3 window per conversation.  Complements the pure-map
    extraction job in the scaling evidence: extraction has ONE exchange
    and no reduce-side work, so it cannot show whether the engine's
    shuffle path (hash exchange + sort + reduce) also scales N->4N."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # regex canonicalization BEFORE the explode mirrors the real
    # pipeline queries (q_word_count/q_tfidf) and keeps the job
    # compute-bearing: a bare split+explode is pure memory traffic,
    # and on a 32-CPU host the bus saturates around 8 cores (BASELINE.md
    # bandwidth wall) — which would grade the host bus, not the
    # engine's shuffle path
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")),
                                    r"[^a-z ]+", " "))
    words = tr.select(
        "conv_id",
        F.explode(F.split(canon, " +")).alias("w"),
    ).filter(F.length("w") > 0)
    tf = words.groupBy("conv_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = words.groupBy("w").agg(F.countDistinct("conv_id").alias("dfreq"))
    win = Window.partitionBy("conv_id").orderBy(F.col("score").desc(),
                                                F.col("w"))
    (
        tf.join(dfreq, "w")
        .select(
            "conv_id", "w",
            (F.col("tf") * F.lit(1000000) / F.col("dfreq")).alias("score"),
        )
        .withColumn("r", F.row_number().over(win))
        .filter(F.col("r") <= 3)
        .groupBy().count().collect()
    )


# kind -> (derived turns per document, timed reps, job body).  Extraction
# at 60 turns per document (~300k turns at sf0.1, ~60 s of single-core
# work) lets per-core work dominate fixed scheduling overhead while the
# whole interleaved scaling pass fits the bench's time budget.
JOBS = {
    "extraction": (60, 3, _extraction_job),
    "shuffle": (180, 2, _shuffle_job),
}


def _job_run(kind: str, n: int) -> dict:
    """One `kind` job at `local[n]`: turns count + best-of-reps wall
    seconds (pipeline only; the benchmark host shows ~2x run-to-run timing
    noise, so best-of-N).  A small warm-up job runs first so one-time
    costs (Python worker spawn + module imports on every worker, JVM
    codegen) land outside the timed region on BOTH widths, exactly as
    they would amortize away on a long-running cluster."""
    from ocr_spark.plans.session import build_session
    from ocr_spark.sources.transcripts import derive_transcripts_from_documents

    turns_per_doc, reps, job = JOBS[kind]
    spark = build_session(f"bench-{kind}-scaling", master=f"local[{n}]",
                          shuffle_partitions=n)
    job(derive_transcripts_from_documents(spark, SF_DIR, turns_per_doc=2))
    tr = derive_transcripts_from_documents(spark, SF_DIR, turns_per_doc)
    n_turns = tr.count()
    best = min(_timed(lambda: job(tr)) for _ in range(reps))
    spark.stop()
    return {"master": f"local[{n}]", "turns": n_turns, "sec": round(best, 3),
            "turns_per_sec": round(n_turns / best, 1)}


def _pinned_run(kind: str, n: int) -> dict:
    """Run _job_run in a subprocess pinned to `n` CPUs via taskset — the
    faithful model of an n-core executor (JVM shuffle / Arrow threads and
    Python workers share exactly those cores, as they would on a real
    executor)."""
    import subprocess

    cpus = ",".join(map(str, _first_cpus(n)))
    cmd = ["taskset", "-c", cpus, sys.executable, os.path.abspath(__file__),
           "--scaling-run", kind, str(n)]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=1200)
    for line in res.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"{kind} scaling run failed: {res.stderr[-2000:]}")


def summarize_rounds(pairs: list[tuple[dict, dict]], controls: list[dict],
                     discarded: list[dict]) -> dict:
    """Summary of paired (N, 4N) rounds.  The HEADLINE is the MEDIAN
    round ratio (the upper middle one for an even count): max-selection
    over rounds overestimates, because ratio noise is not one-sided even
    when run-time noise is — a contention burst in a round's N-core half
    inflates that round's ratio.  Best and all raw samples, in round
    order, stay reported as secondary fields."""
    speedups = [b["turns_per_sec"] / a["turns_per_sec"] for a, b in pairs]
    order = sorted(range(len(pairs)), key=lambda i: speedups[i])
    mid = order[len(pairs) // 2]
    best = speedups[order[-1]]
    return {
        "n_cores": pairs[mid][0],
        "4n_cores": pairs[mid][1],
        "samples": {
            "n_cores": [a["turns_per_sec"] for a, _ in pairs],
            "4n_cores": [b["turns_per_sec"] for _, b in pairs],
            "round_speedups": [round(s, 3) for s in speedups],
        },
        "aggregation": "median round ratio over "
                       f"{len(pairs)} control-gated paired rounds",
        "window_controls": controls,
        "window_controls_discarded": discarded,
        "window_control_band": list(CTL_BAND),
        "all_controls_failed": not controls,
        "speedup": round(speedups[mid], 3),
        "efficiency_raw": round(speedups[mid] / 4.0, 3),
        "speedup_best_round": round(best, 3),
        "efficiency_best_round": round(best / 4.0, 3),
    }


def _paired_rounds(kind: str, widths: tuple[int, int], pdf_ctl) -> dict:
    """PAIRED measurement rounds: each round runs the N-core and 4N-core
    jobs back-to-back in one contiguous window (exactly how a real
    N-vs-4N cluster comparison is run).  Pairing within a round controls
    for the host's ~40% window-to-window speed shifts (BASELINE.md):
    cross-pairing a turbo N-core window with a slow 4N-core window
    manufactures a bad ratio out of two unrelated windows.

    A quick pure-mp N-vs-4N-proc control probe of the CURRENT window runs
    BEFORE each round.  Its ratio is an independent gauge of window
    health: on a quiet box it reads ~3.3 (BASELINE.md); a stolen-CPU
    window reads far below OR far above (a contaminated N-core
    denominator once produced an 'absurd' 4.38x).  Rounds whose control
    falls outside CTL_BAND are discarded (recorded, never measured) and
    re-attempted, up to 3 extra attempts.  Continuation depends only on
    the independent control, never on whether the Spark ratio has crossed
    the pass bar, so rounds stay unconditional with respect to the
    metric."""
    pairs, controls, discarded = [], [], []
    for _ in range(SCALING_ROUNDS + 3):
        if len(pairs) == SCALING_ROUNDS:
            break
        n_tps, n4_tps = (_hw_ceiling(pdf_ctl, w, reps=1)["turns_per_sec"]
                         for w in widths)
        ctl = {"speedup": round(n4_tps / n_tps, 3), "n_tps": n_tps,
               "4n_tps": n4_tps}
        if not CTL_BAND[0] <= ctl["speedup"] <= CTL_BAND[1]:
            discarded.append(ctl)
            continue
        controls.append(ctl)
        pairs.append(tuple(_pinned_run(kind, n) for n in widths))
    if not pairs:
        # every control failed: measure unconditionally rather than
        # report nothing; flagged as all_controls_failed
        pairs = [tuple(_pinned_run(kind, n) for n in widths)
                 for _ in range(SCALING_ROUNDS)]
    return summarize_rounds(pairs, controls, discarded)


def _scaling(widths: tuple[int, int]) -> dict:
    """N and 4N parallelism on the SAME input (one-host proxy for N / 4N
    executors; see BASELINE.md), for the extraction job and the shuffle
    job, judged against the no-Spark ceiling at each width."""
    from ocr_spark.plans.session import build_session
    from ocr_spark.sources.transcripts import derive_transcripts_from_documents

    # the ceiling's rows come from the extraction job's own derivation;
    # the session stops before _hw_ceiling forks its pool
    spark = build_session("bench-ceiling-input", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    pdf = (derive_transcripts_from_documents(spark, SF_DIR, turns_per_doc=60)
           .select("conv_id", "turn_idx", "text")
           .orderBy("turn_idx", "conv_id")
           .toPandas())
    spark.stop()
    hw_n, hw_4n = (_hw_ceiling(pdf, w, reps=2) for w in widths)
    hw_wall = _hw_ceiling(pdf, min(32, CPUS), reps=1)
    # quarter-size slice for the per-round window control (~4 s/probe)
    pdf_ctl = pdf.iloc[::4].copy()
    del pdf
    scaling = _paired_rounds("extraction", widths, pdf_ctl)
    hw_speedup = hw_4n["turns_per_sec"] / hw_n["turns_per_sec"]
    return {
        **scaling,
        "hw_ceiling_n": hw_n,
        "hw_ceiling_4n": hw_4n,
        "hw_speedup": round(hw_speedup, 3),
        "efficiency_vs_hw_ceiling": round(scaling["speedup"] / hw_speedup, 3),
        "bandwidth_wall_probe": {
            "hw_ceiling_32": hw_wall,
            "note": "pure-mp extraction saturates the host memory bus "
                    "near 8 cores; beyond it throughput is bus-bound, "
                    "not plan-bound",
        },
        "shuffle_workload": _paired_rounds("shuffle", widths, pdf_ctl),
    }


def _compact(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def stdout_line(out: dict) -> str:
    """The one stdout line, at most STDOUT_LIMIT bytes (BENCH_r03.json
    arrived with "parsed": null because the full result object was
    ~4 KB).  Precision is dropped first; if the per-query map still does
    not fit, the SLOWEST queries are kept while the line fits and
    `queries_elided` records how many were left out (the complete map is
    always in BENCH_local.json).  Even if not a single entry fits, the
    line is the trimmed base object, never the untrimmed map."""
    rounded = {k: round(v, 2) for k, v in out["queries"].items()}
    for queries in (out["queries"], rounded):
        line = _compact({**out, "queries": queries})
        if len(line) <= STDOUT_LIMIT:
            return line
    ranked = sorted(rounded.items(), key=lambda kv: -kv[1])
    lines = (_compact({**out, "queries": dict(ranked[:i]),
                       "queries_elided": len(ranked) - i,
                       "queries_full": "BENCH_local.json"})
             for i in range(len(ranked) + 1))
    line = next(lines)  # the base object, kept even if no entry fits
    for cand in lines:
        if len(cand) > STDOUT_LIMIT:
            break
        line = cand
    return line


def _run_bench() -> tuple[dict, dict]:
    import __spark_entry__ as entry
    from ocr_spark.plans.session import build_session

    widths = scaling_widths(CPUS)
    scaling = _scaling(widths) if widths else None
    spark = build_session("bench", master=f"local[{CPUS}]",
                          shuffle_partitions=CPUS)
    # warmup: touch every input table once so first timed query doesn't
    # pay executor/scan warmup
    for t in ("documents", "embeddings", "orders", "customer", "events"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    # ...and spawn+import the Python UDF workers (one per core) so the
    # first Python-UDF query measures steady state, not CPUS worker spawns
    def _noop_udf(it):
        from ocr_spark.extract import extract_frame  # worker-side import

        yield from it
    spark.range(CPUS * 4).repartition(CPUS).selectExpr(
        "cast(id as string) AS conv_id", "0 AS turn_idx", "'w' AS text"
    ).mapInPandas(_noop_udf, "conv_id string, turn_idx int, text string").count()

    tier_dir = _tier_dir()
    tier_sf = _sf_from_dir(tier_dir) if tier_dir else None
    per_query: dict[str, float] = {}
    turns_per_sec = None
    for name, fn in entry.queries().items():
        at_tier = tier_sf is not None and name in TIERED_QUERIES
        key = f"{name}@sf{tier_sf:g}" if at_tier else name
        times = []
        for _ in range(QUERY_REPS):
            t0 = time.perf_counter()
            df = fn(spark, tier_dir if at_tier else SF_DIR)
            if name == "x_extract_transcripts":
                n = df.count()
            else:
                _force(df)
            times.append(time.perf_counter() - t0)
        med = sorted(times)[len(times) // 2]
        if name == "x_extract_transcripts":
            turns_per_sec = round(n / med, 1)
        per_query[key] = round(med, 3)
    spark.stop()
    tiered = sorted(k.split("@")[0] for k in per_query if "@" in k)
    full = {
        "metric": "turns/sec extraction throughput + headline query suite",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": _sf_from_dir(SF_DIR),
        "query_reps": QUERY_REPS,
        "queries_tiered": {"sf": tier_sf, "names": tiered},
        "aggregation": "median",
        "turns_per_sec": turns_per_sec,
        "exact_match_gate": "pytest tests/ (oracle parity suite)",
        "scaling": scaling,
    }
    if widths is None:
        full["scaling_skipped"] = f"needs 4 CPUs, the affinity mask has {CPUS}"
    # compact stdout twin: same headline numbers, scaling reduced to its
    # summary statistics (full detail lives in BENCH_local.json + stderr)
    out = {**full, "queries_tiered": {"sf": tier_sf, "n": len(tiered),
                                      "names_full": "BENCH_local.json"}}
    if scaling:
        out["scaling"] = {
            "speedup": scaling["speedup"],
            "efficiency_raw": scaling["efficiency_raw"],
            "efficiency_vs_hw_ceiling": scaling["efficiency_vs_hw_ceiling"],
            "shuffle_efficiency":
                scaling["shuffle_workload"]["efficiency_raw"],
            "detail": "BENCH_local.json",
        }
    return out, full


def main() -> None:
    # The bench runner captures only the LAST 2000 bytes of stdout and parses
    # that.  Contract: stdout carries EXACTLY ONE compact JSON line, sized
    # by `stdout_line`; everything else (Spark chatter, progress, full
    # scaling detail) goes to stderr, and the complete result object is
    # also written to BENCH_local.json for later comparison.  Dup
    # stdout away for the run's duration so no library can write to it.
    real_stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        out, full = _run_bench()
    finally:
        os.dup2(real_stdout_fd, 1)
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_local.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full, indent=1), file=sys.stderr)
    os.write(real_stdout_fd, (stdout_line(out) + "\n").encode())


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "--scaling-run":
        print(json.dumps(_job_run(sys.argv[2], int(sys.argv[3]))))
    else:
        main()
