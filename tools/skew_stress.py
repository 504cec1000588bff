"""Skewed-input stress drive: one 100k-turn hot conversation through the
full distributed pipeline at local[32].

Exercises the slice-salting skew path end-to-end (the unit tests cover it
at small widths): asserts the hot conversation fans out across multiple
salt slices and partitions, that every turn survives with the correct
payload extraction, and that per-conversation ordering is restorable from
turn_idx.  Run standalone (prints SKEW-STRESS-OK) or via
tests/test_skew_stress.py, which drives it in a subprocess because the
pytest session holds a local[4] SparkContext and a process allows only
one.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_TURNS = 100_000
N_COLD = 50
SLICE = 8_192  # default SALT_SLICE_TURNS


def build_fixture() -> pd.DataFrame:
    """One hot conversation (HOT_TURNS turns) + N_COLD 4-turn ones."""
    payload = (
        "Alpha beta gamma delta epsilon zeta. "
        "The quick brown fox jumps over the lazy dog again and again."
    )
    hot = pd.DataFrame(
        {
            "conv_id": "conv-hot",
            "turn_idx": np.arange(HOT_TURNS, dtype=np.int32),
            "role": "user",
            "text": payload,
            "tool": "",
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    cold = pd.DataFrame(
        {
            "conv_id": [f"conv-cold-{c:03d}" for c in range(N_COLD) for _ in range(4)],
            "turn_idx": np.tile(np.arange(4, dtype=np.int32), N_COLD),
            "role": "assistant",
            "text": payload,
            "tool": "",
            "ts": pd.Timestamp("2024-01-01"),
        }
    )
    return pd.concat([hot, cold], ignore_index=True)


MEGA_EVENTS = 1_000_000
N_COLD_USERS = 10_000


def _skewed_events(spark, mega_events: int):
    """Event log with one mega-user (`mega_events` rows, event types
    cycling view/click/purchase at 1-second spacing) plus N_COLD_USERS
    10-event users — built in Spark, no driver materialization."""
    import pyspark.sql.functions as F

    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    mega = spark.range(mega_events).select(
        F.lit("user-hot").alias("user_id"),
        F.col("id").alias("event_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("event_type"),
        (base + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0),
                                   F.col("id").cast("double"))).alias("ts"),
    )
    cold = spark.range(N_COLD_USERS * 10).select(
        F.concat(F.lit("user-cold-"),
                 (F.col("id") % N_COLD_USERS).cast("string")).alias("user_id"),
        (F.col("id") + mega_events).alias("event_id"),
        F.lit("view").alias("event_type"),
        # 1-hour spacing -> every cold event opens a new session
        (base + F.make_dt_interval(
            F.lit(0), (F.col("id") / N_COLD_USERS).cast("int").cast("long"),
            F.lit(0), F.lit(0.0))).alias("ts"),
    )
    return mega.unionByName(cold)


def window_skew_stress(spark) -> None:
    """The funnel/sessionize family partitions windows by user_id with
    unbounded frames — a hot key cannot be slice-salted the way the
    extraction path salts conv_id (the cascaded minima reference each
    other across the whole user history), so the scale story is that the
    per-group work is LINEAR: one mega-user costs one linear pass on one
    task, never a quadratic frame re-scan.  This drives 10^6 events for
    a single user through the shipped q_funnel and q_sessionize builders
    (`funnel_by_user`, `sessions_by_user`) and pins (a) correctness of
    the skewed group's results, (b) an absolute runtime bound, and (c)
    near-linearity: 4x the mega-user's rows must cost well under the
    16x a quadratic window evaluation would."""
    import time

    from ocr_spark.queries.analytics import funnel_by_user, sessions_by_user

    def run(mega_events: int) -> float:
        ev = _skewed_events(spark, mega_events).localCheckpoint()
        t0 = time.perf_counter()
        f = {r["user_id"]: r["stage"] for r in funnel_by_user(ev).collect()}
        s = {r["user_id"]: (r["n_sessions"], r["n_events"])
             for r in sessions_by_user(ev).collect()}
        dt = time.perf_counter() - t0
        # mega-user: view@t, click@t+1s, purchase@t+2s -> full 3 stages;
        # 1-second gaps -> exactly ONE session of mega_events events
        assert f["user-hot"] == 3, f["user-hot"]
        assert len(f) == 1 + N_COLD_USERS, len(f)
        assert s["user-hot"] == (1, mega_events), s["user-hot"]
        assert s["user-cold-0"] == (10, 10), s["user-cold-0"]
        return dt

    warm = run(50_000)  # codegen + shuffle warmup outside the timed probe
    t_quarter = run(MEGA_EVENTS // 4)
    t_full = run(MEGA_EVENTS)
    assert t_full < 120.0, f"window skew run took {t_full:.1f}s"
    # quadratic frame evaluation would make the 4x run ~16x slower; the
    # linear pass reads ~<4x even through this VM's ~40% timing noise
    assert t_full <= 8.0 * t_quarter, (t_full, t_quarter, warm)
    print(f"window-skew: warm={warm:.2f}s quarter={t_quarter:.2f}s "
          f"full={t_full:.2f}s ratio={t_full / t_quarter:.2f}",
          file=sys.stderr)


N_PREFIX_DOCS = 2_000
N_FAMILIES = 50


def _hot_shingle_corpus(spark, n_docs: int):
    """Adversarial set-similarity corpus: EVERY doc opens with the same
    34-word stopword core (32 shared trigrams, df = n_docs — the hot
    bucket that makes the all-pairs shingle join quadratic), followed by
    a 40-word unique tail (74 words -> 72 shingles).  Docs
    0..N_FAMILIES-1 get a planted near-dup twin (doc_id + 1_000_000,
    same text + one extra word, J = 72/73); every other pair shares only
    the core (J = 32/112 < 0.5).  Built in Spark — no driver
    materialization."""
    import pyspark.sql.functions as F

    core = (
        "the of and to in a is that it for on as with by at from or an be "
        "this which you not are have had his her its they we all one more"
    )
    tail = (
        "concat_ws(' ', transform(sequence(1, 40),"
        " i -> concat('u', cast(id as string), 'x', cast(i as string))))"
    )
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(core + " "), F.expr(tail)).alias("text"),
    )
    rows = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("text").alias("text")),
        F.when(
            F.col("doc_id") < N_FAMILIES,
            F.struct(
                (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
                F.concat(
                    F.col("text"),
                    F.lit(" fin"),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
            ),
        ),
    )
    return (
        base.select(F.explode(rows).alias("r"))
        .filter(F.col("r").isNotNull())
        .select("r.doc_id", "r.text")
    )


def prefix_join_skew_stress(spark) -> None:
    """The band-join skew case: a corpus where every doc shares one hot
    stopword core, so the all-pairs shingle equi-join meets C(n,2) pairs
    inside that bucket (2M at n=2000, 32M at n=8000 — quadratic).  The
    prefix-filtering join ranks the hot shingles LAST (maximal df), so
    they never enter a prefix and candidates stay ~linear (the planted
    families only).  Pins (a) exactness — the result is exactly the
    planted (i, i+10^6) pairs at fp(72/73), (b) an absolute runtime
    bound, (c) near-linearity: 4x the docs must cost well under the 16x
    a hot-bucket-quadratic join would."""
    import time

    from ocr_spark.operators.setsim import prefix_jaccard_pairs

    def run(n_docs: int) -> float:
        docs = _hot_shingle_corpus(spark, n_docs).localCheckpoint()
        t0 = time.perf_counter()
        rows = prefix_jaccard_pairs(docs, tau=0.5).collect()
        dt = time.perf_counter() - t0
        got = sorted((r["doc_a"], r["doc_b"], r["jaccard_fp"]) for r in rows)
        want = sorted(
            (i, i + 1_000_000, 72 * 1_000_000 // 73) for i in range(N_FAMILIES)
        )
        assert got == want, (len(got), got[:5])
        return dt

    warm = run(500)  # codegen + shuffle warmup outside the timed probe
    t_small = run(N_PREFIX_DOCS)
    t_big = run(4 * N_PREFIX_DOCS)
    assert t_big < 120.0, f"prefix-join skew run took {t_big:.1f}s"
    # a quadratic hot bucket would make the 4x run ~16x slower; the
    # prefix join reads ~<4x even through this VM's ~40% timing noise
    assert t_big <= 8.0 * t_small, (t_big, t_small, warm)
    print(
        f"prefix-join-skew: warm={warm:.2f}s small={t_small:.2f}s "
        f"big={t_big:.2f}s ratio={t_big / t_small:.2f}",
        file=sys.stderr,
    )


def main() -> None:
    import pyspark.sql.functions as F

    from ocr_spark.extract import extract_frame
    from ocr_spark.plans.extract_job import plan_extract, with_bucket, with_slice_salt
    from ocr_spark.plans.session import build_session
    from ocr_spark.sources.transcripts import transcripts_from_pandas

    spark = build_session("skew-stress", master="local[32]", shuffle_partitions=32)
    pdf = build_fixture()
    sdf = transcripts_from_pandas(spark, pdf)

    # 1. the hot conversation fans out across ceil(HOT_TURNS/SLICE) salts
    salted = with_slice_salt(with_bucket(sdf, 64))
    hot_salts = (
        salted.filter(F.col("conv_id") == "conv-hot")
        .select("salt").distinct().count()
    )
    expect_slices = -(-HOT_TURNS // SLICE)
    assert hot_salts == expect_slices, (hot_salts, expect_slices)
    cold_salts = (
        salted.filter(F.col("conv_id") != "conv-hot")
        .select("salt").distinct().collect()
    )
    assert [r["salt"] for r in cold_salts] == [0], cold_salts

    # 2. the hot slices actually land on multiple partitions
    out = plan_extract(sdf, n_buckets=64)
    parts = (
        out.filter(F.col("conv_id") == "conv-hot")
        .select(F.spark_partition_id().alias("pid"))
        .distinct().count()
    )
    assert parts > 1, f"hot conversation stayed on {parts} partition"

    # 3. end-to-end: all rows survive, ordering restorable, bytes correct
    res = out.select("conv_id", "turn_idx", "extracted_text", "status").toPandas()
    assert len(res) == len(pdf), (len(res), len(pdf))
    hot_res = res[res.conv_id == "conv-hot"].sort_values("turn_idx")
    assert hot_res.turn_idx.tolist() == list(range(HOT_TURNS))
    assert (hot_res.status == "ok").all()
    expected_text = extract_frame(pdf.head(1)).extracted_text.iloc[0]
    assert (res.extracted_text == expected_text).all()

    # 4. the windowed-analytics path (funnel/sessionize) under one
    #    mega-user — covers the window family, not just the map path
    window_skew_stress(spark)

    # 5. the band-join path (prefix-filtering exact Jaccard) under a
    #    hot stopword-shingle bucket shared by EVERY doc
    prefix_join_skew_stress(spark)

    spark.stop()
    print("SKEW-STRESS-OK")


if __name__ == "__main__":
    main()
