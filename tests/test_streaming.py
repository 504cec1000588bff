"""Structured Streaming extraction (ocr_spark/streaming/): the streaming
query must produce byte-identical results to the batch oracle, and the
checkpoint must make file delivery exactly-once across restarts."""

import os

import pandas as pd
import pytest

from fixtures.gen import gen_transcripts
from ocr_spark.extract import extract_frame
from ocr_spark.sources.transcripts import transcripts_from_pandas
from ocr_spark.streaming import run_extract_stream


def _write_batch(spark, pdf, path):
    transcripts_from_pandas(spark, pdf).coalesce(1).write.mode("append").parquet(path)


def _drain(spark, inp, outp, ckpt):
    q = run_extract_stream(spark, inp, outp, ckpt, available_now=True)
    q.awaitTermination(300)
    assert not q.isActive


@pytest.fixture()
def dirs(tmp_path):
    return (str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"))


def test_stream_matches_oracle(spark, dirs):
    inp, outp, ckpt = dirs
    pdf = gen_transcripts(n_convs=40)
    _write_batch(spark, pdf, inp)
    _drain(spark, inp, outp, ckpt)

    got = (
        spark.read.parquet(outp)
        .select("conv_id", "turn_idx", "extracted_text", "status")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want = (
        extract_frame(pdf)[["conv_id", "turn_idx", "extracted_text", "status"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    want["turn_idx"] = want["turn_idx"].astype(got["turn_idx"].dtype)
    pd.testing.assert_frame_equal(got, want)


def test_stream_checkpoint_exactly_once(spark, dirs):
    inp, outp, ckpt = dirs
    first = gen_transcripts(n_convs=20)
    _write_batch(spark, first, inp)
    _drain(spark, inp, outp, ckpt)
    n1 = spark.read.parquet(outp).count()
    assert n1 == len(first)

    # restart with the same checkpoint: already-seen files are NOT
    # reprocessed, newly arrived files are
    second = gen_transcripts(n_convs=10, seed=123)
    second["conv_id"] = "second-" + second["conv_id"]
    _write_batch(spark, second, inp)
    _drain(spark, inp, outp, ckpt)
    out = spark.read.parquet(outp)
    assert out.count() == len(first) + len(second)
    assert out.filter(out.conv_id.startswith("second-")).count() == len(second)


def _mk_turns(conv_prefix, hours, per_hour=6):
    import datetime as dt

    rows = []
    for h in hours:
        for i in range(per_hour):
            rows.append(
                {
                    "conv_id": f"{conv_prefix}-{h}-{i}",
                    "turn_idx": 0,
                    "role": "user" if i % 2 == 0 else "assistant",
                    "text": "some content words here for the extractor",
                    "tool": "",
                    "ts": dt.datetime(2024, 1, 1, h, (i * 7) % 60, 0),
                }
            )
    return pd.DataFrame(rows)


def test_stream_watermark_windowed_counts(spark, dirs):
    from ocr_spark.streaming import start_stream, turn_rates

    inp, outp, ckpt = dirs

    def drain():
        q = start_stream(spark, turn_rates, inp, outp, ckpt, available_now=True)
        q.awaitTermination(300)
        assert not q.isActive

    # hour-0 and hour-1 data, then an hour-3 batch that advances the
    # watermark (3:35 - 30min = 3:05) past the ends of windows 0,1,2
    _write_batch(spark, _mk_turns("a", [0, 1]), inp)
    drain()
    _write_batch(spark, _mk_turns("b", [3]), inp)
    drain()
    out = spark.read.parquet(outp).toPandas()
    closed = out[out.window_start.map(lambda t: t.hour) <= 1]
    # hour 0 and hour 1 each: 6 turns = 3 user + 3 assistant
    got = {
        (r.window_start.hour, r.role): r.n_turns for r in closed.itertuples()
    }
    assert got == {
        (0, "user"): 3, (0, "assistant"): 3,
        (1, "user"): 3, (1, "assistant"): 3,
    }
    # the hour-3 window is NOT closed yet (watermark hasn't passed its end)
    assert not (out.window_start.map(lambda t: t.hour) == 3).any()


def test_stream_stateful_conversation_assembly(spark, dirs):
    from ocr_spark.streaming import conversation_summaries, start_stream

    inp, outp, ckpt = dirs

    def drain():
        q = start_stream(
            spark, conversation_summaries, inp, outp, ckpt, available_now=True
        )
        q.awaitTermination(300)
        assert not q.isActive

    import datetime as dt

    def turns(conv, hour, idxs):
        return pd.DataFrame(
            [
                {
                    "conv_id": conv,
                    "turn_idx": i,
                    "role": "user" if i % 2 == 0 else "assistant",
                    "text": "x" * 10,
                    "tool": "",
                    "ts": dt.datetime(2024, 1, 1, hour, i, 0),
                }
                for i in idxs
            ]
        )

    # conv-a spans two micro-deliveries within hour 0
    _write_batch(spark, pd.concat([turns("conv-a", 0, [0, 1]), turns("conv-b", 0, [0])]), inp)
    drain()
    _write_batch(spark, turns("conv-a", 0, [2, 3]), inp)
    drain()
    assert not os.path.exists(outp) or spark.read.parquet(outp).count() == 0

    # hour-2 activity on a NEW conversation advances the watermark past
    # conv-a/conv-b idle horizon -> their summaries emit
    _write_batch(spark, turns("conv-late", 2, [0]), inp)
    drain()
    out = spark.read.parquet(outp).toPandas().set_index("conv_id")
    assert set(out.index) == {"conv-a", "conv-b"}
    a = out.loc["conv-a"]
    assert int(a.n_turns) == 4 and int(a.n_user) == 2 and int(a.n_assistant) == 2
    assert int(a.n_chars) == 40
    assert int(a.first_turn_idx) == 0 and int(a.last_turn_idx) == 3
    assert int(out.loc["conv-b"].n_turns) == 1


def test_stream_dedup_within_watermark(spark, dirs):
    """Streaming exact dedup: duplicate payloads inside the watermark
    horizon are dropped; state is keyed on md5(text) and evicted by the
    watermark (dropDuplicatesWithinWatermark semantics)."""
    from ocr_spark.streaming import dedup_turns, start_stream

    inp, outp, ckpt = dirs
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "conv_id": [f"c{i}" for i in range(9)],
            "turn_idx": [0] * 9,
            "role": ["user"] * 9,
            # three distinct payloads each duplicated once within minutes,
            # two NULL-payload turns (NOT duplicates of each other), one
            # empty-string turn
            "text": ["dup A text", "dup A text", "dup B text",
                     "dup B text", "unique C text", "unique C text",
                     None, None, ""],
            "tool": [""] * 9,
            "ts": [base + pd.Timedelta(minutes=m) for m in range(9)],
        }
    )
    _write_batch(spark, pdf, inp)
    q = start_stream(spark, dedup_turns, inp, outp, ckpt, available_now=True)
    q.awaitTermination(300)
    assert not q.isActive

    out = spark.read.parquet(outp).toPandas()
    # one survivor per distinct payload + BOTH null-text turns + the
    # empty-string turn (a missing payload is not a repeated payload)
    assert len(out) == 6
    assert sorted(out.text.dropna().unique()) == ["", "dup A text",
                                                  "dup B text",
                                                  "unique C text"]
    assert out.text.isna().sum() == 2
    # schema round-trips without the helper hash column
    assert "text_md5" not in out.columns


def test_stream_minhash_neardup_parity_with_batch(spark, dirs):
    """Streaming MinHash near-dup (P3's continuous twin): over the same
    bounded input, the drained pair set must EQUAL the batch
    q_minhash_lsh pairs — same candidates (band equality), same exact-
    Jaccard verification, same fixed-point values — regardless of
    arrival order and across micro-batch boundaries (maxFilesPerTrigger
    forces the band-bucket state to pair docs from different batches).
    Pairs sharing several bands emit once per band; consumers key on
    (doc_a, doc_b), so the comparison deduplicates first.
    """
    import __spark_entry__ as entry
    from ocr_spark.queries.dedup import _docs_with_planted_dups
    from ocr_spark.streaming import minhash_neardup_pairs, start_stream

    sf = "/root/testdata/sf0.001"
    inp, outp, ckpt = dirs
    pdf = (
        _docs_with_planted_dups(spark, sf)
        .select("doc_id", "text")
        .toPandas()
    )
    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf["ts"] = [base + pd.Timedelta(seconds=i) for i in range(len(pdf))]
    # adversarial arrival order, split into 3 files / 3 micro-batches
    pdf = pdf.sample(frac=1.0, random_state=7).reset_index(drop=True)
    for i in range(3):
        spark.createDataFrame(
            pdf.iloc[i::3], schema="doc_id long, text string, ts timestamp"
        ).coalesce(1).write.mode("append").parquet(inp)

    q = start_stream(
        spark, minhash_neardup_pairs, inp, outp, ckpt, available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    assert not q.isActive

    got = (
        spark.read.parquet(outp)
        .toPandas()
        .drop_duplicates(["doc_a", "doc_b"])
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
        .astype("int64")
    )
    want = (
        entry.queries()["q_minhash_lsh"](spark, sf)
        .toPandas()
        .sort_values(["doc_a", "doc_b"])
        .reset_index(drop=True)
        .astype("int64")
    )
    assert len(want) > 0, "fixture must contain planted near-dups"
    pd.testing.assert_frame_equal(
        got[["doc_a", "doc_b", "jaccard_fp"]],
        want[["doc_a", "doc_b", "jaccard_fp"]],
    )


def test_stream_cli_drain(spark, dirs, tmp_path):
    """jobs/stream.py --drain processes a backlog end-to-end and exits.
    Runs in a subprocess (own SparkSession; the pytest session holds the
    process's only SparkContext, so a direct call would collide)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, outp, ckpt = dirs
    pdf = gen_transcripts(n_convs=10)
    _write_batch(spark, pdf, inp)
    res = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "stream.py"),
         "--input", inp, "--output", outp, "--checkpoint", ckpt,
         "--mode", "extract", "--drain", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    # output is namespaced per mode, mirroring the checkpoint
    out = spark.read.parquet(os.path.join(outp, "extract"))
    assert out.count() == len(pdf)


def test_stream_static_enrich_join(spark, dirs):
    """Stream-static enrichment: every streamed turn joins the static
    dim on conv_id (broadcast, stateless — no watermark/state to grow);
    unmatched turns pass through with NULL enrichment, never dropped."""
    import pyspark.sql.functions as F

    from ocr_spark.streaming import enrich, start_stream

    inp, outp, ckpt = dirs
    pdf = gen_transcripts(n_convs=30)
    _write_batch(spark, pdf, inp)
    conv_ids = sorted(pdf["conv_id"].unique())
    # dim covers only half the conversations -> the rest must still flow
    dim = spark.createDataFrame(
        [(c, f"route-{i % 3}") for i, c in enumerate(conv_ids[: len(conv_ids) // 2])],
        "conv_id string, route string",
    )
    q = start_stream(spark, enrich, inp, outp, ckpt, available_now=True,
                     dim_df=F.broadcast(dim))
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(outp)
    assert got.count() == len(pdf)
    covered = set(conv_ids[: len(conv_ids) // 2])
    rows = got.select("conv_id", "route").distinct().collect()
    for r in rows:
        if r["conv_id"] in covered:
            assert r["route"] is not None
        else:
            assert r["route"] is None


def _mk_docs(hours, n_per_hour=120):
    """Corpus sized so per-lang distinct counts (~230) sit ABOVE the raw
    HLL estimator's small-range floor (2.5m = 160 at m=64) — below it
    the harmonic estimate reads ~0.7m regardless of n (the regime the
    standard linear-counting correction exists for)."""
    import datetime as dt

    rows = []
    langs = ["en", "fr", "de"]
    k = 0
    for h in hours:
        for i in range(n_per_hour):
            # letter-only words (the canonicalizer strips digits)
            def wd(n):
                return "w" + chr(97 + n % 26) + chr(97 + (n // 26) % 26) + "q"

            text = " ".join(wd((7 * k + 11 * j) % 500) for j in range(8))
            rows.append(
                {
                    "doc_id": k,
                    "lang": langs[i % len(langs)],
                    "text": text,
                    "ts": dt.datetime(2024, 1, 1, h, (i * 7) % 60, 0),
                }
            )
            k += 1
    return pd.DataFrame(rows)


def test_stream_hll_registers_parity_and_merge(spark, dirs):
    """Streaming HLL (P29 twin): the watermark-closed window's register
    table must equal the batch register table over the same rows
    value-for-value; folding register rows (once, or unioned with a
    replayed copy — max-merge idempotence) must give the batch
    estimate."""
    import pyspark.sql.functions as F

    from ocr_spark.streaming import start_stream
    from ocr_spark.streaming.sketch import (
        DOCS_STREAM_SCHEMA,
        hll_estimate,
        hll_register_columns,
        hll_window_registers,
    )

    inp, outp, ckpt = dirs

    def write_docs(pdf):
        spark.createDataFrame(pdf, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def drain():
        q = start_stream(
            spark, hll_window_registers, inp, outp, ckpt, available_now=True
        )
        q.awaitTermination(300)
        assert not q.isActive

    docs0 = _mk_docs([0])
    write_docs(docs0)
    drain()
    write_docs(_mk_docs([3]))           # advances watermark past hour-0
    drain()

    regs = spark.read.parquet(outp)
    closed = regs.filter(F.hour("window_start") == 0)
    # hour-3 window not closed yet
    assert regs.filter(F.hour("window_start") == 3).count() == 0

    # 1. register parity with batch over the same hour-0 rows
    batch_regs = (
        hll_register_columns(spark.createDataFrame(docs0, DOCS_STREAM_SCHEMA))
        .groupBy("lang", "j")
        .agg(F.max("m").alias("m"))
    )
    got = {(r.lang, r.j): r.m for r in closed.collect()}
    want = {(r.lang, r.j): r.m for r in batch_regs.collect()}
    assert got == want and len(want) > 0

    # 2. estimate parity: stream-folded == batch-folded, and unioning a
    # replayed copy of the register stream changes nothing (idempotent
    # max-merge -> reprocessing-safe sink)
    stream_reg_cols = closed.select("lang", "j", "m")
    est_stream = {
        r.lang: r.est_distinct for r in hll_estimate(stream_reg_cols).collect()
    }
    est_batch = {
        r.lang: r.est_distinct
        for r in hll_estimate(batch_regs.select("lang", "j", "m")).collect()
    }
    est_replayed = {
        r.lang: r.est_distinct
        for r in hll_estimate(
            stream_reg_cols.unionByName(stream_reg_cols)
        ).collect()
    }
    assert est_stream == est_batch == est_replayed
    # estimates are in the right ballpark of the true distinct counts
    truth = {
        r.lang: r.n
        for r in spark.createDataFrame(docs0, DOCS_STREAM_SCHEMA)
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .distinct()
        .groupBy("lang")
        .agg(F.countDistinct("w").alias("n"))
        .collect()
    }
    for lang, est in est_stream.items():
        assert 0.4 * truth[lang] <= est <= 2.5 * truth[lang], (lang, est, truth)


def test_decontam_stream_flags_planted_turns(spark, dirs):
    """Streaming decontamination (P36 twin): turns carrying a benchmark
    13-gram are flagged in-flight; clean and sub-13-word turns pass
    through unflagged; fingerprints match the pure-Python builder."""
    from ocr_spark.streaming import start_stream
    from ocr_spark.streaming.extract_stream import (
        bench_gram_fingerprints,
        decontam_flags,
    )

    inp, outp, ckpt = dirs
    bench_text = (
        "the quick brown fox jumps over the lazy dog while seven wizards"
        " quietly brew potions beneath the ancient oak tree tonight"
    )
    bench = bench_gram_fingerprints([bench_text])
    assert len(bench) == len(set(bench)) and len(bench) > 1

    pdf = gen_transcripts(n_convs=12)
    # plant the first 13 benchmark words into a deterministic turn slice
    snippet = " ".join(bench_text.split()[:13])
    planted = set(pdf.index[pdf.index % 5 == 2])
    pdf.loc[list(planted), "text"] = (
        pdf.loc[list(planted), "text"].fillna("") + " " + snippet
    )
    _write_batch(spark, pdf, inp)

    q = start_stream(spark, decontam_flags, inp, outp, ckpt, available_now=True,
                     bench_grams=bench)
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(outp).toPandas()
    assert len(got) == len(pdf)
    flagged = got[got.contaminated]
    # every planted turn with a non-null original text is flagged …
    key = got.set_index(["conv_id", "turn_idx"])
    src = pdf.set_index(["conv_id", "turn_idx"])
    planted_keys = set(
        src.iloc[[i for i in range(len(src)) if i % 5 == 2]].index
    )
    for k in planted_keys:
        assert key.loc[k, "contaminated"], k
        assert key.loc[k, "n_hits"] >= 1
    # … and nothing else is
    for k, row in key.iterrows():
        if k not in planted_keys:
            assert not row["contaminated"], k
    assert (got.n_grams >= got.n_hits).all()


def test_stream_job_cli_decontam_drive(spark, dirs, tmp_path):
    """spark-submit surface for the decontam mode: benchmark texts come
    from --bench-file, output is namespaced under decontam/."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, outp, ckpt = dirs
    bench_text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        " lambda mu nu xi omicron"
    )
    bf = tmp_path / "bench.txt"
    bf.write_text(bench_text + "\n")

    pdf = gen_transcripts(n_convs=8)
    snippet = " ".join(bench_text.split()[:13])
    idx = [i for i in range(len(pdf)) if i % 7 == 3]
    pdf.loc[pdf.index[idx], "text"] = (
        pdf.loc[pdf.index[idx], "text"].fillna("") + " " + snippet
    )
    _write_batch(spark, pdf, inp)

    res = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs", "stream.py"),
         "--input", inp, "--output", outp, "--checkpoint", ckpt,
         "--mode", "decontam", "--bench-file", str(bf),
         "--drain", "--master", "local[4]"],
        capture_output=True, text=True, timeout=600, cwd=repo,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = spark.read.parquet(os.path.join(outp, "decontam")).toPandas()
    assert len(got) == len(pdf)
    assert got.contaminated.sum() == len(idx)
    assert (got[got.contaminated].n_hits >= 1).all()


def test_quality_gate_stream_flags_planted_junk(spark, dirs):
    """Streaming quality gate (P47 twin): planted junk turns fail the
    matching rule in-flight; ordinary prose turns pass everything."""
    from ocr_spark.streaming import quality_gate, start_stream

    inp, outp, ckpt = dirs
    pdf = gen_transcripts(n_convs=10)
    idx = pdf.index
    # plant one failure case per rule on disjoint deterministic slices
    sym = list(idx[idx % 7 == 1])
    pdf.loc[sym, "text"] = pdf.loc[sym, "text"].fillna("") + " " + "#" * 200
    bul = list(idx[idx % 7 == 2])
    pdf.loc[bul, "text"] = "\n".join(f"* bullet {i} item" for i in range(10))
    short = list(idx[idx % 7 == 3])
    pdf.loc[short, "text"] = "hi there"
    _write_batch(spark, pdf, inp)

    q = start_stream(spark, quality_gate, inp, outp, ckpt, available_now=True)
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(outp).toPandas()
    assert len(got) == len(pdf)
    key = got.set_index(["conv_id", "turn_idx"])
    src = pdf.set_index(["conv_id", "turn_idx"])
    for i, k in enumerate(src.index):
        row = key.loc[k]
        if i % 7 == 1 and isinstance(src.loc[k, "text"], str):
            assert not row["pass_symbol_ratio"], k
            assert not row["pass_all"], k
        elif i % 7 == 2:
            assert not row["pass_bullet"], k
            assert not row["pass_all"], k
        elif i % 7 == 3:
            assert not row["pass_word_count"], k
            assert not row["pass_all"], k
    # the gate is not degenerate: some turns pass everything
    assert got["pass_all"].sum() > 0


def test_importance_stream_matches_python_trainer(spark, dirs):
    """Streaming DSIR scoring (P46 twin): the plan's array-literal
    arithmetic must reproduce the pure-Python trainer's scores exactly,
    and the md5 keep gate must be reproducible per (conv_id, turn_idx)."""
    import hashlib
    import re

    from ocr_spark.streaming import dsir_ratio_table, importance_scores, start_stream

    inp, outp, ckpt = dirs
    pdf = gen_transcripts(n_convs=8)
    texts = [t for t in pdf["text"].tolist() if isinstance(t, str)]
    target = texts[::3]  # deterministic "reference corpus" slice
    ratios = dsir_ratio_table(texts, target)
    assert len(ratios) == 256 and all(isinstance(r, int) for r in ratios)
    _write_batch(spark, pdf, inp)

    q = start_stream(spark, importance_scores, inp, outp, ckpt, available_now=True,
                     ratio_ppm=ratios)
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(outp).toPandas()
    assert len(got) == len(pdf)

    def py_score(t):
        if not isinstance(t, str):
            return 0, 0
        c = re.sub(r"[ \t\r\n]+", " ", t.lower()).strip()
        ws = [w for w in c.split(" ") if w] if c else []
        s = sum(
            ratios[int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 256]
            for w in ws
        )
        return len(ws), s

    key = got.set_index(["conv_id", "turn_idx"])
    src = pdf.set_index(["conv_id", "turn_idx"])
    checked = 0
    for k in src.index:
        n, s = py_score(src.loc[k, "text"])
        assert key.loc[k, "n_words"] == n, k
        assert key.loc[k, "score_fp"] == s, k
        avg = s // n if n else 0
        gate = (
            int(
                hashlib.md5(f"{k[0]}:{k[1]}".encode()).hexdigest()[:15], 16
            ) % 1000000
        )
        assert key.loc[k, "kept"] == (gate < min(avg, 1000000)), k
        checked += 1
    assert checked == len(pdf)
    # scores vary and the gate is not all-or-nothing on this corpus
    assert got["score_fp"].nunique() > 1


def test_stream_sessionize_gap_split_and_timeout(spark, dirs):
    """P59: the streaming twin of q_sessionize — a >30-min silence closes
    a session in-flight (emitted the moment the gap is observable), and
    the watermark timeout flushes whatever is still open."""
    from ocr_spark.streaming import sessions, start_stream

    inp, outp, ckpt = dirs

    def drain():
        q = start_stream(spark, sessions, inp, outp, ckpt, available_now=True)
        q.awaitTermination(300)
        assert not q.isActive

    import datetime as dt

    def turns(conv, minutes):
        return pd.DataFrame(
            [
                {
                    "conv_id": conv,
                    "turn_idx": i,
                    "role": "user",
                    "text": "x",
                    "tool": "",
                    "ts": dt.datetime(2024, 1, 1, m // 60, m % 60, 0),
                }
                for i, m in enumerate(minutes)
            ]
        )

    # session 1 of conv-a (3 turns inside 2 min) + conv-b's only turn
    _write_batch(spark, pd.concat([turns("conv-a", [0, 1, 2]), turns("conv-b", [0])]), inp)
    drain()
    # 48-min silence then two more conv-a turns -> session 1 closes NOW
    _write_batch(spark, turns("conv-a", [50, 51]), inp)
    drain()
    got = spark.read.parquet(outp).toPandas()
    assert len(got) == 1
    s1 = got.iloc[0]
    base_ms = int(dt.datetime(2024, 1, 1).timestamp() * 1000)
    assert s1.conv_id == "conv-a" and int(s1.sess_idx) == 1
    assert int(s1.n_turns) == 3
    assert int(s1.start_ms) == base_ms and int(s1.end_ms) == base_ms + 120_000

    # hour-3 activity pushes the watermark past every idle horizon
    _write_batch(spark, turns("conv-late", [180]), inp)
    drain()
    out = (
        spark.read.parquet(outp)
        .toPandas()
        .sort_values(["conv_id", "sess_idx"])
        .reset_index(drop=True)
    )
    key = out[["conv_id", "sess_idx", "n_turns"]].astype(
        {"sess_idx": int, "n_turns": int}
    )
    assert list(key.itertuples(index=False, name=None)) == [
        ("conv-a", 1, 3),
        ("conv-a", 2, 2),
        ("conv-b", 1, 1),
    ]
    a2 = out[(out.conv_id == "conv-a") & (out.sess_idx == 2)].iloc[0]
    assert int(a2.start_ms) == base_ms + 50 * 60_000
    assert int(a2.end_ms) == base_ms + 51 * 60_000


def test_stream_sessionize_drops_null_event_time(spark, dirs):
    """A turn without an event time belongs to no session: conv-a at
    00:00, a null `ts` and 00:05 is ONE session of the two timed turns,
    with no epoch -2^63 session before it."""
    import datetime as dt

    from ocr_spark.streaming import sessions, start_stream

    inp, outp, ckpt = dirs

    def drain(conv, times):
        pdf = pd.DataFrame(
            {
                "conv_id": conv,
                "turn_idx": range(len(times)),
                "role": "user",
                "text": "x",
                "tool": "",
                "ts": pd.Series(times, dtype="datetime64[ns]"),
            }
        )
        _write_batch(spark, pdf, inp)
        q = start_stream(spark, sessions, inp, outp, ckpt, available_now=True)
        q.awaitTermination(300)
        assert not q.isActive

    drain("conv-a", [dt.datetime(2024, 1, 1, 0, 0), None, dt.datetime(2024, 1, 1, 0, 5)])
    # later activity moves the watermark past conv-a's idle horizon
    drain("conv-late", [dt.datetime(2024, 1, 1, 3, 0)])
    drain("conv-late2", [dt.datetime(2024, 1, 1, 6, 0)])
    out = spark.read.parquet(outp).toPandas()
    a = out[out.conv_id == "conv-a"]
    base_ms = int(dt.datetime(2024, 1, 1).timestamp() * 1000)
    assert len(a) == 1, a
    s = a.iloc[0]
    assert (int(s.sess_idx), int(s.n_turns)) == (1, 2)
    assert int(s.start_ms) == base_ms and int(s.end_ms) == base_ms + 5 * 60_000


def test_stream_countmin_cells_parity_with_batch(spark, dirs):
    """Streaming Count-Min (P21 twin): the watermark-closed window's cell
    table must equal the batch sketch over the same rows value-for-value
    (sum-merge is exact, not approximate, per cell), and no open window
    may emit early."""
    import pyspark.sql.functions as F

    from ocr_spark.streaming import start_stream
    from ocr_spark.streaming.sketch import (
        DOCS_STREAM_SCHEMA,
        cm_cell_columns,
        countmin_window_cells,
    )

    inp, outp, ckpt = dirs

    def write_docs(pdf):
        spark.createDataFrame(pdf, DOCS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def drain():
        q = start_stream(
            spark, countmin_window_cells, inp, outp, ckpt, available_now=True
        )
        q.awaitTermination(300)
        assert not q.isActive

    docs0 = _mk_docs([0], n_per_hour=60)
    write_docs(docs0)
    drain()
    write_docs(_mk_docs([3], n_per_hour=5))     # advances watermark past hour 0
    drain()

    cells = spark.read.parquet(outp)
    closed = cells.filter(F.hour("window_start") == 0)
    assert cells.filter(F.hour("window_start") == 3).count() == 0

    batch = (
        cm_cell_columns(spark.createDataFrame(docs0, DOCS_STREAM_SCHEMA))
        .groupBy("row_id", "col_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    got = {(r.row_id, r.col_id): r.cnt for r in closed.collect()}
    want = {(r.row_id, r.col_id): r.cnt for r in batch.collect()}
    assert got == want and len(want) > 0
    # the sketch keeps its fixed footprint: 4 rows, <= 256 cols each
    assert closed.select("row_id").distinct().count() == 4
    assert closed.groupBy("row_id").count().agg(F.max("count")).first()[0] <= 256


def test_stream_funnel_stages_on_timeout(spark, dirs):
    """P64 (streaming twin of batch P23): per-user events accumulate in
    state and the batch funnel rule runs when the watermark passes the
    idle horizon — accumulate-then-evaluate makes out-of-order arrivals
    (the purchase delivered BEFORE its click) land exactly like batch."""
    import datetime as dt

    from ocr_spark.streaming.funnel import (
        EVENTS_STREAM_SCHEMA,
        user_funnels,
    )
    from ocr_spark.streaming import start_stream

    inp, outp, ckpt = dirs

    def write_events(rows):
        pdf = pd.DataFrame(
            [
                {
                    "event_id": i,
                    "ts": dt.datetime(2024, 1, 1, m // 60, m % 60, 0),
                    "user_id": u,
                    "event_type": k,
                }
                for i, (u, m, k) in enumerate(rows)
            ]
        )
        spark.createDataFrame(pdf, EVENTS_STREAM_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

    def drain():
        q = start_stream(spark, user_funnels, inp, outp, ckpt, available_now=True)
        q.awaitTermination(300)
        assert not q.isActive

    # batch 1: user 1's rows arrive DISORDERED within the batch (purchase
    # listed first — the handler evaluates on sorted event time, not
    # arrival order); user 2's view; user 3 no view; user 4 view-only
    write_events([(1, 75, "purchase"), (1, 0, "view"), (1, 30, "click"),
                  (2, 0, "view"), (3, 10, "click"), (4, 5, "view")])
    drain()
    # batch 2, inside the watermark horizon: user 2's too-late click
    # (1:30 > view + 1 h, but well above the 0:45 watermark)
    write_events([(2, 90, "click")])
    drain()
    assert not os.path.exists(outp) or spark.read.parquet(outp).count() == 0

    # hour-6 activity on another user pushes the watermark past everyone
    write_events([(99, 360, "view")])
    drain()
    out = spark.read.parquet(outp).toPandas().set_index("user_id")
    base_us = int(dt.datetime(2024, 1, 1).timestamp() * 1_000_000)
    # user 1: view@0:00 -> click@0:30 (<=1h) -> purchase@1:15 (<=1h of click)
    assert int(out.loc[1].stage) == 3
    assert int(out.loc[1].t_view_us) == base_us
    # user 2: click at 1:30 misses the 1-hour window -> stage 1
    assert int(out.loc[2].stage) == 1
    # user 3: no view -> no row;  user 4: view-only -> stage 1
    assert 3 not in out.index
    assert int(out.loc[4].stage) == 1
    assert set(out.index) == {1, 2, 4}
