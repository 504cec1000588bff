"""Structured Streaming surface for the extraction pipeline.

The batch north rule is resume-from-checkpoint batch (SURVEY.md §2.11),
but the same per-turn operator runs unchanged as a continuous pipeline:
`readStream` over an arriving-files transcripts directory →
`extract_turns` (stateless mapInPandas — the whole G1-G26 pipeline) →
the parquet sink with Spark's own checkpointing.  Every operator in this
module is such a DataFrame -> DataFrame transform over the transcripts
schema; `streaming.launch.start_stream` runs any of them.

Design notes (scale):
  - The extractor is a pure per-row map, so the streaming query is
    STATELESS: no watermarks or state store, exactly-once via the file
    sink's transaction log + source offsets in the checkpoint dir.  This
    is the streaming twin of the batch job's lineage/anti-join resume.
  - No repartition-by-bucket here: micro-batches are already bounded by
    `maxFilesPerTrigger`, and a shuffle per micro-batch would add latency
    for no ordering benefit (the sink is keyed by (conv_id, turn_idx);
    stable ordering is restored at read time, same contract as batch).
  - `available_now=True` drains the backlog then stops — used by tests
    and backfills; production leaves it False for continuous tailing.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ocr_spark.functions.text import (
    gram_fingerprints,
    letter_words,
    lower_words,
    md5_long,
)
from ocr_spark.operators.extract_op import extract_turns
from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA
from ocr_spark.streaming.launch import (
    DEDUP_WATERMARK,
    closed_windows,
    start_stream,
    stream_op,
)


@stream_op(TRANSCRIPTS_SCHEMA)
def turn_rates(turns: DataFrame) -> DataFrame:
    """Stateful streaming aggregation with late-data handling: turns per
    (event-time window, role), watermarked (`closed_windows`: each window
    emits once, when the watermark passes its end).

    This is the monitoring-side twin of the extraction stream (per-window
    turn rates feed capacity planning for the 10^12-turn pipeline); state
    is bounded by watermark horizon, not stream length.
    """
    return closed_windows(turns, ["role"], F.count(F.lit(1)).alias("n_turns"))


# The per-row extraction operator itself is the streaming operator.
stream_op(TRANSCRIPTS_SCHEMA)(extract_turns)


def run_extract_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the streaming extraction query (returns the live query)."""
    return start_stream(
        spark, extract_turns, input_path, output_path, checkpoint_path,
        available_now, max_files_per_trigger,
    )


@stream_op(TRANSCRIPTS_SCHEMA)
def enrich(turns: DataFrame, dim_df: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each streaming turn is joined
    against a STATIC dimension table (e.g. conversation metadata /
    language routing) on conv_id.  Stream-static joins are stateless —
    no watermark, no join state to grow: every micro-batch re-plans
    against the current static side, and a small dimension broadcasts,
    so at 10^12 turns this stays a per-batch map-side hash join.  Left
    join: an unmatched turn passes through with NULL enrichment (the
    ingest contract never drops data because a dim row is late)."""
    return turns.join(dim_df, "conv_id", "left")


@stream_op(TRANSCRIPTS_SCHEMA)
def dedup_turns(turns: DataFrame) -> DataFrame:
    """Streaming exact dedup (P1's continuous twin): drop turns whose
    payload hash was already seen within the DEDUP_WATERMARK horizon.

    `dropDuplicatesWithinWatermark` keys state on md5(text) and — unlike
    plain dropDuplicates — EVICTS state once the watermark passes an
    entry, so state is bounded by (dedup horizon x arrival rate), not by
    stream length: the property that matters at 10^12 turns.  Duplicates
    separated by more than the horizon are deliberately kept (the batch
    exact-dedup pass downstream owns cross-horizon dedup; typical
    crawl/ingest duplicates cluster tightly in time).

    NULL-text turns are NOT duplicates of each other (a missing payload
    is not a repeated payload): they get a per-row key and always pass
    through.  Empty-string payloads DO dedup against each other.
    """
    dedup_key = F.when(
        F.col("text").isNotNull(), F.md5("text")
    ).otherwise(F.concat_ws("#", F.lit("null"), "conv_id", "turn_idx"))
    return (
        turns.withColumn("text_md5", dedup_key)
        .withWatermark("ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["text_md5"])
        .drop("text_md5")
    )


DECON_GRAM_WORDS = 13


def bench_gram_fingerprints(texts: list[str]) -> list[str]:
    """Fixed-width 16-hex md5 fingerprints of every DECON_GRAM_WORDS-word
    shingle of the given benchmark texts, under the SAME canonicalization
    the stream side applies (lowercase, letters-only, collapsed whitespace).
    Pure Python on purpose: the benchmark suite is driver-resident and
    tiny (MMLU-sized), and the list is injected into the streaming plan
    as a literal — the streaming analogue of a broadcast variable."""
    import hashlib
    import re

    out: set[str] = set()
    for t in texts:
        ws = re.sub(r" +", " ", re.sub(r"[^A-Za-z ]", " ", t.lower())).strip()
        words = ws.split(" ") if ws else []
        for i in range(len(words) - DECON_GRAM_WORDS + 1):
            key = " ".join(words[i : i + DECON_GRAM_WORDS])
            out.add(hashlib.md5(key.encode()).hexdigest()[:16])
    return sorted(out)


@stream_op(TRANSCRIPTS_SCHEMA)
def decontam_flags(turns: DataFrame, bench_grams: list[str]) -> DataFrame:
    """Streaming benchmark decontamination (P36's continuous twin): flag
    turns sharing any DECON_GRAM_WORDS-word shingle with a held-out
    benchmark set WHILE the corpus is being ingested, so contaminated
    documents never reach the training sink at all.

    The benchmark fingerprint set is injected as an ARRAY LITERAL (see
    bench_gram_fingerprints) rather than joined: benchmark suites are
    tiny and static, so this is a pure stateless per-row map — no
    stream-static join to re-plan, no watermark, no state store; state
    per row is O(|bench| + turn length), and exactly-once comes from the
    file sink's transaction log, same as the extraction stream.  n_hits
    counts DISTINCT matching shingles (array_intersect semantics — the
    batch P36 counts occurrences; a turn is contaminated under either
    definition iff n_hits > 0, which is the gate that matters).
    """
    # empty-set cast keeps array_intersect type-resolved when the
    # benchmark list is empty (array() alone is array<void>)
    bench = (
        F.array(*[F.lit(g) for g in bench_grams])
        if bench_grams
        else F.array().cast("array<string>")
    )
    return (
        turns.withColumn("ws", letter_words())
        .withColumn("g", gram_fingerprints("ws", DECON_GRAM_WORDS))
        .select(
            "conv_id",
            "turn_idx",
            "ts",
            F.size("g").cast("long").alias("n_grams"),
            F.size(F.array_intersect("g", bench)).cast("long").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def gopher_features(
    df: DataFrame, *keys: str, stops: str | None = None
) -> DataFrame:
    """(keys..., page) -> (keys..., n_words, tot_chars, alpha_words,
    n_symbols, n_lines, bullet_lines, ellipsis_lines): the per-text
    counts the Gopher rules gate on, all integers.  With `stops` (a SQL
    tuple literal of words) also n_req_stops, how many of them occur."""
    d = df.select(
        *keys,
        "page",
        lower_words(F.col("page")).alias("ws"),
        F.split("page", "\n").alias("lines"),
    )
    req_stops = (
        [
            F.expr(f"size(array_intersect(array_distinct(ws), array{stops}))")
            .cast("long").alias("n_req_stops")
        ]
        if stops is not None
        else []
    )
    return d.select(
        *keys,
        F.size("ws").cast("long").alias("n_words"),
        F.expr("aggregate(ws, 0L, (a, w) -> a + length(w))").alias("tot_chars"),
        F.expr("size(filter(ws, w -> w rlike '[a-z]'))").cast("long")
        .alias("alpha_words"),
        *req_stops,
        (
            F.length("page") - F.length(F.regexp_replace("page", r"#", ""))
            + F.floor(
                (F.length("page")
                 - F.length(F.expr("replace(page, '...', '')"))) / F.lit(3)
            )
        ).cast("long").alias("n_symbols"),
        F.size("lines").cast("long").alias("n_lines"),
        F.expr("size(filter(lines, l -> startswith(ltrim(l), '* ')))")
        .cast("long").alias("bullet_lines"),
        F.expr("size(filter(lines, l -> endswith(rtrim(l), '...')))")
        .cast("long").alias("ellipsis_lines"),
    )


def gopher_passes(min_words: int, **extra: Column) -> list[Column]:
    """The six Gopher pass predicates over `gopher_features` columns,
    then any `extra` ones, then their conjunction pass_all.  Integer
    cross-multiplied (symbols*10 < words encodes ratio < 0.1), so no
    division can diverge between engines."""
    n = F.col("n_words")
    preds = {
        "pass_word_count": (n >= min_words) & (n <= 100000),
        "pass_mean_wlen": (F.col("tot_chars") >= 3 * n)
        & (F.col("tot_chars") <= 10 * n)
        & (n > 0),
        "pass_symbol_ratio": F.col("n_symbols") * 10 < n,
        "pass_bullet": F.col("bullet_lines") * 10 < F.col("n_lines") * 9,
        "pass_ellipsis": F.col("ellipsis_lines") * 10 < F.col("n_lines") * 3,
        "pass_alpha": F.col("alpha_words") * 10 >= n * 8,
        **extra,
    }
    return [c.alias(k) for k, c in preds.items()] + [
        reduce(and_, preds.values()).alias("pass_all")
    ]


QUALITY_MIN_WORDS = 5


@stream_op(TRANSCRIPTS_SCHEMA)
def quality_gate(turns: DataFrame) -> DataFrame:
    """Streaming Gopher-style quality gate (P47's continuous twin): the
    MassiveText heuristic rules applied per turn DURING ingest, so junk
    payloads are flagged before they ever reach the training sink.

    The batch q_gopher_rules' own features and predicates
    (`gopher_features`, `gopher_passes`), minus the required-stopword
    test: turn-level payloads are routinely a few words long, where a
    stopword test is noise; the batch rule applies it at document level
    after conversation assembly.  The word floor is QUALITY_MIN_WORDS
    (turns are shorter than documents).  Pure stateless per-row map: no
    state store, no watermark, exactly-once via the file sink's
    transaction log.
    """
    keys = ("conv_id", "turn_idx", "ts")
    pages = turns.select(*keys, F.coalesce(F.col("text"), F.lit("")).alias("page"))
    return gopher_features(pages, *keys).select(
        *keys, "n_words", *gopher_passes(QUALITY_MIN_WORDS)
    )


DSIR_BUCKETS = 256


def dsir_bucket(w: Column, buckets: int = DSIR_BUCKETS) -> Column:
    """The hashed-unigram bucket of word `w` (`bucket` in
    dsir_ratio_table)."""
    return md5_long(w) % F.lit(buckets)


def with_dsir_keep(scored: DataFrame, key: Column) -> DataFrame:
    """(..., n_words, score_fp) -> + avg_ppm, the integer mean per-word
    ratio, + kept: the row's md5 bucket of `key` (in ppm) under the
    capped average ratio — reproducible across engines, runs and
    restarts."""
    return scored.withColumn(
        "avg_ppm",
        F.expr("case when n_words > 0 then score_fp div n_words else 0 end"),
    ).withColumn(
        "kept",
        md5_long(key) % F.lit(1000000) < F.least(F.col("avg_ppm"), F.lit(1000000)),
    )


def dsir_ratio_table(raw_texts: list[str], target_texts: list[str]) -> list[int]:
    """Train the DSIR hashed-unigram importance-ratio table (bucket ->
    ratio_ppm, DSIR_BUCKETS entries) on the driver — the offline half of the classic
    offline-train / online-score split.  Pure Python with EXACTLY the
    batch q_importance_resample arithmetic (md5 bucket, add-1-smoothed
    ppb probabilities, two-step integer division), so a table trained
    here scores a stream identically to the batch operator scoring the
    same corpus.  At production scale the table comes from the batch
    job's 256-row stats output; either way it is a tiny list injected
    into the streaming plan as an array literal (broadcast-variable
    analogue, same pattern as bench_gram_fingerprints)."""
    import hashlib
    import re

    def words(t: str) -> list[str]:
        c = re.sub(r"[ \t\r\n]+", " ", t.lower()).strip()
        return [w for w in c.split(" ") if w] if c else []

    buckets = DSIR_BUCKETS

    def bucket(w: str) -> int:
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % buckets

    r_cnt = [0] * buckets
    t_cnt = [0] * buckets
    for txt in raw_texts:
        for w in words(txt):
            r_cnt[bucket(w)] += 1
    for txt in target_texts:
        for w in words(txt):
            t_cnt[bucket(w)] += 1
    r_tot, t_tot = sum(r_cnt), sum(t_cnt)
    out = []
    for b in range(buckets):
        pt_ppb = (t_cnt[b] + 1) * 1000000000 // (t_tot + buckets)
        pr_ppb = (r_cnt[b] + 1) * 1000000000 // (r_tot + buckets)
        out.append(pt_ppb * 1000000 // max(pr_ppb, 1))
    return out


@stream_op(TRANSCRIPTS_SCHEMA)
def importance_scores(turns: DataFrame, ratio_ppm: list[int]) -> DataFrame:
    """Streaming DSIR importance scoring (P46's continuous twin): score
    every arriving turn against a FROZEN bucket-ratio table and gate it
    with the same md5 keep rule as the batch operator — train offline
    (dsir_ratio_table / the batch job's stats), score online.

    The 256-entry table rides into the plan as an array literal indexed
    by word bucket (streaming broadcast-variable analogue) — a pure
    stateless per-row map: no stream-static join to re-plan when the
    table refreshes (restart with a new literal instead, the standard
    model-rollout pattern), no state store.  The keep gate hashes
    (conv_id, turn_idx) so a turn's verdict is reproducible across
    restarts and reprocessing.
    """
    if len(ratio_ppm) == 0:
        raise ValueError("ratio_ppm table must be non-empty")
    buckets = len(ratio_ppm)
    rat = F.array(*[F.lit(int(r)) for r in ratio_ppm])
    t = turns.select(
        "conv_id", "turn_idx", "ts",
        F.filter(lower_words(F.coalesce(F.col("text"), F.lit(""))), lambda w: w != "")
        .alias("ws"),
    ).withColumn("rat", rat)
    score = F.aggregate(
        "ws",
        F.lit(0).cast("long"),
        lambda a, w: a + F.element_at("rat", (dsir_bucket(w, buckets) + 1).cast("int")),
    )
    keyed = t.select(
        "conv_id", "turn_idx", "ts",
        F.size("ws").cast("long").alias("n_words"),
        score.alias("score_fp"),
    )
    return with_dsir_keep(
        keyed, F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )
