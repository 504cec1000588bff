"""Sketch and sampling driver queries: hash, priority, stratified,
target-mix and importance sampling, KMV, Bloom filters and joins,
Count-Min, HLL and quantile sketches, each beside its DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ocr_spark.functions.text import (
    letter_words,
    lower_words,
    md5_long,
    word_bigrams,
    word_rows,
)
from ocr_spark.queries.common import _docs, _docs_wide, _tbl, oracle
from ocr_spark.streaming.extract_stream import (
    DSIR_BUCKETS as _DSIR_BUCKETS,
    dsir_bucket,
    with_dsir_keep,
)
from ocr_spark.streaming.sketch import (
    CM_COLS as _CM_COLS,
    CM_ROWS as _CM_ROWS,
    HLL_M as _HLL_M,
    HLL_S as _HLL_S,
    cm_cells,
    hll_fold,
    hll_registers,
)


# Deterministic hash-based sampling (stratified-sampling building block):
# a doc is in the 10% sample iff its cross-engine md5 fingerprint lands
# in buckets 0-9 of 100.  Unlike rand()-based sampling this is exactly
# reproducible across engines, runs, and cluster sizes — the property a
# training-data pipeline needs for auditable subsets.
@oracle("""
            SELECT lang,
                   count(*)::BIGINT AS n_docs,
                   count(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 < 10
                              THEN 1 END)::BIGINT AS n_sampled
            FROM documents GROUP BY lang
        """)
def q_hash_sample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bkt = md5_long(F.col("doc_id").cast("string")) % F.lit(100)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(bkt < 10, 1)).cast("long").alias("n_sampled"),
    )


# KMV intersection sketch (P67): K-minimum-values sketches (Bar-Yossef
# et al. 2002 / Beyer et al. 2007) over the en/fr vocabularies — the
# sketch class that estimates SET INTERSECTIONS, which the HLL (P29)
# cannot: keep the K smallest 40-bit hash values per set; |S| is
# estimated by (K-1)*M div h_K, the union sketch is the K smallest of
# the merged sketches, and |A∩B| ≈ (rho div K) * |A∪B| where rho counts
# union-sketch members present in BOTH input sketches.  Hashes are
# 40-bit md5 prefixes so (K-1)*M stays inside int64 and both engines
# compute bit-identical sketches — the estimates themselves are
# therefore deterministic integers, oracle-hashable like everything
# else.  Exact distinct counts ride beside the estimates so the output
# exhibits sketch quality.  Scale shape: one corpus scan (word table
# materialized once), per-set top-K windows over DISTINCT hash values
# (vocabulary-sized, never corpus-sized), then all arithmetic on <=
# 3K rows; sketches are mergeable summaries like P21/P28/P29.
_KMV_K = 64


_KMV_M = 1 << 40


@oracle(f"""
            WITH ws_t AS (
              SELECT lang,
                     string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM documents WHERE lang IN ('en', 'fr')
            ),
            words AS (
              SELECT DISTINCT lang, w FROM (
                SELECT lang,
                       unnest([ws[i] || ' ' || ws[i + 1]
                               for i in range(1, greatest(len(ws), 1))]) AS w
                FROM ws_t
              )
            ),
            hashes AS (
              SELECT DISTINCT lang,
                     ('0x' || substr(md5('kmv:' || w), 1, 10))::BIGINT AS h
              FROM words
            ),
            sk AS (
              SELECT lang, h FROM (
                SELECT lang, h,
                       row_number() OVER (PARTITION BY lang ORDER BY h) AS rk
                FROM hashes
              ) WHERE rk <= {_KMV_K}
            ),
            a AS (SELECT h FROM sk WHERE lang = 'en'),
            b AS (SELECT h FROM sk WHERE lang = 'fr'),
            u AS (
              SELECT h FROM (
                SELECT h, row_number() OVER (ORDER BY h) AS rk
                FROM (SELECT h FROM a UNION SELECT h FROM b)
              ) WHERE rk <= {_KMV_K}
            ),
            rho_t AS (
              SELECT count(*)::BIGINT AS rho
              FROM u JOIN a ON u.h = a.h JOIN b ON u.h = b.h
            ),
            tops AS (
              SELECT (SELECT max(h) FROM a) AS hk_a,
                     (SELECT max(h) FROM b) AS hk_b,
                     (SELECT max(h) FROM u) AS hk_u
            ),
            ex AS (
              SELECT
                (SELECT count(*) FROM words WHERE lang = 'en')::BIGINT AS exact_a,
                (SELECT count(*) FROM words WHERE lang = 'fr')::BIGINT AS exact_b,
                (SELECT count(*) FROM
                  (SELECT w FROM words WHERE lang = 'en')
                  JOIN (SELECT w FROM words WHERE lang = 'fr') USING (w)
                )::BIGINT AS exact_intersect
            )
            SELECT {_KMV_K}::BIGINT AS k,
                   (({_KMV_K - 1} * {_KMV_M}::BIGINT) // hk_a)::BIGINT AS est_a,
                   (({_KMV_K - 1} * {_KMV_M}::BIGINT) // hk_b)::BIGINT AS est_b,
                   (({_KMV_K - 1} * {_KMV_M}::BIGINT) // hk_u)::BIGINT
                     AS est_union,
                   rho,
                   ((rho * (({_KMV_K - 1} * {_KMV_M}::BIGINT) // hk_u))
                    // {_KMV_K})::BIGINT AS est_intersect,
                   exact_a, exact_b, exact_intersect
            FROM tops, rho_t, ex
        """)
def q_kmv_sketch(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    # element = word BIGRAM: the synthetic corpus has a ~30-word unigram
    # vocabulary per language (too small for K=64 sketches to mean
    # anything); bigrams give ~900 distinct elements per set
    bigrams = word_bigrams("ws")
    words = (
        d.filter(F.col("lang").isin("en", "fr"))
        .select("lang", letter_words().alias("ws"))
        .select("lang", F.explode(bigrams).alias("w"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    h = md5_long(F.concat(F.lit("kmv:"), F.col("w")), 10)
    hashes = words.select("lang", h.alias("h")).distinct()
    wk = Window.partitionBy("lang").orderBy("h")
    sk = (
        hashes.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KMV_K)
        .select("lang", "h")
        .localCheckpoint(eager=False)
    )
    a = sk.filter(F.col("lang") == "en").select("h")
    b = sk.filter(F.col("lang") == "fr").select("h")
    wu = Window.orderBy("h")
    union_k = (
        a.unionByName(b).distinct()
        .withColumn("rk", F.row_number().over(wu))
        .filter(F.col("rk") <= _KMV_K)
        .select("h")
    )
    rho_df = (
        union_k.join(a, "h").join(b, "h")
        .agg(F.count(F.lit(1)).cast("long").alias("rho"))
    )
    est = lambda hk: F.expr(f"({_KMV_K - 1} * cast({_KMV_M} as bigint)) div {hk}")
    tops = (
        a.agg(F.max("h").alias("hk_a"))
        .crossJoin(b.agg(F.max("h").alias("hk_b")))
        .crossJoin(union_k.agg(F.max("h").alias("hk_u")))
        .crossJoin(rho_df)
    )
    exact = (
        words.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy()
        .pivot("lang", ["en", "fr"])
        .sum("n")
        .withColumnRenamed("en", "exact_a")
        .withColumnRenamed("fr", "exact_b")
    )
    exact_i = (
        words.filter(F.col("lang") == "en").select("w")
        .join(words.filter(F.col("lang") == "fr").select("w"), "w")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersect"))
    )
    return (
        tops.crossJoin(exact).crossJoin(exact_i)
        .select(
            F.lit(_KMV_K).cast("long").alias("k"),
            est("hk_a").cast("long").alias("est_a"),
            est("hk_b").cast("long").alias("est_b"),
            est("hk_u").cast("long").alias("est_union"),
            "rho",
            F.expr(
                f"(rho * (({_KMV_K - 1} * cast({_KMV_M} as bigint))"
                f" div hk_u)) div {_KMV_K}"
            ).cast("long").alias("est_intersect"),
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            "exact_intersect",
        )
    )


# Bloom semi-join reduction (P69): the 100-TB join trick P28 builds
# toward — a selective dim-side predicate (urgent orders, ~20% of the
# build side) becomes a 2^16-bit / 3-hash Bloom over its join keys.
# ONLY the bit table is broadcast (2^16 bits — constant-size at any
# corpus scale); each DISTINCT fact key probes it map-side, and the
# bloom verdict per key is a broadcast-join lookup.  The surviving key
# set is fact-key-sized, so it is NOT broadcast: the fact rows reach it
# via a plain shuffle semi-join on the key — at 100 TB that shuffle
# moves only the ~22% of rows whose keys pass the bloom, which is the
# entire point of the reduction.  The output exposes the whole
# accounting — probe sizes, bloom-passing keys/rows, true matches, and
# the FALSE-POSITIVE key count (deterministic: both engines build
# bit-identical filters, so even the Bloom's mistakes hash-match).  No
# false negatives by construction: every true match survives pruning
# (asserted by n_rows_match == the unpruned join count in the oracle's
# algebra).  Revenue is per-row fixed-pointed before summation.
_BLOOM_BITS = 1 << 16


_BLOOM_K = 3


def _bloom_positions(salt: str, key) -> Column:
    """array of the _BLOOM_K salted md5 bit positions of string `key`."""
    return F.array(*[
        md5_long(F.concat(F.lit(f"{salt}{r}:"), key)) % F.lit(_BLOOM_BITS)
        for r in range(_BLOOM_K)
    ])


def _bloom_bits(keys: DataFrame, salt: str, key) -> DataFrame:
    """(bit, hit = 1): the set bits of the filter built over `keys`."""
    return (
        keys.select(F.explode(_bloom_positions(salt, key)).alias("bit"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )


def _bloom_verdict(probe: DataFrame, by: list[str], salt: str, key,
                   bits: DataFrame, out: str) -> DataFrame:
    """(by..., out): 1 iff every bit of the probe row's `key` is set in
    `bits` (the caller decides whether to broadcast the bit table)."""
    return (
        probe.select(*by, F.explode(_bloom_positions(salt, key)).alias("bit"))
        .join(bits, "bit", "left")
        .groupBy(*by)
        .agg(F.min(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias(out))
    )


@oracle(f"""
            WITH build AS (
              SELECT o_orderkey AS k FROM orders
              WHERE o_orderpriority = '1-URGENT'
            ),
            li AS (
              SELECT l_orderkey,
                     floor(l_extendedprice * 100)::BIGINT AS price_fp
              FROM lineitem
            ),
            bits AS (
              SELECT DISTINCT ('0x' || substr(
                md5('bj' || r.r::VARCHAR || ':' || build.k::VARCHAR), 1, 15))
                ::BIGINT % {_BLOOM_BITS} AS bit
              FROM build, range(0, {_BLOOM_K}) r(r)
            ),
            probe_keys AS (SELECT DISTINCT l_orderkey AS k FROM li),
            pbits AS (
              SELECT pk.k, ('0x' || substr(
                md5('bj' || r.r::VARCHAR || ':' || pk.k::VARCHAR), 1, 15))
                ::BIGINT % {_BLOOM_BITS} AS bit
              FROM probe_keys pk, range(0, {_BLOOM_K}) r(r)
            ),
            kv AS (
              SELECT pbits.k,
                     min(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END)
                       AS pass
              FROM pbits LEFT JOIN bits ON bits.bit = pbits.bit
              GROUP BY pbits.k
            ),
            passing AS (SELECT k FROM kv WHERE pass = 1),
            pruned AS (SELECT li.l_orderkey, li.price_fp
                       FROM li JOIN passing ON li.l_orderkey = passing.k),
            matched AS (SELECT p.l_orderkey, p.price_fp
                        FROM pruned p JOIN build ON p.l_orderkey = build.k)
            SELECT
              (SELECT count(*) FROM li)::BIGINT AS n_fact_rows,
              (SELECT count(*) FROM probe_keys)::BIGINT AS n_fact_keys,
              (SELECT count(*) FROM build)::BIGINT AS n_build_keys,
              (SELECT count(*) FROM passing)::BIGINT AS n_keys_pass,
              (SELECT count(*) FROM passing
                 WHERE k NOT IN (SELECT k FROM build))::BIGINT AS n_fp_keys,
              (SELECT count(*) FROM pruned)::BIGINT AS n_rows_pass,
              (SELECT count(*) FROM matched)::BIGINT AS n_rows_match,
              (SELECT sum(price_fp) FROM matched)::BIGINT AS revenue_fp
        """)
def q_bloom_join(spark, sf_dir):
    orders = _tbl(spark, sf_dir, "orders")
    li = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_fp"),
    ).localCheckpoint(eager=False)
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    ).localCheckpoint(eager=False)
    key = F.col("k").cast("string")
    bits = _bloom_bits(build, "bj", key)
    probe_keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    key_verdict = _bloom_verdict(
        probe_keys, ["k"], "bj", key, F.broadcast(bits), "pass"
    ).localCheckpoint(eager=False)
    passing = key_verdict.filter(F.col("pass") == 1).select("k")
    # passing/build are fact-key-sized sets: shuffle joins, never broadcast
    # (the only broadcast in this plan is the constant-size bit table above)
    pruned = li.join(
        passing, li.l_orderkey == passing.k
    ).select("l_orderkey", "price_fp")
    matched = pruned.join(build, pruned.l_orderkey == build.k)
    fp_keys = passing.join(build, "k", "left_anti")
    return (
        li.agg(F.count(F.lit(1)).cast("long").alias("n_fact_rows"))
        .crossJoin(
            probe_keys.agg(F.count(F.lit(1)).cast("long").alias("n_fact_keys"))
        )
        .crossJoin(build.agg(F.count(F.lit(1)).cast("long").alias("n_build_keys")))
        .crossJoin(
            passing.agg(F.count(F.lit(1)).cast("long").alias("n_keys_pass"))
        )
        .crossJoin(
            fp_keys.agg(F.count(F.lit(1)).cast("long").alias("n_fp_keys"))
        )
        .crossJoin(
            pruned.agg(F.count(F.lit(1)).cast("long").alias("n_rows_pass"))
        )
        .crossJoin(
            matched.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows_match"),
                F.sum("price_fp").cast("long").alias("revenue_fp"),
            )
        )
    )


# Priority sampling (P68): weighted sampling without replacement
# (Duffield-Lund-Thorup 2007) with a DETERMINISTIC integer priority —
# u = 40-bit md5 of the doc id, priority = u*1e6 div weight (weight =
# n_chars), keep the k SMALLEST priorities (equivalent to largest w/u).
# The (k+1)-th priority is the Horvitz-Thompson threshold tau.  With
# u a 40-bit hash, pri = u*1e6/w corresponds to uniform q = (u/2^40)/w,
# so tau converts back to WEIGHT units as (2^40 * 1e6) div tau and each
# kept item's unbiased weight estimate is max(w, (2^40*1e6) div tau) —
# all integer, so both engines produce the identical sample AND identical
# HT weights (an RNG-based sampler could never be oracle-hashed).
# sum(ht_weight) over the sample estimates the corpus total weight.
# Scale shape: one scan, priorities are a per-row map, both the k and
# k+1 selections are distributed TakeOrderedAndProject — no window, no
# single-partition sort.
_PRIO_K = 20


@oracle(f"""
            WITH scored AS (
              SELECT doc_id, n_chars,
                     greatest(
                       (('0x' || substr(md5('pri:' || doc_id::VARCHAR), 1, 10))
                          ::BIGINT * 1000000) // greatest(n_chars, 1),
                       1) AS pri
              FROM documents
            ),
            kp AS (SELECT pri FROM scored
                   ORDER BY pri, doc_id LIMIT {_PRIO_K + 1}),
            tau_t AS (SELECT max(pri) AS tau FROM kp),
            kept AS (SELECT doc_id, n_chars, pri FROM scored
                     ORDER BY pri, doc_id LIMIT {_PRIO_K})
            SELECT doc_id, n_chars, pri,
                   row_number() OVER (ORDER BY pri, doc_id)::BIGINT AS rnk,
                   tau,
                   greatest(n_chars,
                            (1099511627776 * 1000000) // tau)::BIGINT AS ht_weight
            FROM kept, tau_t
        """)
def q_priority_sample(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    u = md5_long(F.concat(F.lit("pri:"), F.col("doc_id")), 10)
    pri = F.greatest(
        F.expr("u * 1000000 div greatest(n_chars, 1)"), F.lit(1)
    )
    scored = d.select(
        "doc_id", "n_chars", u.alias("u")
    ).select("doc_id", "n_chars", pri.alias("pri")).localCheckpoint(eager=False)
    kplus = (
        scored.orderBy(F.col("pri").asc(), F.col("doc_id").asc())
        .limit(_PRIO_K + 1)
    )
    tau = kplus.agg(F.max("pri").alias("tau"))
    kept = (
        scored.orderBy(F.col("pri").asc(), F.col("doc_id").asc())
        .limit(_PRIO_K)
    )
    win = Window.orderBy(F.col("pri").asc(), F.col("doc_id").asc())
    return (
        kept.crossJoin(F.broadcast(tau))
        .select(
            "doc_id",
            "n_chars",
            "pri",
            F.row_number().over(win).cast("long").alias("rnk"),
            "tau",
            F.greatest(
                F.col("n_chars"),
                # tau -> weight units: u is 40-bit, pri = u*1e6 div w,
                # so the weight threshold is (2^40 * 1e6) div tau
                F.expr("(1099511627776 * 1000000) div tau"),
            ).cast("long").alias("ht_weight"),
        )
    )


# Target-mix resampling (P37): given a target language mix (ppm shares
# summing to 1e6), water-fill the largest corpus that matches the mix
# EXACTLY — T = min over langs of (N_l * 1e6 div target_l) — then derive
# per-lang caps and deterministic md5-gate sampling rates, and apply
# the gate in the same query.  This is the domain/language-mix step of
# a training-data pipeline (e.g. "40% en, 15% each of de/es/fr/zh").
# All arithmetic is integer (div, no FP rates to diverge).  Scale
# shape: pass 1 is a lang-only count agg (column-pruned scan, ~free at
# 100 TB); the 5-row rate table broadcasts back onto pass 2's linear
# scan — per-row gate, no shuffle beyond the final per-lang agg.  The
# md5 gate keeps ~cap_l rows deterministically; exact-cap selection
# would need a per-lang rank (the salted two-phase top-k of P31 is the
# scale recipe if exactness is required).
_MIX_TARGET_PPM = {"en": 400000, "de": 150000, "es": 150000,
                   "fr": 150000, "zh": 150000}


def _mix_target_col():
    c = F.lit(None)
    for lang, ppm in _MIX_TARGET_PPM.items():
        c = F.when(F.col("lang") == lang, F.lit(ppm)).otherwise(c)
    return c.cast("long")


@oracle(f"""
            WITH counts AS (
              SELECT lang, count(*)::BIGINT AS n_avail
              FROM documents GROUP BY 1
            ),
            tgt AS (
              SELECT lang, n_avail,
                     CASE lang
                       {' '.join(f"WHEN '{lang}' THEN {ppm}::BIGINT"
                                 for lang, ppm in _MIX_TARGET_PPM.items())}
                     END AS target_ppm
              FROM counts
              WHERE lang IN ({','.join(repr(k) for k in _MIX_TARGET_PPM)})
            ),
            tmax AS (
              SELECT min(n_avail * 1000000 // target_ppm) AS t_max FROM tgt
            ),
            rates AS (
              SELECT lang, n_avail,
                     (t_max * target_ppm // 1000000) AS cap,
                     least((t_max * target_ppm // 1000000) * 1000000
                           // n_avail, 1000000) AS rate_ppm
              FROM tgt, tmax
            )
            SELECT d.lang, r.n_avail, r.cap, r.rate_ppm,
                   count(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
                                   % 1000000 < r.rate_ppm THEN 1 END)::BIGINT
                     AS n_kept,
                   coalesce(sum(CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT
                                          % 1000000 < r.rate_ppm
                                     THEN d.doc_id END), 0)::BIGINT
                     AS kept_id_sum
            FROM documents d JOIN rates r USING (lang)
            GROUP BY 1, 2, 3, 4
        """)
def q_target_mix_sample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_avail"))
        .withColumn("target_ppm", _mix_target_col())
        .filter(F.col("target_ppm").isNotNull())
    )
    tmax = counts.select(
        F.min(F.expr("n_avail * 1000000 div target_ppm")).alias("t_max")
    )
    rates = (
        counts.crossJoin(F.broadcast(tmax))
        .withColumn("cap", F.expr("t_max * target_ppm div 1000000"))
        .withColumn(
            "rate_ppm",
            F.expr("least(cap * 1000000 div n_avail, 1000000)"),
        )
        .select("lang", "n_avail", "cap", "rate_ppm")
    )
    bkt = md5_long(F.col("doc_id").cast("string")) % F.lit(1000000)
    kept = bkt < F.col("rate_ppm")
    return (
        d.join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_avail", "cap", "rate_ppm")
        .agg(
            F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
            .cast("long").alias("kept_id_sum"),
        )
    )


# Importance resampling (P46): the DSIR-shaped data-selection pass
# (Xie et al. 2023, arXiv:2302.03169) — score every document by how
# much its hashed-unigram distribution looks like a TARGET reference
# corpus relative to the raw corpus, then keep documents with
# probability proportional to the (capped) importance weight.  Target =
# the English slice (`lang = 'en'`): the classic "resample raw toward a
# high-quality reference" setup.  All arithmetic is INTEGER: per-bucket
# add-1-smoothed probabilities in ppb, their ratio in ppm, per-doc
# score = sum of per-word ratios, and the keep decision gates the doc's
# md5 bucket against the per-word average ratio — deterministic across
# engines, runs, and cluster sizes.  Scale shape: the bucket-stats
# table is _DSIR_BUCKETS rows (broadcast), the word table is scanned
# once for stats and once for scoring (materialized in between), the
# doc aggregate is a hash agg on doc_id — everything linear at 100 TB.
# The word bucket and the keep gate are shared with the streaming twin
# (ocr_spark/streaming/extract_stream.py).
@oracle(f"""
            WITH w AS (
              SELECT doc_id, (lang = 'en') AS is_t,
                     string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' ') AS ws
              FROM documents
            ),
            wb AS (
              SELECT doc_id, is_t,
                     ('0x' || substr(md5(wd), 1, 15))::BIGINT % {_DSIR_BUCKETS} AS b
              FROM (SELECT doc_id, is_t, unnest(ws) AS wd FROM w)
              WHERE wd != ''
            ),
            stats AS (
              SELECT b, count(*)::BIGINT AS r_cnt,
                     count(CASE WHEN is_t THEN 1 END)::BIGINT AS t_cnt
              FROM wb GROUP BY 1
            ),
            tot AS (
              SELECT sum(r_cnt)::BIGINT AS r_tot, sum(t_cnt)::BIGINT AS t_tot
              FROM stats
            ),
            rat AS (
              SELECT b,
                     ((t_cnt + 1) * 1000000000 // (t_tot + {_DSIR_BUCKETS}))
                       * 1000000 // greatest(
                         (r_cnt + 1) * 1000000000 // (r_tot + {_DSIR_BUCKETS}), 1)
                       AS ratio_ppm
              FROM stats CROSS JOIN tot
            ),
            perdoc AS (
              SELECT doc_id, count(*)::BIGINT AS n_words,
                     sum(ratio_ppm)::BIGINT AS score_fp
              FROM wb JOIN rat USING (b) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(p.n_words, 0)::BIGINT AS n_words,
                   coalesce(p.score_fp, 0)::BIGINT AS score_fp,
                   CASE WHEN coalesce(p.n_words, 0) > 0
                        THEN p.score_fp // p.n_words ELSE 0 END::BIGINT AS avg_ppm,
                   ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
                     < least(CASE WHEN coalesce(p.n_words, 0) > 0
                                  THEN p.score_fp // p.n_words ELSE 0 END,
                             1000000) AS kept
            FROM documents d LEFT JOIN perdoc p USING (doc_id)
        """)
def q_importance_resample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    w = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_t"),
        lower_words("text").alias("ws"),
    )
    # (doc_id, is_t, b) materialized ONCE — the stats aggregate and the
    # scoring join both read it; without the checkpoint the split+md5
    # subtree runs twice (no exchange reuse across the two references)
    wb = (
        w.select("doc_id", "is_t", F.explode("ws").alias("wd"))
        .filter(F.col("wd") != "")
        .select("doc_id", "is_t", dsir_bucket(F.col("wd")).alias("b"))
        .localCheckpoint(eager=False)
    )
    stats = wb.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("r_cnt"),
        F.count(F.when(F.col("is_t"), 1)).cast("long").alias("t_cnt"),
    )
    tot = stats.select(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    # ppb-scaled smoothed probabilities, ratio in ppm — two-step integer
    # division keeps every intermediate under int64 even at corpus sizes
    # where (t_cnt * r_tot) alone would overflow
    rat = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"((t_cnt + 1) * 1000000000 div (t_tot + {_DSIR_BUCKETS}))"
            f" * 1000000 div greatest("
            f"(r_cnt + 1) * 1000000000 div (r_tot + {_DSIR_BUCKETS}), 1)"
        ).alias("ratio_ppm"),
    )
    perdoc = (
        wb.join(F.broadcast(rat), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("ratio_ppm").cast("long").alias("score_fp"),
        )
    )
    scored = d.select("doc_id").join(perdoc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("score_fp", F.lit(0)).alias("score_fp"),
    )
    return with_dsir_keep(scored, F.col("doc_id").cast("string"))


def _cm_sketch(words):
    """The (row_id, col_id, cnt) Count-Min table of a words frame (column
    `w`).  ONE pass: each word explodes into its _CM_ROWS cells in place
    (a union of one branch per sketch row would re-run the words subtree
    once per row — the branches differ only in the salt literal, so no
    exchange reuse applies)."""
    return (
        words.select(F.explode(cm_cells(F.col("w"))).alias("c"))
        .select("c.row_id", "c.col_id")
        .groupBy("row_id", "col_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


# Count-Min sketch of the corpus word-frequency distribution: 4 hash
# rows x 256 columns, cell (r, c) = total occurrences of words whose
# r-th hash lands in column c.  The sketch build is ONE explode + ONE
# hash aggregate per row — the mergeable, fixed-size summary a streaming
# or federated frequency estimator needs at 100 TB (estimate(word) =
# min over rows of its 4 cells; overestimates only, never under).
# Hashing is the cross-engine md5 fingerprint with per-row salts, so
# both engines build the identical sketch (`cm_cells`, shared with the
# streaming twin in ocr_spark/streaming/sketch.py).
@oracle(f"""
            WITH words AS (
              SELECT w FROM (
                SELECT unnest(string_split(trim(regexp_replace(
                  lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                  ' +', ' ', 'g')), ' ')) AS w
                FROM documents
              ) WHERE length(w) > 0
            ),
            hashed AS (
              SELECT r AS row_id,
                     ('0x' || substr(md5('cm' || r || ':' || w), 1, 15))::BIGINT
                       % {_CM_COLS} AS col_id
              FROM words, (SELECT unnest(range({_CM_ROWS})) AS r)
            )
            SELECT row_id::BIGINT AS row_id, col_id, count(*)::BIGINT AS cnt
            FROM hashed GROUP BY 1, 2
        """)
def q_countmin_sketch(spark, sf_dir):
    return _cm_sketch(word_rows(_docs_wide(spark, sf_dir)))


# Count-Min heavy hitters (P21b): the POINT-QUERY side of the sketch —
# the piece that makes P21 useful.  est(w) = min over the 4 rows of the
# cell the word hashes into (overestimate-only, the CM guarantee); a
# word is a heavy hitter when est(w) >= phi*N (integer-compared as
# est*1000 >= N*_CM_PHI_MILLE — no float threshold to diverge between
# engines).  The words table is materialized ONCE (localCheckpoint) and
# feeds the sketch build, the candidate vocabulary, AND the total-count
# scalar; the 4x256-cell sketch and the 1-row total are BROADCAST
# against the vocab-sized probe, so at 100 TB the cost is the one word
# scan plus a vocab-sized aggregate — never a second corpus pass.
# exact_cnt rides along to exhibit est_cnt >= exact_cnt row by row.
_CM_PHI_MILLE = 5  # phi = 0.5% of all word occurrences


@oracle(f"""
            WITH words AS (
              SELECT w FROM (
                SELECT unnest(string_split(trim(regexp_replace(
                  lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                  ' +', ' ', 'g')), ' ')) AS w
                FROM documents
              ) WHERE length(w) > 0
            ),
            total AS (SELECT count(*)::BIGINT AS total FROM words),
            sketch AS (
              SELECT r AS row_id,
                     ('0x' || substr(md5('cm' || r || ':' || w), 1, 15))::BIGINT
                       % {_CM_COLS} AS col_id,
                     count(*)::BIGINT AS cnt
              FROM words, (SELECT unnest(range({_CM_ROWS})) AS r)
              GROUP BY 1, 2
            ),
            cand AS (
              SELECT w, count(*)::BIGINT AS exact_cnt FROM words GROUP BY 1
            ),
            probe AS (
              SELECT c.w, c.exact_cnt, r AS row_id,
                     ('0x' || substr(md5('cm' || r || ':' || c.w), 1, 15))::BIGINT
                       % {_CM_COLS} AS col_id
              FROM cand c, (SELECT unnest(range({_CM_ROWS})) AS r)
            ),
            est AS (
              SELECT p.w, p.exact_cnt, min(s.cnt)::BIGINT AS est_cnt
              FROM probe p JOIN sketch s USING (row_id, col_id)
              GROUP BY 1, 2
            )
            SELECT w AS word, est_cnt, exact_cnt
            FROM est, total
            WHERE est_cnt * 1000 >= total * {_CM_PHI_MILLE}
        """)
def q_cm_heavy_hitters(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    words = word_rows(d).localCheckpoint(eager=False)
    sketch = _cm_sketch(words)
    total = words.agg(F.count(F.lit(1)).cast("long").alias("total"))
    cand = words.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    cells = cm_cells(F.col("w"))
    probe = cand.select("w", "exact_cnt", F.explode(cells).alias("c")).select(
        "w", "exact_cnt", "c.row_id", "c.col_id"
    )
    est = (
        probe.join(F.broadcast(sketch), ["row_id", "col_id"])
        .groupBy("w", "exact_cnt")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        est.join(F.broadcast(total))
        .filter(
            F.col("est_cnt") * F.lit(1000)
            >= F.col("total") * F.lit(_CM_PHI_MILLE)
        )
        .select(F.col("w").alias("word"), "est_cnt", "exact_cnt")
    )


# Bloom-filter membership (P28): the third mergeable sketch beside
# Count-Min (frequency) and the histogram quantiles — a fixed-size bit
# set answering "was this key in the corpus?" with no false negatives.
# The key universe is per-document CONTENT HASHES (md5(text)) — the
# production pre-filter in front of an exact-dedup join: a new batch
# probes the filter and only bloom-positive documents pay the shuffle.
# Build = one distinct-bit aggregate (65,536 bits regardless of corpus
# size; per-partition filters OR together, which is what makes Bloom
# the standard 100 TB pre-join / scan-pruning structure).  Probe = the
# tiny bit table BROADCAST against a deterministic probe set: the
# content hashes of every doc_id % 20 == 3 document (truth=1 by
# construction — no false negatives possible) plus the same hashes
# suffixed '~x', guaranteed absent (truth=0); their bloom_hit column
# IS the false-positive set, which both engines must reproduce
# bit-exactly.
@oracle(f"""
            WITH keys AS (
              SELECT doc_id, md5(text) AS key FROM documents
            ),
            bits AS (
              SELECT DISTINCT
                     ('0x' || substr(md5('bf' || r || ':' || key), 1, 15))::BIGINT
                       % {_BLOOM_BITS} AS bit
              FROM keys, (SELECT unnest(range({_BLOOM_K})) AS r)
            ),
            probes AS (
              SELECT doc_id, key AS probe, 1::BIGINT AS truth
              FROM keys WHERE doc_id % 20 = 3
              UNION ALL
              SELECT doc_id, key || '~x' AS probe, 0::BIGINT AS truth
              FROM keys WHERE doc_id % 20 = 3
            ),
            pb AS (
              SELECT doc_id, truth,
                     ('0x' || substr(md5('bf' || r || ':' || probe), 1, 15))::BIGINT
                       % {_BLOOM_BITS} AS bit
              FROM probes, (SELECT unnest(range({_BLOOM_K})) AS r)
            )
            SELECT pb.doc_id, pb.truth,
                   min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END)::BIGINT
                     AS bloom_hit
            FROM pb LEFT JOIN bits b ON pb.bit = b.bit
            GROUP BY 1, 2
        """)
def q_bloom_filter(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    keys = d.select(
        "doc_id", F.md5(F.col("text")).alias("key")
    ).localCheckpoint(eager=False)      # build AND probe: one corpus scan
    bits = _bloom_bits(keys, "bf", F.col("key"))
    present = keys.filter(F.col("doc_id") % 20 == 3).select(
        "doc_id",
        F.col("key").alias("probe"),
        F.lit(1).cast("long").alias("truth"),
    )
    absent = present.select(
        "doc_id",
        F.concat(F.col("probe"), F.lit("~x")).alias("probe"),
        F.lit(0).cast("long").alias("truth"),
    )
    return _bloom_verdict(
        present.unionByName(absent), ["doc_id", "truth"], "bf",
        F.col("probe"), F.broadcast(bits), "bloom_hit",
    )


# HyperLogLog-shaped distinct sketch (P29): per-language register table
# folded to a fixed-point estimate, next to the exact count for
# contrast.  One distinct aggregate feeds 64 max-registers per group —
# registers merge by MAX, so the sketch is partition- and
# stream-mergeable like Count-Min/Bloom/quantile-histogram.  All
# arithmetic is integer (rho via the bin() string length both engines
# share; Z and the alpha*m^2/Z estimate in 2^30 fixed point), so the
# estimate matches DuckDB bit-for-bit — no float libm divergence.  The
# register builders and the fold are shared with the streaming twin
# (ocr_spark/streaming/sketch.py).
@oracle(f"""
            WITH words AS (
              SELECT DISTINCT lang, w FROM (
                SELECT lang,
                       unnest(string_split(trim(regexp_replace(
                         lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                         ' +', ' ', 'g')), ' ')) AS w
                FROM documents
              ) WHERE length(w) >= 4
            ),
            hw AS (
              SELECT lang,
                     h % {_HLL_M} AS j,
                     h // {_HLL_M} AS h2
              FROM (
                SELECT lang,
                       ('0x' || substr(md5('hll:' || w), 1, 15))::BIGINT AS h
                FROM words
              )
            ),
            regs AS (
              SELECT lang, j,
                     max(CASE WHEN h2 = 0 THEN 55
                              ELSE 55 - length(bin(h2)) END) AS m
              FROM hw GROUP BY 1, 2
            ),
            per_lang AS (
              SELECT lang,
                     count(*) AS n_set,
                     sum({_HLL_S} >> m) AS z_set
              FROM regs GROUP BY 1
            ),
            exact AS (
              SELECT lang, count(*)::BIGINT AS exact_distinct
              FROM words GROUP BY 1
            )
            SELECT p.lang,
                   p.n_set::BIGINT AS n_set,
                   ({_HLL_M} - p.n_set)::BIGINT AS v_zero,
                   (p.z_set + ({_HLL_M} - p.n_set) * {_HLL_S})::BIGINT AS z_fp,
                   ((709 * {_HLL_M} * {_HLL_M} * {_HLL_S}::BIGINT)
                    // (1000 * (p.z_set + ({_HLL_M} - p.n_set) * {_HLL_S})))::BIGINT
                     AS est_distinct,
                   e.exact_distinct
            FROM per_lang p JOIN exact e ON p.lang = e.lang
        """)
def q_hll_distinct(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    words = (
        word_rows(d, "lang", min_len=4)
        .distinct()
        .localCheckpoint(eager=False)   # feeds sketch AND exact sides
    )
    exact = words.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("exact_distinct")
    )
    return (
        hll_fold(hll_registers(words, "lang"), "lang")
        .join(F.broadcast(exact), "lang")
        .select(
            "lang",
            F.col("n_set").cast("long").alias("n_set"),
            (F.lit(_HLL_M) - F.col("n_set")).cast("long").alias("v_zero"),
            "z_fp",
            "est_distinct",
            "exact_distinct",
        )
    )


# Stratified hash sampling: rebalance a multilingual corpus by keeping
# 5% of the dominant language and 20% of the tail languages, with the
# same deterministic md5 gate as q_hash_sample (reproducible across
# runs AND engines — no RNG state to drift).  sum(doc_id) over the kept
# set makes the hash sensitive to exactly WHICH docs were kept, not
# just how many.
@oracle("""
            SELECT lang,
                   count(*)::BIGINT AS n_docs,
                   count(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
                                   < (CASE WHEN lang = 'en' THEN 5 ELSE 20 END)
                              THEN 1 END)::BIGINT AS n_sampled,
                   coalesce(sum(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100
                                          < (CASE WHEN lang = 'en' THEN 5 ELSE 20 END)
                                     THEN doc_id END), 0)::BIGINT AS sampled_id_sum
            FROM documents GROUP BY lang
        """)
def q_stratified_sample(spark, sf_dir):
    d = _docs(spark, sf_dir)
    bkt = md5_long(F.col("doc_id").cast("string")) % F.lit(100)
    rate = F.when(F.col("lang") == "en", F.lit(5)).otherwise(F.lit(20))
    kept = bkt < rate
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(kept, 1)).cast("long").alias("n_sampled"),
        F.coalesce(F.sum(F.when(kept, F.col("doc_id"))), F.lit(0))
        .cast("long").alias("sampled_id_sum"),
    )


# Histogram-quantile sketch: per-group p50/p90/p99 from a fixed-point
# value histogram — the SINGLE-PASS, MERGEABLE quantile path at 100 TB
# (one hash aggregate builds the histogram; quantiles read off the
# cumulative counts; histograms from different partitions/days merge by
# cell addition, unlike the exact window median q_median_value, which
# needs a full sort per group).  All arithmetic is integer: quantile q =
# smallest bucket whose running count reaches ceil(q * N) — identical
# rank rule in both engines, no float interpolation.
@oracle("""
            WITH hist AS (
              SELECT event_type,
                     floor(value * 100.0)::BIGINT AS bucket,
                     count(*) AS cnt
              FROM events GROUP BY 1, 2
            ),
            cum AS (
              SELECT event_type, bucket, cnt,
                     sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type) AS n
              FROM hist
            )
            SELECT event_type,
                   max(n)::BIGINT AS n_events,
                   min(CASE WHEN cum >= (50 * n + 99) // 100 THEN bucket END) AS p50,
                   min(CASE WHEN cum >= (90 * n + 99) // 100 THEN bucket END) AS p90,
                   min(CASE WHEN cum >= (99 * n + 99) // 100 THEN bucket END) AS p99
            FROM cum GROUP BY event_type
        """)
def q_quantile_sketch(spark, sf_dir):
    ev = _tbl(spark, sf_dir, "events")
    vfp = F.floor(F.col("value") * F.lit(100.0)).cast("long")
    hist = ev.groupBy("event_type", vfp.alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type", "bucket", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wn).alias("n"),
    )
    qs = [("p50", 50), ("p90", 90), ("p99", 99)]
    # rank threshold ceil(q*n/100) in pure integers: (q*n + 99) div 100
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.expr(f"({pct} * n + 99) div 100"),
                F.col("bucket"),
            )
        ).alias(name)
        for name, pct in qs
    ]
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"), *picks
    )
