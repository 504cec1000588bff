"""Text driver queries: canonical forms, counts, language and quality
signals, PII scrubbing, term statistics and retrieval, and the
training-data text filters (C4, Gopher, chunking, packing,
decontamination), each beside its DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ocr_spark.functions.text import (
    gram_fingerprints,
    letter_words,
    lower_words,
    word_bigrams,
    word_rows,
)
from ocr_spark.queries.common import (
    _STOPWORDS,
    _docs,
    _docs_wide,
    _quality_fp,
    oracle,
)
from ocr_spark.streaming.extract_stream import (
    DECON_GRAM_WORDS as _DECON_GRAM,
    gopher_features,
    gopher_passes,
)


_LANG_MARKERS = {
    "en": "the|and|of|to",
    "es": "el|la|que|los",
    "fr": "le|et|les|des",
    "de": "der|die|und|das",
}


# G1/G17: canonical whitespace form.  A messy string is constructed from
# the document text identically on both sides, then canonicalized.
@oracle("""
            SELECT doc_id,
                   trim(regexp_replace('  ' || text || ' \t mid  part' || chr(10) || chr(10) || 'end  ',
                                       '[ \t\r\n]+', ' ', 'g')) AS canon_text
            FROM documents
        """)
def q_canonicalize(spark, sf_dir):
    d = _docs(spark, sf_dir)
    messy = F.concat(F.lit("  "), F.col("text"), F.lit(" \t mid  part\n\nend  "))
    canon = F.trim(F.regexp_replace(messy, r"[ \t\r\n]+", " "))
    return d.select(F.col("doc_id"), canon.alias("canon_text"))


# G7/F3 analogue: length gate with pushdown-friendly predicate.
@oracle("""
            SELECT doc_id, n_chars, lang FROM documents WHERE n_chars >= 200
        """)
def q_min_len_filter(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.filter(F.col("n_chars") >= 200).select(
        "doc_id", "n_chars", "lang"
    )


# G10: word count over canonical form.
@oracle("""
            SELECT doc_id,
                   CASE WHEN length(trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g'))) = 0
                        THEN 0
                        ELSE len(string_split(trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')), ' '))
                   END::BIGINT AS n_words
            FROM documents
        """)
def q_word_count(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    canon = F.trim(F.regexp_replace(F.col("text"), r"[ \t\r\n]+", " "))
    wc = F.when(F.length(canon) == 0, F.lit(0)).otherwise(
        F.size(F.split(canon, " "))
    )
    return d.select("doc_id", wc.cast("long").alias("n_words"))


# BPE-ish token counting (letter runs / digit runs / single symbols).
@oracle("""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]'))::BIGINT AS n_tokens
            FROM documents
        """)
def q_token_count(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"
    toks = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
    return d.select("doc_id", toks.cast("long").alias("n_tokens"))


# Language-ID heuristic: marker-word hit counts per language, argmax with
# deterministic tie-break (en > es > fr > de).
@oracle(f"""
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["en"]})\\b'))::BIGINT AS en_hits,
                   CASE
                     WHEN len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["en"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["es"]})\\b'))
                      AND len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["en"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["fr"]})\\b'))
                      AND len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["en"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["de"]})\\b'))
                     THEN 'en'
                     WHEN len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["es"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["fr"]})\\b'))
                      AND len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["es"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["de"]})\\b'))
                     THEN 'es'
                     WHEN len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["fr"]})\\b')) >= len(regexp_extract_all(lower(text), '\\b({_LANG_MARKERS["de"]})\\b'))
                     THEN 'fr'
                     ELSE 'de'
                   END AS lang_pred
            FROM documents
        """)
def q_lang_id(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    lower = F.lower(F.col("text"))
    # materialize each marker count ONCE in an intermediate projection;
    # the argmax CASE below references them 3-4 times each and Spark's
    # subexpression elimination does not span when-branches reliably
    d = d.select(
        "doc_id",
        *[
            F.size(F.regexp_extract_all(lower, F.lit(rf"\b({v})\b"), F.lit(0)))
            .alias(f"_h_{k}")
            for k, v in _LANG_MARKERS.items()
        ],
    )
    hits = {k: F.col(f"_h_{k}") for k in _LANG_MARKERS}
    pred = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]) & (hits["en"] >= hits["de"]),
            F.lit("en"),
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]), F.lit("es"))
        .when(hits["fr"] >= hits["de"], F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return d.select(
        "doc_id",
        hits["en"].cast("long").alias("en_hits"),
        pred.alias("lang_pred"),
    )


@oracle(f"""
            WITH t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN 0
                          ELSE len(string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' '))
                     END::DOUBLE AS words,
                     len(regexp_extract_all(lower(text), '\\b({_STOPWORDS})\\b'))::DOUBLE AS stop_hits
              FROM documents
            )
            SELECT doc_id,
                   floor((least(words, 100.0) / 100.0 * 0.5 +
                          CASE WHEN words > 0 THEN stop_hits / words ELSE 0.0 END * 0.5) * 10000.0)::BIGINT AS quality_fp
            FROM t
        """)
def q_quality_score(spark, sf_dir):
    return _quality_fp(_docs_wide(spark, sf_dir))


# PII scrubbing (training-data hygiene op): deterministic email+URL
# markers are injected per doc (the fixture corpus has none), then
# counted and redacted.  The regexes are dialect-portable (Java regex and
# DuckDB's RE2 agree); Spark's regexp_replace is global by default,
# DuckDB needs the 'g' flag.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


_URL_RE = r"https?://[^ ]+"


@oracle(f"""
            WITH p AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::VARCHAR ||
                     '@example.com or http://ex.com/p/' || doc_id::VARCHAR ||
                     ' now' AS p
              FROM documents
            )
            SELECT doc_id,
                   len(regexp_extract_all(p, '{_EMAIL_RE}'))::BIGINT AS n_emails,
                   len(regexp_extract_all(p, '{_URL_RE}'))::BIGINT AS n_urls,
                   regexp_replace(regexp_replace(p, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{_URL_RE}', '<URL>', 'g') AS scrubbed
            FROM p
        """)
def q_scrub_pii(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    payload = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or http://ex.com/p/"),
        F.col("doc_id").cast("string"), F.lit(" now"),
    )
    d = d.select("doc_id", payload.alias("p"))
    n_emails = F.size(F.regexp_extract_all(F.col("p"), F.lit(_EMAIL_RE), F.lit(0)))
    n_urls = F.size(F.regexp_extract_all(F.col("p"), F.lit(_URL_RE), F.lit(0)))
    red = F.regexp_replace(
        F.regexp_replace(F.col("p"), _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return d.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
        red.alias("scrubbed"),
    )


# TF-IDF-style term salience: top-3 rare-term scores per document.
# score = tf * 1e6 div df (integer arithmetic end-to-end, so both
# engines rank identically; the float log() idf variant is monotone in
# the same df and would risk last-ulp divergence).  Plan shape: explode
# words -> two hash aggregates (tf, df) -> broadcast-size df join ->
# window top-k.  At 100 TB df is computed once per vocabulary term
# (vocab << corpus) and the join partitions by word.
@oracle("""
            WITH words AS (
              SELECT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(
                         lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                         ' +', ' ', 'g')), ' ')) AS w
                FROM documents
              ) WHERE length(w) >= 4
            ),
            tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY 1, 2),
            df AS (SELECT w, count(DISTINCT doc_id) AS df FROM words GROUP BY 1)
            SELECT doc_id, w, score_fp, rnk::BIGINT AS rnk FROM (
              SELECT tf.doc_id, tf.w,
                     (tf.tf * 1000000) // df.df AS score_fp,
                     row_number() OVER (PARTITION BY tf.doc_id
                                        ORDER BY (tf.tf * 1000000) // df.df DESC,
                                                 tf.w ASC) AS rnk
              FROM tf JOIN df ON tf.w = df.w
            ) WHERE rnk <= 3
        """)
def q_tfidf_top_terms(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    words = word_rows(d, "doc_id", min_len=4)
    tf = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "w").select(
        "doc_id", "w", F.expr("tf * 1000000 div df").alias("score_fp")
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.col("score_fp").desc(), F.col("w").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "w", "score_fp", F.col("rnk").cast("long").alias("rnk"))
    )


# BM25 retrieval (P61): the ranking side of the search stack (P31
# builds the index; this scores it).  Okapi BM25 with k1=1.2, b=0.75 in
# a LOG-FREE rational form: the idf log's argument is kept as an
# integer milli-ratio idf_x1000 = 1000*(2N-2df+1) div (2df+1), and the
# tf normalization is cross-multiplied exact — per-term score =
# idf_x1000 * 22*S*tf div (10*S*tf + 3*S + 9*dl*N), derived from
# tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with avgdl = S/N multiplied
# through (so avgdl is never rounded).  Monotonicity in tf/df/dl
# matches true BM25; the log is dropped because no float libm call may
# sit between two engines that must hash-match (house rule since the
# round-2 ANN literals).  The query is self-contained: the 3 most
# frequent content words of the corpus itself (ties lexicographic).
# Scale shape: word table materialized ONCE; query-term and df tables
# broadcast; the top-10 is a distributed TakeOrderedAndProject, never a
# single-partition window over matched docs.  int64 headroom to ~1e9
# total words; past that the products move to decimal (P55 note).
@oracle("""
            WITH allw AS (
              SELECT doc_id,
                     unnest(string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ')) AS w
              FROM documents
            ),
            words AS (SELECT doc_id, w FROM allw WHERE length(w) > 0),
            dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM words GROUP BY 1),
            t AS (SELECT sum(dl)::BIGINT AS s_total,
                         count(*)::BIGINT AS n_docs FROM dl),
            q AS (
              SELECT w FROM words WHERE length(w) >= 4
              GROUP BY w ORDER BY count(*) DESC, w ASC LIMIT 3
            ),
            tf AS (
              SELECT doc_id, words.w, count(*)::BIGINT AS tf
              FROM words JOIN q ON words.w = q.w GROUP BY 1, 2
            ),
            dfq AS (SELECT w, count(*)::BIGINT AS df FROM tf GROUP BY 1),
            per_term AS (
              SELECT tf.doc_id,
                     ((1000 * (2 * t.n_docs - 2 * dfq.df + 1))
                      // (2 * dfq.df + 1))
                     * (22 * t.s_total * tf.tf)
                     // (10 * t.s_total * tf.tf + 3 * t.s_total
                         + 9 * dl.dl * t.n_docs) AS term_score
              FROM tf JOIN dfq ON tf.w = dfq.w
                   JOIN dl ON tf.doc_id = dl.doc_id, t
            )
            SELECT doc_id, score_fp,
                   row_number() OVER (ORDER BY score_fp DESC, doc_id ASC)
                     ::BIGINT AS rnk
            FROM (
              SELECT doc_id, sum(term_score)::BIGINT AS score_fp
              FROM per_term GROUP BY 1
              ORDER BY score_fp DESC, doc_id ASC LIMIT 10
            )
        """)
def q_bm25_topk(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    words = word_rows(d, "doc_id").localCheckpoint(eager=False)
    dl = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    totals = dl.agg(
        F.sum("dl").cast("long").alias("s_total"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    qterms = (
        words.filter(F.length("w") >= 4)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(3)
        .select("w")
    )
    tf = (
        words.join(F.broadcast(qterms), "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    per_term = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.expr(
                "((1000 * (2 * n_docs - 2 * df + 1)) div (2 * df + 1))"
                " * (22 * s_total * tf)"
                " div (10 * s_total * tf + 3 * s_total + 9 * dl * n_docs)"
            ).alias("term_score"),
        )
    )
    top = (
        per_term.groupBy("doc_id")
        .agg(F.sum("term_score").cast("long").alias("score_fp"))
        .orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
        .limit(10)
    )
    win = Window.orderBy(F.col("score_fp").desc(), F.col("doc_id").asc())
    return top.select(
        "doc_id", "score_fp",
        F.row_number().over(win).cast("long").alias("rnk"),
    )


# Inverted index (P31): the search-side text structure — word ->
# (document frequency, head of the sorted posting list).  The build is
# a SALTED TWO-PHASE top-k: a window over the raw word key would give a
# stopword (df ~ corpus size) a single window partition — one task
# sorting the full posting list, the classic hot-key stall at 100 TB.
# Instead each (word, doc_id % S) slice is ranked independently —
# row_number + partial count inside one window pass, skew spread over S
# tasks — the cap is applied BEFORE any collect_list (so per-group
# collected state is bounded at `cap` ids), and a final merge per word
# sums the partial counts into the exact df and re-sorts <= S*cap
# surviving ids down to the true head.  The phase-1 groupBy reuses the
# window's (w, salt) hash partitioning, so salting costs no extra
# exchange.  Full posting lists would be sharded/paged by a real index;
# the capped head is the deterministic, oracle-checkable core of that.
# Postings are emitted as a comma-joined string so both engines compare
# scalar values, not array encodings.
_INDEX_POSTINGS_CAP = 32


_INDEX_SALT = 64


@oracle(f"""
            WITH pairs AS (
              SELECT DISTINCT doc_id, w FROM (
                SELECT doc_id,
                       unnest(string_split(trim(regexp_replace(
                         lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                         ' +', ' ', 'g')), ' ')) AS w
                FROM documents
              ) WHERE length(w) > 0
            )
            SELECT w AS word, count(*)::BIGINT AS df,
                   array_to_string(
                     (list_sort(list(doc_id)))[1:{_INDEX_POSTINGS_CAP}],
                     ',') AS postings_head
            FROM pairs GROUP BY 1
        """)
def q_inverted_index(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    pairs = word_rows(d, "doc_id").distinct()
    salted = pairs.withColumn(
        "salt", (F.col("doc_id") % _INDEX_SALT).cast("int")
    )
    wslice = Window.partitionBy("w", "salt")
    ranked = salted.select(
        "w",
        "salt",
        "doc_id",
        F.row_number().over(wslice.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wslice).cast("long").alias("c_slice"),
    )
    partial = (
        ranked.filter(F.col("rn") <= _INDEX_POSTINGS_CAP)
        .groupBy("w", "salt")
        .agg(
            F.max("c_slice").alias("c_slice"),
            F.collect_list("doc_id").alias("head_slice"),
        )
    )
    return (
        partial.groupBy("w")
        .agg(
            F.sum("c_slice").cast("long").alias("df"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("head_slice"))),
                1,
                _INDEX_POSTINGS_CAP,
            ).alias("head"),
        )
        .select(
            F.col("w").alias("word"),
            "df",
            F.concat_ws(
                ",", F.transform(F.col("head"), lambda x: x.cast("string"))
            ).alias("postings_head"),
        )
    )


# PMI collocations (P32): statistically-associated bigrams — the
# phrase-mining primitive (new-term discovery, tokenizer-merge
# candidates) over a training corpus.  PMI thresholds are ratios of
# counts, so the gate is evaluated in PURE INTEGER cross-multiplied
# form: c_ab * N >= K * c_a * c_b  <=>  PMI >= log K — no log() or
# division to diverge between engines.  One corpus scan feeds the
# unigram and bigram counts (the per-doc word array is built once);
# the bigram->unigram count joins are vocab-sized shuffles, linear at
# scale, and N is a 1-row broadcast.
_PMI_LIFT_K = 50


_PMI_MIN_COUNT = 5


@oracle(f"""
            WITH planted AS (
              SELECT CASE
                       WHEN doc_id % 7 = 2 THEN text || ' quantum entanglement'
                       WHEN doc_id % 11 = 3 THEN text || ' neural lattice'
                       ELSE text
                     END AS text
              FROM documents
            ),
            docs AS (
              SELECT string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM planted
            ),
            uni AS (
              SELECT w, count(*)::BIGINT AS c FROM (
                SELECT unnest(ws) AS w FROM docs
              ) WHERE length(w) > 0 GROUP BY 1
            ),
            bcnt AS (
              SELECT bg, count(*)::BIGINT AS c_ab FROM (
                SELECT unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS bg
                FROM docs
              ) GROUP BY 1
            ),
            tot AS (SELECT sum(c_ab)::BIGINT AS n FROM bcnt)
            SELECT split_part(bg, ' ', 1) AS w1,
                   split_part(bg, ' ', 2) AS w2,
                   c_ab, a.c AS c_a, b.c AS c_b
            FROM bcnt, tot
            JOIN uni a ON a.w = split_part(bg, ' ', 1)
            JOIN uni b ON b.w = split_part(bg, ' ', 2)
            WHERE c_ab >= {_PMI_MIN_COUNT}
              AND c_ab * n >= {_PMI_LIFT_K} * a.c * b.c
        """)
def q_pmi_bigrams(spark, sf_dir):
    d = _docs_wide(spark, sf_dir).withColumn(
        "text",
        # planted collocations (the synthetic corpus draws words
        # near-uniformly, so it has no natural ones): two rare phrases
        # appended to deterministic doc slices, mirroring the planted
        # near-dups the dedup family tests against
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.col("text"), F.lit(" quantum entanglement")),
        )
        .when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.col("text"), F.lit(" neural lattice")),
        )
        .otherwise(F.col("text")),
    )
    docs = d.select(letter_words().alias("ws")).localCheckpoint(eager=False)
    uni = (
        docs.select(F.explode("ws").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    bigrams = word_bigrams("ws")
    bcnt = (
        docs.select(F.explode(bigrams).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    total = bcnt.agg(F.sum("c_ab").cast("long").alias("n"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    return (
        bcnt.filter(F.col("c_ab") >= _PMI_MIN_COUNT)
        .select(w1.alias("w1"), w2.alias("w2"), "c_ab")
        .join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .join(F.broadcast(total))
        .filter(
            F.col("c_ab") * F.col("n")
            >= F.lit(_PMI_LIFT_K) * F.col("c_a") * F.col("c_b")
        )
        .select("w1", "w2", "c_ab", "c_a", "c_b")
    )


# Repetition-quality flags (P34): the Gopher-style repetition gate a
# training pipeline runs before anything expensive — documents whose
# text is dominated by one word or by duplicated bigrams are machine
# junk, not prose.  All ratios are emitted as INTEGER numerators /
# denominators and the flag is an integer cross-multiplied gate
# (top_cnt * 10 > n_words  OR  dup2 * 5 > n2  — i.e. top-word fraction
# > 0.1 or duplicated-bigram fraction > 0.2): no division to diverge
# between engines.  Scale shape: two hash aggs keyed by (doc_id, term)
# — uniformly distributed, bounded per-group state — folded to per-doc
# stats on the same doc_id partitioning, then one co-partitioned join.
@oracle("""
            WITH docs AS (
              SELECT doc_id, string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM documents
            ),
            wc AS (
              SELECT doc_id, w, count(*) AS c FROM (
                SELECT doc_id, unnest(ws) AS w FROM docs
              ) WHERE length(w) > 0 GROUP BY 1, 2
            ),
            wstats AS (
              SELECT doc_id, sum(c)::BIGINT AS n_words,
                     count(*)::BIGINT AS n_distinct, max(c)::BIGINT AS top_cnt
              FROM wc GROUP BY 1
            ),
            bc AS (
              SELECT doc_id, bg, count(*) AS c FROM (
                SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i+1])) AS bg
                FROM docs
              ) GROUP BY 1, 2
            ),
            bstats AS (
              SELECT doc_id, sum(c)::BIGINT AS n2,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS dup2
              FROM bc GROUP BY 1
            )
            SELECT w.doc_id, n_words, n_distinct, top_cnt, n2, dup2,
                   (top_cnt * 10 > n_words OR dup2 * 5 > n2) AS repetitive
            FROM wstats w JOIN bstats b ON w.doc_id = b.doc_id
        """)
def q_repetition_quality(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    docs = d.select("doc_id", letter_words().alias("ws")).localCheckpoint(
        eager=False
    )
    wstats = (
        docs.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top_cnt"),
        )
    )
    bigrams = word_bigrams("ws")
    bstats = (
        docs.select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n2"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dup2"),
        )
    )
    return wstats.join(bstats, "doc_id").select(
        "doc_id",
        "n_words",
        "n_distinct",
        "top_cnt",
        "n2",
        "dup2",
        (
            (F.col("top_cnt") * 10 > F.col("n_words"))
            | (F.col("dup2") * 5 > F.col("n2"))
        ).alias("repetitive"),
    )


# C4 filters (P53): the line-and-page rule set from the C4 corpus
# build (Raffel et al. 2020, arXiv:1910.10683 §2.2) — keep only lines
# that end in terminal punctuation, have >= 5 words, and do not mention
# javascript; drop pages containing "lorem ipsum" or a curly brace;
# drop pages with < 3 sentences after line filtering.  The synthetic
# corpus is single-line unpunctuated prose, so a multi-line PAGE is
# constructed deterministically first: words re-wrapped into 12-word
# lines, 3 of every 4 lines terminally punctuated (keyed on
# doc_id + line index), and the lorem/brace/javascript failure cases
# planted on disjoint doc slices — both engines build the identical
# page, so the rules have real work and real failures at every sf.
# Scale shape: one linear scan, per-row array ops, no UDF, no shuffle
# before the narrow output projection.
_C4_LINE_WORDS = 12


@oracle(f"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN []
                          ELSE string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' ')
                     END AS ws
              FROM documents
            ),
            lb AS (
              SELECT doc_id,
                     [array_to_string(ws[(i - 1) * {_C4_LINE_WORDS} + 1 : (i - 1) * {_C4_LINE_WORDS} + {_C4_LINE_WORDS}], ' ') ||
                      CASE WHEN (doc_id + i) % 4 != 3 THEN '.' ELSE '' END
                      for i in range(1, greatest((len(ws) + {_C4_LINE_WORDS - 1}) // {_C4_LINE_WORDS}, 1) + 1)] AS base_lines
              FROM w
            ),
            p AS (
              SELECT doc_id,
                     base_lines ||
                     CASE WHEN doc_id % 29 = 11
                          THEN ['lorem ipsum dolor sit amet consectetur adipiscing elit.']
                          ELSE [] END ||
                     CASE WHEN doc_id % 31 = 12
                          THEN ['function demo() {{ return 1; }} end of sample.']
                          ELSE [] END ||
                     CASE WHEN doc_id % 37 = 13
                          THEN ['please enable javascript to view this page.']
                          ELSE [] END AS lines
              FROM lb
            ),
            k AS (
              SELECT doc_id, lines,
                     list_filter(lines, l ->
                       (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
                       AND len(string_split(l, ' ')) >= 5
                       AND NOT contains(l, 'javascript')) AS kept,
                     array_to_string(lines, ' ') AS page
              FROM p
            ),
            m AS (
              SELECT doc_id,
                     len(lines)::BIGINT AS n_lines,
                     len(kept)::BIGINT AS n_kept_lines,
                     coalesce(list_sum([len(string_split(l, ' ')) for l in kept]), 0)::BIGINT AS retained_words,
                     coalesce(length(array_to_string(kept, ' '))
                      - length(regexp_replace(array_to_string(kept, ' '), '[.!?]', '', 'g')), 0)::BIGINT AS n_sentences,
                     contains(page, 'lorem ipsum') AS has_lorem,
                     contains(page, '{{') AS has_brace
              FROM k
            )
            SELECT doc_id, n_lines, n_kept_lines, retained_words, n_sentences,
                   has_lorem, has_brace,
                   (NOT has_lorem AND NOT has_brace AND n_sentences >= 3) AS keep_doc
            FROM m
        """)
def q_c4_filters(spark, sf_dir):
    d = _docs(spark, sf_dir)
    d = d.select("doc_id", lower_words("text").alias("ws"))
    n_lines0 = f"greatest((size(ws) + {_C4_LINE_WORDS - 1}) div {_C4_LINE_WORDS}, 1)"
    base_lines = F.expr(
        f"transform(sequence(1, {n_lines0}),"
        f" i -> concat_ws(' ', slice(ws, (i - 1) * {_C4_LINE_WORDS} + 1,"
        f" {_C4_LINE_WORDS}))"
        f" || if((doc_id + i) % 4 != 3, '.', ''))"
    )
    empty = "cast(array() as array<string>)"
    planted = F.expr(
        "concat("
        " if(doc_id % 29 = 11,"
        "  array('lorem ipsum dolor sit amet consectetur adipiscing elit.'),"
        f"  {empty}),"
        " if(doc_id % 31 = 12,"
        f"  array('function demo() {{ return 1; }} end of sample.'), {empty}),"
        " if(doc_id % 37 = 13,"
        f"  array('please enable javascript to view this page.'), {empty}))"
    )
    d = d.select("doc_id", F.concat(base_lines, planted).alias("lines"))
    kept = F.expr(
        "filter(lines, l ->"
        " (endswith(l, '.') or endswith(l, '!') or endswith(l, '?'))"
        " and size(split(l, ' ')) >= 5"
        " and not contains(l, 'javascript'))"
    )
    d = d.select("doc_id", "lines", kept.alias("kept"))
    page = F.concat_ws(" ", F.col("lines"))
    kept_text = F.concat_ws(" ", F.col("kept"))
    n_sentences = (
        F.length(kept_text)
        - F.length(F.regexp_replace(kept_text, r"[.!?]", ""))
    ).cast("long")
    has_lorem = page.contains("lorem ipsum")
    has_brace = page.contains("{")
    out = d.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        F.expr("aggregate(kept, 0L, (a, l) -> a + size(split(l, ' ')))")
        .alias("retained_words"),
        n_sentences.alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
    )
    return out.withColumn(
        "keep_doc",
        ~F.col("has_lorem") & ~F.col("has_brace") & (F.col("n_sentences") >= 3),
    )


# Gopher quality rules (P47): the MassiveText repetition-free heuristic
# filter set (Rae et al. 2021, arXiv:2112.11446 Appendix A) — word-count
# bounds, mean-word-length bounds, symbol-to-word ratio, bullet-line and
# ellipsis-line fractions, alphabetic-word fraction, and the required-
# stopword presence test.  Every predicate is INTEGER arithmetic
# (symbols*10 < words encodes ratio < 0.1) so no division can diverge
# between engines.  Failure cases are PLANTED on deterministic doc
# slices (a 3-bullet tail that stays under the 90% line rule, a
# MOSTLY-bullet slice that trips it, ellipsis lines, a '#' run) because
# the synthetic corpus is single-line prose that would otherwise pass
# everything.  The required-stopword set is CORPUS-ADAPTED: Gopher's
# English function-word set ('be','that','have',...) does not occur in
# this synthetic database-jargon corpus and would fail 92% of docs —
# the rule's intent is "prose contains the corpus' common function
# words", so the set is the corpus' own highest-document-frequency
# words plus its two real function words.  Scale shape: one linear
# scan, pure JVM codegen expressions, no UDF, no shuffle before the
# (tiny) output projection.
_GOPHER_STOPS = "('the','a','data','table','query','row','value','column')"


@oracle(f"""
            WITH pg AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 11 = 2
                          THEN chr(10) || '* item one' || chr(10) ||
                               '* item two' || chr(10) || '* item three'
                          ELSE '' END ||
                     CASE WHEN doc_id % 13 = 4
                          THEN chr(10) || 'to be continued...' || chr(10) ||
                               'and more...'
                          ELSE '' END ||
                     CASE WHEN doc_id % 17 = 6
                          THEN ' ' || repeat('#', 40)
                          ELSE '' END ||
                     CASE WHEN doc_id % 23 = 9
                          THEN {"||".join(f"chr(10) || '* bullet {i}'" for i in range(10))}
                          ELSE '' END AS page
              FROM documents
            ),
            t AS (
              SELECT doc_id, page,
                     CASE WHEN length(trim(regexp_replace(lower(page), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN []
                          ELSE string_split(trim(regexp_replace(lower(page), '[ \t\r\n]+', ' ', 'g')), ' ')
                     END AS ws,
                     string_split(page, chr(10)) AS lines
              FROM pg
            ),
            m AS (
              SELECT doc_id,
                     len(ws)::BIGINT AS n_words,
                     coalesce(list_sum([length(w) for w in ws]), 0)::BIGINT AS tot_chars,
                     len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))::BIGINT AS alpha_words,
                     len(list_intersect(list_distinct(ws),
                         ['the','a','data','table','query','row','value','column']))::BIGINT AS n_req_stops,
                     (length(page) - length(replace(page, '#', ''))
                      + (length(page) - length(replace(page, '...', ''))) // 3
                     )::BIGINT AS n_symbols,
                     len(lines)::BIGINT AS n_lines,
                     len(list_filter(lines, l -> starts_with(ltrim(l), '* ')))::BIGINT AS bullet_lines,
                     len(list_filter(lines, l -> ends_with(rtrim(l), '...')))::BIGINT AS ellipsis_lines
              FROM t
            )
            SELECT doc_id, n_words, tot_chars, n_symbols,
                   bullet_lines, ellipsis_lines,
                   (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
                   (tot_chars >= 3 * n_words AND tot_chars <= 10 * n_words
                    AND n_words > 0) AS pass_mean_wlen,
                   (n_symbols * 10 < n_words) AS pass_symbol_ratio,
                   (bullet_lines * 10 < n_lines * 9) AS pass_bullet,
                   (ellipsis_lines * 10 < n_lines * 3) AS pass_ellipsis,
                   (alpha_words * 10 >= n_words * 8) AS pass_alpha,
                   (n_req_stops >= 2) AS pass_stopwords,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (tot_chars >= 3 * n_words AND tot_chars <= 10 * n_words
                         AND n_words > 0)
                    AND (n_symbols * 10 < n_words)
                    AND (bullet_lines * 10 < n_lines * 9)
                    AND (ellipsis_lines * 10 < n_lines * 3)
                    AND (alpha_words * 10 >= n_words * 8)
                    AND (n_req_stops >= 2)) AS pass_all
            FROM m
        """)
def q_gopher_rules(spark, sf_dir):
    d = _docs(spark, sf_dir)
    page = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 11 == 2,
            F.lit("\n* item one\n* item two\n* item three"),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 13 == 4,
            F.lit("\nto be continued...\nand more..."),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 17 == 6,
            F.concat(F.lit(" "), F.lit("#" * 40)),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 23 == 9,
            F.lit("".join(f"\n* bullet {i}" for i in range(10))),
        ).otherwise(F.lit("")),
    )
    d = gopher_features(
        d.select("doc_id", page.alias("page")), "doc_id", stops=_GOPHER_STOPS
    )
    return d.select(
        "doc_id", "n_words", "tot_chars", "n_symbols",
        "bullet_lines", "ellipsis_lines",
        *gopher_passes(50, pass_stopwords=F.col("n_req_stops") >= 2),
    )


# Fixed-stride chunking (P48): the pretraining/RAG shard-prep op that
# slices every document into overlapping fixed-size word windows
# (64-word chunks, 48-word stride).  Emits narrow rows — chunk index,
# word offsets, and a 16-hex md5 fingerprint of the chunk text instead
# of the text itself (the downstream shard writer or chunk-level dedup
# joins on the fingerprint; shipping raw chunk text would multiply the
# shuffle payload by the overlap factor).  ONE linear scan, one explode,
# no shuffle; empty docs produce no chunks by definition.
_CHUNK_SIZE = 64


_CHUNK_STRIDE = 48


@oracle(f"""
            WITH w AS (
              SELECT doc_id,
                     CASE WHEN length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN []
                          ELSE string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' ')
                     END AS ws
              FROM documents
            ),
            c AS (
              SELECT doc_id, ws, len(ws) AS n_words,
                     unnest(range(1, greatest(len(ws), 1) + 1, {_CHUNK_STRIDE})) AS start_word,
                     generate_subscripts(range(1, greatest(len(ws), 1) + 1, {_CHUNK_STRIDE}), 1) - 1 AS chunk_idx
              FROM w
            )
            SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
                   start_word::BIGINT AS start_word,
                   len(ws[start_word : start_word + {_CHUNK_SIZE} - 1])::BIGINT AS n_chunk_words,
                   substr(md5(array_to_string(ws[start_word : start_word + {_CHUNK_SIZE} - 1], ' ')), 1, 16) AS chunk_md5
            FROM c WHERE start_word <= n_words
        """)
def q_chunk_windows(spark, sf_dir):
    d = _docs(spark, sf_dir)
    w = d.select("doc_id", lower_words("text").alias("ws"))
    starts = F.expr(
        f"sequence(1, greatest(size(ws), 1), {_CHUNK_STRIDE})"
    )
    chunks = (
        w.select("doc_id", F.size("ws").alias("n_words"),
                 "ws", F.posexplode(starts).alias("chunk_idx", "start_word"))
        .filter(F.col("start_word") <= F.col("n_words"))
    )
    piece = F.expr(f"slice(ws, start_word, {_CHUNK_SIZE})")
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_word").cast("long").alias("start_word"),
        F.size(piece).cast("long").alias("n_chunk_words"),
        F.substring(F.md5(F.concat_ws(" ", piece)), 1, 16).alias("chunk_md5"),
    )


# Sequence packing (P49): concat-and-chop packing of documents into
# fixed token-budget bins (the standard pretraining batch-prep step —
# documents are concatenated in a deterministic order and chopped every
# B tokens, so a document can SPAN adjacent bins).  A single global
# concatenation order would serialize at 100 TB, so packing runs per
# (lang, shard) with shard = doc_id % 32 — embarrassingly parallel, and
# the cumulative-offset window is one exchange on the (lang, shard) key.
# Output per doc: its word-offset interval within the shard stream and
# the first/last bin it lands in — all integer, any parallelism.
_PACK_BIN = 256


_PACK_SHARDS = 32


@oracle(f"""
            WITH w AS (
              SELECT doc_id, lang,
                     (doc_id % {_PACK_SHARDS})::BIGINT AS shard,
                     CASE WHEN length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN 0
                          ELSE len(string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' '))
                     END::BIGINT AS n_words
              FROM documents
            ),
            c AS (
              SELECT *, sum(n_words) OVER (PARTITION BY lang, shard
                                           ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
              FROM w
            )
            SELECT doc_id, lang, shard, n_words,
                   (cum - n_words)::BIGINT AS start_off,
                   ((cum - n_words) // {_PACK_BIN})::BIGINT AS bin_first,
                   CASE WHEN n_words > 0 THEN (cum - 1) // {_PACK_BIN}
                        ELSE (cum - n_words) // {_PACK_BIN} END::BIGINT AS bin_last
            FROM c
        """)
def q_pack_sequences(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_words = F.size(lower_words("text")).cast("long")
    w = d.select(
        "doc_id", "lang",
        (F.col("doc_id") % _PACK_SHARDS).cast("long").alias("shard"),
        n_words.alias("n_words"),
    )
    win = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = w.withColumn("cum", F.sum("n_words").over(win))
    start = F.col("cum") - F.col("n_words")
    return w.select(
        "doc_id", "lang", "shard", "n_words",
        start.alias("start_off"),
        F.expr(f"(cum - n_words) div {_PACK_BIN}").alias("bin_first"),
        F.when(F.col("n_words") > 0, F.expr(f"(cum - 1) div {_PACK_BIN}"))
        .otherwise(F.expr(f"(cum - n_words) div {_PACK_BIN}"))
        .alias("bin_last"),
    )


# Benchmark decontamination (P36): the GPT-3-style eval-overlap scrub a
# training pipeline runs before any model sees the corpus — documents
# sharing any 13-gram with a held-out benchmark set are flagged.  The
# "benchmark" is a deterministic doc slice (doc_id % 97 == 0) and
# contamination is PLANTED by appending a benchmark doc's first-13-word
# snippet to corpus docs on a second deterministic slice (doc_id % 13
# == 5, snippet keyed by doc_id % 5), so non-trivial hits exist at
# every sf and both engines build identical inputs.  Scale shape:
# benchmark suites are TINY (MMLU-sized) next to a 100 TB corpus, so
# the distinct benchmark-gram table broadcasts; the corpus side is one
# linear scan emitting 16-hex md5 gram fingerprints (fixed-width join
# keys, ~10x less shuffle/broadcast payload than raw 13-word strings)
# probed map-side — no shuffle of corpus grams at all; explode_outer
# keeps sub-13-word docs in the report with n_grams = 0.
_DECON_BENCH_MOD = 97


_DECON_PLANT_MOD = 13


_DECON_PLANT_RES = 5


@oracle(f"""
            WITH docs AS (
              SELECT doc_id, string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM documents
            ),
            bench AS (
              SELECT doc_id, ws FROM docs
              WHERE doc_id % {_DECON_BENCH_MOD} = 0
            ),
            bgrams AS (
              SELECT DISTINCT substr(md5(g), 1, 16) AS gh FROM (
                SELECT unnest(list_transform(
                         range(1, greatest(len(ws) - {_DECON_GRAM - 1}, 0) + 1),
                         i -> array_to_string(
                           ws[i:i + {_DECON_GRAM - 1}], ' '))) AS g
                FROM bench
              )
            ),
            corpus AS (
              SELECT c.doc_id,
                     CASE WHEN s.snip IS NOT NULL
                          THEN list_concat(c.ws, s.snip) ELSE c.ws END AS ws
              FROM (
                SELECT doc_id, ws,
                       CASE WHEN doc_id % {_DECON_PLANT_MOD} = {_DECON_PLANT_RES}
                            THEN doc_id % {_DECON_PLANT_RES} END AS bk
                FROM docs WHERE doc_id % {_DECON_BENCH_MOD} <> 0
              ) c
              LEFT JOIN (
                SELECT doc_id // {_DECON_BENCH_MOD} AS bk,
                       ws[1:{_DECON_GRAM}] AS snip
                FROM bench
              ) s ON c.bk = s.bk
            ),
            cg AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(1, greatest(len(ws) - {_DECON_GRAM - 1}, 0) + 1),
                       i -> substr(md5(array_to_string(
                         ws[i:i + {_DECON_GRAM - 1}], ' ')), 1, 16))) AS gh
              FROM corpus
            )
            SELECT c.doc_id,
                   count(cg.gh)::BIGINT AS n_grams,
                   count(b.gh)::BIGINT AS n_hits,
                   (count(b.gh) > 0) AS contaminated
            FROM corpus c
            LEFT JOIN cg ON c.doc_id = cg.doc_id
            LEFT JOIN bgrams b ON cg.gh = b.gh
            GROUP BY c.doc_id
        """)
def q_decontaminate(spark, sf_dir):
    d = _docs_wide(spark, sf_dir)
    w = d.select("doc_id", letter_words().alias("ws"))
    bench = w.filter(F.col("doc_id") % _DECON_BENCH_MOD == 0)
    bench_grams = (
        bench.select(F.explode(gram_fingerprints("ws", _DECON_GRAM)).alias("gh"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    snip = bench.select(
        F.floor(F.col("doc_id") / _DECON_BENCH_MOD).cast("long").alias("bk"),
        F.slice("ws", 1, _DECON_GRAM).alias("snip"),
    )
    corpus = (
        w.filter(F.col("doc_id") % _DECON_BENCH_MOD != 0)
        .withColumn(
            "bk",
            F.when(
                F.col("doc_id") % _DECON_PLANT_MOD == _DECON_PLANT_RES,
                F.col("doc_id") % _DECON_PLANT_RES,
            ),
        )
        .join(F.broadcast(snip), "bk", "left")
        .select(
            "doc_id",
            F.when(
                F.col("snip").isNotNull(), F.concat("ws", "snip")
            ).otherwise(F.col("ws")).alias("ws"),
        )
    )
    return (
        corpus.select(
            "doc_id",
            F.explode_outer(gram_fingerprints("ws", _DECON_GRAM)).alias("gh"),
        )
        .join(F.broadcast(bench_grams), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gh").cast("long").alias("n_grams"),
            F.count("hit").cast("long").alias("n_hits"),
            (F.count("hit") > 0).alias("contaminated"),
        )
    )
