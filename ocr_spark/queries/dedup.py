"""Deduplication driver queries: exact, paragraph, span and URL dedup,
fuzzy joins, n-gram Jaccard, MinHash+LSH, SimHash and the near-dup
cluster passes, each beside its DuckDB oracle."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ocr_spark.functions.text import (
    gram_fingerprints,
    letter_words,
    md5_long,
    word3_shingles,
)
from ocr_spark.queries.common import (
    _STOPWORDS,
    _docs,
    _docs_wide,
    _quality_fp,
    _tbl,
    _with_planted_twins,
    oracle,
)
from ocr_spark.streaming.neardup import (
    M31 as _M31,
    MINHASH_A as _MINHASH_A,
    MINHASH_B as _MINHASH_B,
    minhash,
    minhash_bands,
    shingle_fp,
)


# Cross-engine deterministic hashing: md5_long(s) = int64 of the first 15
# hex chars of md5(s) (60 bits, identical in Spark `conv(substr(md5(x),1,
# 15),16,10)` and DuckDB `('0x'||substr(md5(x),1,15))::BIGINT`); MinHash
# reduces it mod the Mersenne prime M31 (ocr_spark/streaming/neardup.py).


def _docs_with_planted_dups(spark, sf_dir: str) -> DataFrame:
    """documents plus planted near-duplicates: doc_id < 25 re-emitted as
    doc_id + 1000000 with the first 3 words dropped."""
    return _with_planted_twins(
        _docs_wide(spark, sf_dir).select("doc_id", "text"), "doc_id", "text",
        25, F.expr("concat_ws(' ', slice(split(text, ' '), 4, 1000000))"),
    )


def _shingle_fps(alld: DataFrame, fp) -> DataFrame:
    """(doc_id, fp): `fp` of each distinct word-3-gram shingle string
    (shingle_fp is the md5 prefix mod M31 MinHash hashes, md5_long the
    full 60-bit prefix SimHash needs).  The split array is materialized
    once per row (inlining split() into the lambda is O(words^2))."""
    words = alld.select("doc_id", F.split("text", " ").alias("w"))
    return words.select(
        "doc_id", F.explode(word3_shingles("w")).alias("sh_str")
    ).select("doc_id", fp(F.col("sh_str")).alias("fp"))


# DuckDB twins of the helpers above (composed into oracle SQL below).
_SQL_ALLD = """
  alld AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(string_split(text, ' ')[4:], ' ') AS text
    FROM documents WHERE doc_id < 25
  )
"""


def _sql_shingle_fps(reduce: str) -> str:
    """DuckDB twin of _shingle_fps over alld: `reduce` follows the 60-bit
    md5 prefix (" % 2147483647" for shingle_fp, "" for md5_long)."""
    return _SQL_ALLD + """,
  sh AS (
    SELECT doc_id,
           unnest(list_distinct([
             array_to_string([w[i], w[i+1], w[i+2]], ' ')
             for i in range(1, greatest(len(w) - 2, 0) + 1)
           ])) AS sh_str
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM alld)
  ),
  fps AS (
    SELECT doc_id,
           ('0x' || substr(md5(sh_str), 1, 15))::BIGINT""" + reduce + """ AS fp
    FROM sh
  )
"""


_SQL_SHINGLE_FPS = _sql_shingle_fps(" % 2147483647")


_SQL_SHINGLE_FPS64 = _sql_shingle_fps("")


# Full MinHash+LSH near-dup query in DuckDB (module-level so the dedup-
# clustering oracle can nest it as its pair source).
_SQL_MINHASH_LSH = f"""
    WITH {_SQL_SHINGLE_FPS},
    ks AS (
      SELECT doc_id, fp, unnest([0,1,2,3,4,5,6,7]) AS k FROM fps
    ),
    h AS (
      SELECT doc_id, k,
             ({_MINHASH_A}[k+1] * fp + {_MINHASH_B}[k+1]) % {_M31} AS h
      FROM ks
    ),
    sig AS (SELECT doc_id, k, min(h) AS mh FROM h GROUP BY 1, 2),
    bands AS (
      SELECT doc_id, k // 2 AS band,
             min(CASE WHEN k % 2 = 0 THEN mh END) AS mh0,
             min(CASE WHEN k % 2 = 1 THEN mh END) AS mh1
      FROM sig GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.mh0 = b.mh0 AND a.mh1 = b.mh1
       AND a.doc_id < b.doc_id
    ),
    n AS (SELECT doc_id, count(*) AS n_sh FROM fps GROUP BY 1),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*)::DOUBLE AS shared
      FROM cand c
      JOIN fps fa ON fa.doc_id = c.doc_a
      JOIN fps fb ON fb.doc_id = c.doc_b AND fb.fp = fa.fp
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           floor(shared * 1000000.0 / (na.n_sh + nb.n_sh - shared))::BIGINT AS jaccard_fp
    FROM shared
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE floor(shared * 1000000.0 / (na.n_sh + nb.n_sh - shared)) >= 500000
"""


# Paragraph-level boilerplate dedup (P33): the CCNet-shaped pass that
# removes paragraphs repeated across the corpus (cookie banners,
# nav/footer text) while keeping the documents themselves.  The corpus
# has no newlines, so "paragraphs" are deterministic 5-word chunks of
# the canonical word stream, with boilerplate sentences PLANTED on
# deterministic doc slices (the same pattern as the planted near-dups
# and PMI collocations).  Scale shape: the chunk table is materialized
# ONCE (agg side + join-back side — exchange reuse does not fire across
# self-references, PLANS.md), the global paragraph-count aggregate is a
# linear hash agg, and the join-back touches only the FILTERED hot set
# (count >= K) — tiny by Zipf at any corpus size — via a BROADCAST left
# join, never the full paragraph-count table.  Reassembly state is
# bounded by single-document size (collect_list of a doc's own chunks).
_PARA_WORDS = 5


_PARA_BOILER_MIN = 20


@oracle(f"""
            WITH planted AS (
              SELECT doc_id, CASE
                       WHEN doc_id % 4 = 1
                         THEN text || ' subscribe to our newsletter today'
                       WHEN doc_id % 6 = 3
                         THEN text || ' all rights reserved worldwide'
                       ELSE text
                     END AS text
              FROM documents
            ),
            docs AS (
              SELECT doc_id, string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM planted
            ),
            paras AS (
              SELECT doc_id,
                     unnest(range(1, (len(ws) + {_PARA_WORDS - 1}) // {_PARA_WORDS} + 1)) AS pos,
                     unnest(list_transform(
                       range(1, (len(ws) + {_PARA_WORDS - 1}) // {_PARA_WORDS} + 1),
                       i -> array_to_string(
                         ws[((i-1) * {_PARA_WORDS} + 1):(i * {_PARA_WORDS})], ' ')
                     )) AS para
              FROM docs
            ),
            boiler AS (
              SELECT para FROM paras GROUP BY para
              HAVING count(*) >= {_PARA_BOILER_MIN}
            )
            SELECT p.doc_id, count(*)::BIGINT AS n_paras,
                   sum(CASE WHEN b.para IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                     AS n_boiler,
                   coalesce(string_agg(CASE WHEN b.para IS NULL THEN p.para END,
                                       ' ' ORDER BY p.pos), '') AS clean_text
            FROM paras p LEFT JOIN boiler b ON p.para = b.para
            GROUP BY 1
        """)
def q_para_dedup(spark, sf_dir):
    d = _docs_wide(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.col("text"), F.lit(" subscribe to our newsletter today")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(F.col("text"), F.lit(" all rights reserved worldwide")),
        )
        .otherwise(F.col("text")),
    )
    chunks = F.expr(
        f"transform(sequence(1, (size(ws) + {_PARA_WORDS - 1}) div {_PARA_WORDS}),"
        f" i -> array_join(slice(ws, (i-1) * {_PARA_WORDS} + 1, {_PARA_WORDS}), ' '))"
    )
    paras = (
        d.select("doc_id", letter_words().alias("ws"))
        .select("doc_id", F.posexplode(chunks).alias("pos", "para"))
        .localCheckpoint(eager=False)
    )
    boiler = (
        paras.groupBy("para")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= _PARA_BOILER_MIN)
        .withColumn("is_boiler", F.lit(1))
    )
    tagged = paras.join(
        F.broadcast(boiler.select("para", "is_boiler")), "para", "left"
    ).withColumn("is_boiler", F.coalesce(F.col("is_boiler"), F.lit(0)))
    kept = F.array_sort(
        F.collect_list(
            F.when(
                F.col("is_boiler") == 0,
                F.struct(F.col("pos"), F.col("para")),
            )
        )
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum("is_boiler").cast("long").alias("n_boiler"),
        F.array_join(
            F.transform(kept, lambda s: s.getField("para")), " "
        ).alias("clean_text"),
    )


# Exact-substring span dedup (P40): the "Deduplicating Training Data
# Makes Language Models Better" pass — find 20-word spans repeated
# across DISTINCT documents (a planted 25-word license paragraph,
# prepended on one deterministic doc slice and appended on another, so
# both interval positions occur), merge each doc's flagged overlapping
# spans into intervals (gaps-and-islands: same-length spans merge when
# start deltas <= span length), and report per-doc removed/kept word
# counts.  Scale shape: the positional 20-gram stream is ONE linear
# scan emitting (xxhash64, doc_id, pos); the repeated-gram set is a
# spans repeated across DISTINCT documents (countDistinct(doc_id) >= 2
# over fixed-width 16-hex md5 gram fingerprints — the engine-portable
# key of P36) whose survivors are Zipf-small at any corpus size ->
# BROADCAST back onto the gram stream (the para-dedup P33 argument);
# island detection is a per-doc window
# over only the FLAGGED positions (bounded by doc length).  The word
# table is materialized once across the gram and count sides.
_SPAN_GRAM = 20


_SPAN_LICENSE = (
    "this work is licensed under the creative commons attribution share"
    " alike license and may be redistributed with attribution provided"
    " this notice is preserved intact"
)


@oracle(f"""
            WITH planted AS (
              SELECT doc_id, CASE
                       WHEN doc_id % 9 = 2
                         THEN '{_SPAN_LICENSE} ' || text
                       WHEN doc_id % 9 = 4
                         THEN text || ' {_SPAN_LICENSE}'
                       ELSE text
                     END AS text
              FROM documents
            ),
            words AS (
              SELECT doc_id, string_split(trim(regexp_replace(
                       lower(trim(regexp_replace(text, '[^A-Za-z ]', ' ', 'g'))),
                       ' +', ' ', 'g')), ' ') AS ws
              FROM planted
            ),
            g AS (
              SELECT doc_id, pos, substr(md5(gram), 1, 16) AS gh FROM (
                SELECT doc_id,
                       unnest(range(1, greatest(len(ws) - {_SPAN_GRAM - 1}, 0) + 1)) AS pos,
                       unnest(list_transform(
                         range(1, greatest(len(ws) - {_SPAN_GRAM - 1}, 0) + 1),
                         i -> array_to_string(ws[i:i + {_SPAN_GRAM - 1}], ' '))) AS gram
                FROM words
              )
            ),
            repeated AS (
              SELECT gh FROM g GROUP BY gh
              HAVING count(DISTINCT doc_id) >= 2
            ),
            flagged AS (
              SELECT g.doc_id, g.pos FROM g JOIN repeated r ON g.gh = r.gh
            ),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL
                                OR pos - prev > {_SPAN_GRAM} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS isl
              FROM (
                SELECT doc_id, pos,
                       lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                FROM flagged
              )
            ),
            per_isl AS (
              SELECT doc_id, isl, count(*) AS n_flagged,
                     max(pos) - min(pos) + {_SPAN_GRAM} AS ivl_words
              FROM isl GROUP BY 1, 2
            ),
            per_doc AS (
              SELECT doc_id, sum(n_flagged)::BIGINT AS n_flagged,
                     count(*)::BIGINT AS n_intervals,
                     sum(ivl_words)::BIGINT AS removed_words
              FROM per_isl GROUP BY 1
            )
            SELECT w.doc_id, len(w.ws)::BIGINT AS n_words,
                   coalesce(p.n_flagged, 0)::BIGINT AS n_flagged,
                   coalesce(p.n_intervals, 0)::BIGINT AS n_intervals,
                   coalesce(p.removed_words, 0)::BIGINT AS removed_words,
                   (len(w.ws) - coalesce(p.removed_words, 0))::BIGINT
                     AS kept_words
            FROM words w LEFT JOIN per_doc p ON w.doc_id = p.doc_id
        """)
def q_span_dedup(spark, sf_dir):
    d = _docs_wide(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 2,
            F.concat(F.lit(_SPAN_LICENSE + " "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 9 == 4,
            F.concat(F.col("text"), F.lit(" " + _SPAN_LICENSE)),
        )
        .otherwise(F.col("text")),
    )
    words = d.select("doc_id", letter_words().alias("ws")).localCheckpoint(
        eager=False
    )
    g = words.select(
        "doc_id",
        F.posexplode(gram_fingerprints("ws", _SPAN_GRAM)).alias("pos0", "gh"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")
    repeated = (
        g.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    flagged = g.join(F.broadcast(repeated), "gh")
    w = Window.partitionBy("doc_id").orderBy("pos")
    isl = (
        flagged.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > _SPAN_GRAM),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "isl",
            F.sum("brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "isl")
        .agg(
            F.count(F.lit(1)).alias("n_flagged"),
            (F.max("pos") - F.min("pos") + _SPAN_GRAM).alias("ivl_words"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("n_flagged").cast("long").alias("n_flagged"),
            F.count(F.lit(1)).cast("long").alias("n_intervals"),
            F.sum("ivl_words").cast("long").alias("removed_words"),
        )
    )
    return (
        words.select("doc_id", F.size("ws").cast("long").alias("n_words"))
        .join(isl, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.coalesce("n_flagged", F.lit(0)).cast("long").alias("n_flagged"),
            F.coalesce("n_intervals", F.lit(0)).cast("long")
            .alias("n_intervals"),
            F.coalesce("removed_words", F.lit(0)).cast("long")
            .alias("removed_words"),
            (
                F.col("n_words") - F.coalesce("removed_words", F.lit(0))
            ).cast("long").alias("kept_words"),
        )
    )


# Fuzzy record-linkage join (P38): entity resolution by BLOCKING +
# bounded edit-distance verify — the classic "dirty catalog" linkage
# (Fellegi-Sunter / dedupe-style): a perturbed record side (2nd char
# deleted on a deterministic key slice) is matched back to the clean
# entity catalog by argmin levenshtein WITHIN a block, never globally.
# Scale shape: the all-pairs O(N*M) levenshtein cross product is
# replaced by an equi-join on the blocking key (last name token, which
# the perturbation provably never touches), so candidates per record =
# catalog entities per block (bounded); the entity catalog is the small
# dimension side -> broadcast, zero shuffle of the record side beyond
# the per-record argmin window (high-cardinality uniform partition
# key).  If BOTH sides were corpus-sized the same plan becomes a
# blocking-key shuffle join with the P31-style salt for hot blocks.
# Ties break (dist, name) lexicographically so the argmin is
# deterministic in both engines.
@oracle("""
            WITH dirty AS (
              SELECT p_partkey,
                     CASE WHEN p_partkey % 3 = 0
                          THEN substr(p_name, 1, 1) || substr(p_name, 3)
                          ELSE p_name END AS dirty_name
              FROM part
            ),
            catalog AS (SELECT DISTINCT p_name AS cname FROM part),
            cand AS (
              SELECT d.p_partkey, d.dirty_name, c.cname,
                     levenshtein(d.dirty_name, c.cname) AS dist
              FROM dirty d JOIN catalog c
                ON string_split(d.dirty_name, ' ')[-1]
                 = string_split(c.cname, ' ')[-1]
            )
            SELECT p_partkey, dirty_name, cname AS matched_name,
                   dist::BIGINT AS dist
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY p_partkey ORDER BY dist, cname) AS rn
              FROM cand
            ) WHERE rn = 1
        """)
def q_fuzzy_join(spark, sf_dir):
    p = _tbl(spark, sf_dir, "part").select("p_partkey", "p_name")
    catalog = (
        p.select(F.col("p_name").alias("cname"))
        .distinct()
        .withColumn("blk", F.element_at(F.split("cname", " "), -1))
    )
    dirty = p.select(
        "p_partkey",
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(
                F.substring("p_name", 1, 1), F.expr("substring(p_name, 3)")
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("dirty_name"),
    ).withColumn("blk", F.element_at(F.split("dirty_name", " "), -1))
    cand = dirty.join(F.broadcast(catalog), "blk").withColumn(
        "dist", F.levenshtein("dirty_name", "cname")
    )
    w = Window.partitionBy("p_partkey").orderBy("dist", "cname")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "dirty_name",
            F.col("cname").alias("matched_name"),
            F.col("dist").cast("long").alias("dist"),
        )
    )


# URL/domain curation (P52): the C4/CommonCrawl URL-pipeline stage —
# canonicalize a document URL, extract its registrable domain, drop
# blocklisted domains, and keep ONE document per canonical URL (crawls
# re-fetch the same URL across snapshots; URL-level keep-first is the
# cheapest dedup tier, applied before any content hashing).  URLs are
# SYNTHESIZED deterministically from the corpus' (source, doc_id)
# columns — http/https scheme, a www. prefix on one slice, a tracking
# query string on another, and a re-fetch alias (doc_id mod collision)
# so canonicalization and URL-dedup both have real work at every sf.
# Scale shape: the blocklist is tiny (broadcast anti-join), domain
# extraction is regexp on a linear scan, and keep-first is a hash agg
# on the canonical-url key.  Output: one row per surviving canonical
# URL with its keeper doc and re-fetch count.
_URL_BLOCKLIST = "('src3.example.com','src7.example.com','src13.example.com')"


@oracle(f"""
            WITH u AS (
              SELECT doc_id, source,
                     (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||
                      CASE WHEN doc_id % 5 = 1 THEN 'www.' ELSE '' END ||
                      source || '.example.com/p/' || (doc_id % 7)::VARCHAR ||
                      CASE WHEN doc_id % 3 = 2 THEN '?utm_source=feed' ELSE '' END
                     ) AS url
              FROM documents
            ),
            c AS (
              SELECT doc_id, url,
                     regexp_replace(regexp_replace(url, '^https?://(www\\.)?', ''),
                                    '\\?.*$', '') AS canon_url
              FROM u
            ),
            d AS (
              SELECT doc_id, url, canon_url,
                     regexp_extract(canon_url, '^([^/]+)', 1) AS domain
              FROM c
            )
            SELECT canon_url, domain,
                   min(doc_id) AS keep_id,
                   count(*)::BIGINT AS n_fetches,
                   sum(doc_id)::BIGINT AS fetch_id_sum
            FROM d
            WHERE domain NOT IN {_URL_BLOCKLIST}
            GROUP BY 1, 2
        """)
def q_url_dedup(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "source")
    # deterministic synthetic URL: scheme varies by parity, one slice
    # gets a www. prefix, one a tracking query; doc_id div 7 aliases
    # several docs onto one path (the re-fetch)
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when(F.col("doc_id") % 5 == 1, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".example.com/p/"),
        (F.col("doc_id") % 7).cast("string"),
        F.when(
            F.col("doc_id") % 3 == 2, F.lit("?utm_source=feed")
        ).otherwise(F.lit("")),
    )
    d = d.select("doc_id", "source", url.alias("url"))
    # canonicalization: strip scheme, www., and the query string
    canon = F.regexp_replace(
        F.regexp_replace(F.col("url"), r"^https?://(www\.)?", ""),
        r"\?.*$", "",
    )
    host = F.regexp_extract(canon, r"^([^/]+)", 1)
    d = d.select("doc_id", "url", canon.alias("canon_url"), host.alias("domain"))
    block = spark.createDataFrame(
        [(h.strip("'"),) for h in _URL_BLOCKLIST.strip("()").split(",")],
        "domain string",
    )
    kept = d.join(F.broadcast(block), "domain", "left_anti")
    return (
        kept.groupBy("canon_url", "domain")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_fetches"),
            F.sum("doc_id").cast("long").alias("fetch_id_sum"),
        )
    )


# Exact dedup: hash-groupBy on md5(text); keeper = min(doc_id).
@oracle("""
            SELECT md5(text) AS text_md5,
                   min(doc_id) AS keep_id,
                   count(*)::BIGINT AS n_dups
            FROM documents GROUP BY 1
        """)
def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_dups"),
        )
    )


def _jaccard_pairs(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard_fp) for the pairs whose exact fixed-point
    Jaccard, shared / (n_a + n_b - shared), is at least 0.5."""
    jac = F.floor(
        F.col("shared") * F.lit(1000000.0)
        / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    )
    return pairs.select(
        "doc_a", "doc_b", jac.cast("long").alias("jaccard_fp")
    ).filter(F.col("jaccard_fp") >= 500000)


# n-gram Jaccard near-dup: word 3-gram shingles; planted duplicates
# (docs with doc_id < 25 re-emitted under doc_id + 1000000 with the first
# 3 words dropped) guarantee non-trivial pairs at every sf.
#
# ORACLE-BASELINE-ONLY: this is the exact all-pairs formulation, kept to
# validate q_minhash_lsh (the scale path).  Its shingle self-join is
# quadratic in colliding docs — never run it at production scale.
@oracle("""
            WITH alld AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id,
                     array_to_string(string_split(text, ' ')[4:], ' ') AS text
              FROM documents WHERE doc_id < 25
            ),
            sh AS (
              SELECT doc_id,
                     unnest(list_distinct([
                       array_to_string([w[i], w[i+1], w[i+2]], ' ')
                       for i in range(1, greatest(len(w) - 2, 0) + 1)
                     ])) AS sh
              FROM (SELECT doc_id, string_split(text, ' ') AS w FROM alld)
            ),
            n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            pairs AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::DOUBLE AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   floor(shared * 1000000.0 / (na.n_sh + nb.n_sh - shared))::BIGINT AS jaccard_fp
            FROM pairs
            JOIN n na ON na.doc_id = doc_a
            JOIN n nb ON nb.doc_id = doc_b
            WHERE floor(shared * 1000000.0 / (na.n_sh + nb.n_sh - shared)) >= 500000
        """)
def q_ngram_jaccard(spark, sf_dir):
    # join on a 64-bit shingle hash, not the shingle string: ~10x less
    # shuffle payload and long-key hash join.  xxhash64 collisions across
    # ~N*100 distinct shingles are negligible (<<1e-9 at any tested sf)
    # and would only perturb one pair's `shared` count by 1.
    s = _shingle_fps(_docs_with_planted_dups(spark, sf_dir), F.xxhash64)
    n = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = s.alias("a")
    b = s.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = n.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return _jaccard_pairs(pairs.join(na, "doc_a").join(nb, "doc_b"))


# Prefix-filtering EXACT Jaccard join (the published scale path for
# exact set-similarity joins): core in ocr_spark/operators/setsim.py —
# rarest-first prefixes exclude hot stopword shingles from the candidate
# equi-join, then exact array-intersect verification.  LOSSLESS: the
# result set equals q_ngram_jaccard's exactly (same oracle), unlike the
# probabilistic MinHash/SimHash paths.  tools/skew_stress.py drives the
# adversarial all-docs-share-a-stopword-core corpus through the same
# operator and pins near-linearity.
@oracle(q_ngram_jaccard.oracle)
def q_jaccard_prefix_join(spark, sf_dir):
    from ocr_spark.operators.setsim import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _docs_with_planted_dups(spark, sf_dir), tau=0.5
    )


# MinHash + LSH near-dup (the scale path for q_ngram_jaccard): K=8 affine
# min-hashes over shingle fingerprints, banded 4x2; docs sharing any band
# become candidates; candidates are verified with EXACT Jaccard >= 0.5.
# At 100 TB this replaces the all-pairs shingle join with a band-bucket
# equi-join whose cost is ~linear in corpus size; both engines run the
# identical deterministic banding, so results match by construction.
@oracle(_SQL_MINHASH_LSH)
def q_minhash_lsh(spark, sf_dir):
    # The shingle table is MATERIALIZED once (localCheckpoint — the
    # sandbox stand-in for writing the signature/shingle table to
    # storage, which is what a production dedup pipeline does): it is
    # referenced by the signature aggregate AND both sides of the
    # candidate-verify self-join, and Spark's exchange reuse does NOT
    # fire across self-join aliases (measured: 12 corpus scans / 0
    # ReusedExchange before this; 1 corpus scan after).  The shingle
    # table is (doc_id, int64) — far smaller than the corpus text it
    # derives from, so materializing is strictly cheaper than ONE
    # rescan, let alone five.
    s = _shingle_fps(
        _docs_with_planted_dups(spark, sf_dir), shingle_fp
    ).localCheckpoint(eager=False)
    # all K min-hashes AND the per-doc shingle count in ONE aggregation
    # over the raw shingle rows (no x8 explode): 8x less pre-shuffle data,
    # map-side partial mins, and one fewer recompute of the shingle
    # subtree (the count previously came from a separate groupBy)
    sig = s.groupBy("doc_id").agg(
        *[
            F.min(minhash(k, F.col("fp"))).alias(f"mh{k}")
            for k in range(8)
        ],
        F.count(F.lit(1)).alias("n_sh"),
    ).localCheckpoint(eager=False)      # tiny; self-joined via bands
    # n_sh RIDES THROUGH the band rows and the candidate join, so the
    # exact-verify stage needs no join back to the signature table
    # (which would re-run its aggregation twice — self-join aliases get
    # no exchange reuse)
    bands = sig.select(
        "doc_id", "n_sh", F.explode(minhash_bands()).alias("b")
    ).select("doc_id", "n_sh", "b.band", "b.mh0", "b.mh1")
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.band") == F.col("bb.band"))
            & (F.col("ba.mh0") == F.col("bb.mh0"))
            & (F.col("ba.mh1") == F.col("bb.mh1"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
            F.col("ba.n_sh").alias("n_a"),
            F.col("bb.n_sh").alias("n_b"),
        )
        .distinct()
    )
    sa = s.select(F.col("doc_id").alias("doc_a"), "fp")
    sb = s.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "fp"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("double").alias("shared"))
    )
    return _jaccard_pairs(shared)


# SimHash width: 60 feature bits (the full md5-prefix fingerprint) in a
# 64-bit container.  Round 1 used 32 bits with 8-bit bands -> only 4x256
# distinct band keys, so at 10^9 docs every band bucket held ~N/256 docs
# and the band join went quadratic.  With 4x15-bit bands the key space
# per band is 2^15 ~ 32k, and band-key cardinality tracks corpus
# diversity instead of saturating.
_SIMHASH_BITS = 60


_SIMHASH_BAND_WIDTH = 15  # 4 bands x 15 bits = 60


def _simhash_df(spark, sf_dir):
    """(doc_id, simhash): 60-bit SimHash over full-width shingle
    fingerprints — bit i is set iff more shingles have bit i set than
    clear (2*count_set > n_shingles).  Shingle features (not words) keep
    the fingerprints diverse under the small fixture vocabulary.

    The 60 per-bit counters are PACKED 3-per-long into 21-bit fields, so
    the aggregation computes 20 packed sums + 1 count instead of 60
    sums (~2.5x faster; exact integer arithmetic, so the result — and
    the DuckDB oracle, which keeps the unpacked formulation — is
    unchanged).  Field-width bound: a document must have < 2^21 (~2M)
    shingles; at wider documents, widen the field / add lanes.
    """
    s = _shingle_fps(_docs_with_planted_dups(spark, sf_dir), md5_long)
    pack, field = 3, 21
    n_lanes = _SIMHASH_BITS // pack
    lanes = [
        F.sum(
            F.expr(
                " + ".join(
                    f"shiftleft(shiftright(fp, {pack * j + t}) & 1, {field * t})"
                    for t in range(pack)
                )
            )
        ).alias(f"l{j}")
        for j in range(n_lanes)
    ]
    agg = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"), *lanes)

    def cnt(b):
        return F.expr(
            f"shiftright(l{b // pack}, {field * (b % pack)}) & {(1 << field) - 1}"
        )

    simhash = sum(
        F.when(cnt(b) * 2 > F.col("n_sh"), F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(_SIMHASH_BITS)
    )
    return agg.select("doc_id", simhash.cast("long").alias("simhash"))


@oracle(f"""
            WITH {_SQL_SHINGLE_FPS64},
            bits AS (
              SELECT doc_id, fp, unnest(range({_SIMHASH_BITS})) AS b FROM fps
            ),
            sgn AS (
              SELECT doc_id, b, sum(((fp >> b) & 1) * 2 - 1) AS s
              FROM bits GROUP BY 1, 2
            )
            SELECT doc_id,
                   sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
            FROM sgn GROUP BY doc_id
        """)
def q_simhash(spark, sf_dir):
    return _simhash_df(spark, sf_dir)


# SimHash near-dup: hamming(simhash_a, simhash_b) <= 3.  Banding the 60
# bits into 4x15-bit bands makes this EXACT at scale: 3 differing bits
# cannot touch all 4 bands (pigeonhole), so every qualifying pair shares
# at least one exact band and is found by the band equi-join.  15-bit
# band keys (vs round 1's 8-bit bytes) keep band buckets small as the
# corpus grows — the band-join stays ~linear instead of quadratic.
@oracle(f"""
            WITH {_SQL_SHINGLE_FPS64},
            bits AS (
              SELECT doc_id, fp, unnest(range({_SIMHASH_BITS})) AS b FROM fps
            ),
            sgn AS (
              SELECT doc_id, b, sum(((fp >> b) & 1) * 2 - 1) AS s
              FROM bits GROUP BY 1, 2
            ),
            sim AS (
              SELECT doc_id,
                     sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS simhash
              FROM sgn GROUP BY doc_id
            ),
            banded AS (
              SELECT doc_id, simhash, j,
                     (simhash >> ({_SIMHASH_BAND_WIDTH} * j))
                       & {(1 << _SIMHASH_BAND_WIDTH) - 1} AS band_key
              FROM (SELECT doc_id, simhash, unnest([0,1,2,3]) AS j FROM sim)
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     a.simhash AS sim_a, b.simhash AS sim_b
              FROM banded a JOIN banded b
                ON a.j = b.j AND a.band_key = b.band_key AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   bit_count(xor(sim_a, sim_b))::BIGINT AS hamming
            FROM pairs
            WHERE bit_count(xor(sim_a, sim_b)) <= 3
        """)
def q_simhash_neardup(spark, sf_dir):
    # materialize the (doc_id, simhash) table once — the band self-join
    # evaluates its subtree twice otherwise (no exchange reuse across
    # self-join aliases), and the fingerprint computation is the
    # expensive part.  Tiny table: 9 bytes/doc.
    sim = _simhash_df(spark, sf_dir).localCheckpoint(eager=False)
    banded = sim.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("sequence(0, 3)")).alias("j"),
    ).withColumn(
        "band_key",
        F.expr(
            f"(shiftright(simhash, {_SIMHASH_BAND_WIDTH} * j))"
            f" & {(1 << _SIMHASH_BAND_WIDTH) - 1}"
        ),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# Dedup clustering: connected components over the MinHash near-dup pair
# graph — the pipeline stage AFTER pair generation that picks one
# canonical keeper per duplicate cluster (component_id = min doc_id in
# the component).  Spark side: min-label propagation with POINTER
# DOUBLING (ocr_spark/operators/graph.py) — rounds are O(log diameter),
# so a pathological L-chain of templated documents costs ~log2(L)
# shuffle rounds instead of L.  The driver-side work per round is ONE
# metadata count (the convergence check), never data.
# Oracle: DuckDB recursive CTE computing min reachable label (UNION set
# semantics terminate it).  Non-SQL-expressible in one Spark query, yet
# still fully hash-verified — the loop is deterministic.
#
# Caching contract: the converged labels MUST stay persisted (the loop
# lineage references unpersisted intermediates; recomputing it from
# scratch is exponential in rounds), so each invocation releases the
# previous invocation's cache — at most ONE label set (tiny: one row per
# doc in a dup pair) stays pinned per session, instead of one per bench
# rep.  At production scale the loop writes each round to a table and
# this is moot.
_CLUSTER_LABEL_CACHE: list = []


@oracle(f"""
            WITH RECURSIVE pairs AS (
              SELECT doc_a, doc_b FROM ({_SQL_MINHASH_LSH}) mh
            ),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
            reach(doc_id, lab) AS (
              SELECT doc_id, doc_id FROM nodes
              UNION
              SELECT e.src, r.lab
              FROM reach r JOIN edges e ON e.dst = r.doc_id
            )
            SELECT doc_id, min(lab) AS component_id
            FROM reach GROUP BY doc_id
        """)
def q_dedup_clusters(spark, sf_dir):
    from ocr_spark.operators.graph import connected_components

    for prev in _CLUSTER_LABEL_CACHE:
        # best-effort release: if the SparkSession that created the
        # cached labels has been stopped, unpersist raises — the cache
        # entry is garbage either way, so never let it fail the query
        try:
            prev.unpersist()
        except Exception:  # noqa: BLE001
            pass
    _CLUSTER_LABEL_CACHE.clear()
    pairs = q_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components(pairs, a="doc_a", b="doc_b")
    _CLUSTER_LABEL_CACHE.append(labels)
    return labels.select("doc_id", F.col("lab").alias("component_id"))


# Quality-aware cluster keeper (P45): the FineWeb-style refinement of
# min-id dedup — within each near-dup cluster (connected components
# over the MinHash+LSH pair graph, same pipeline as q_dedup_clusters)
# keep the HIGHEST-QUALITY member instead of the lowest id, so dedup
# removes the boilerplate-heavy variants and keeps the best copy.
# Quality is the q_quality_score formula (bounded length + stopword
# ratio, fixed-pointed) recomputed over the planted corpus; ties break
# to the lowest doc_id.  Scale shape: the component-label table is tiny
# next to the corpus (only docs that collided in LSH), so it BROADCASTS
# onto the quality scan — the keeper selection is one window over
# component groups whose total size is the duplicate set, not the
# corpus.
@oracle(f"""
            WITH RECURSIVE pairs AS (
              SELECT doc_a, doc_b FROM ({_SQL_MINHASH_LSH}) mh
            ),
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs
            ),
            nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
            reach(doc_id, lab) AS (
              SELECT doc_id, doc_id FROM nodes
              UNION
              SELECT e.src, r.lab
              FROM reach r JOIN edges e ON e.dst = r.doc_id
            ),
            labels AS (
              SELECT doc_id, min(lab) AS component_id
              FROM reach GROUP BY doc_id
            ),
            {_SQL_ALLD},
            t AS (
              SELECT doc_id,
                     CASE WHEN length(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g'))) = 0
                          THEN 0
                          ELSE len(string_split(trim(regexp_replace(lower(text), '[ \t\r\n]+', ' ', 'g')), ' '))
                     END::DOUBLE AS words,
                     len(regexp_extract_all(lower(text), '\\b({_STOPWORDS})\\b'))::DOUBLE AS stop_hits
              FROM alld
            ),
            qual AS (
              SELECT doc_id,
                     floor((least(words, 100.0) / 100.0 * 0.5 +
                            CASE WHEN words > 0 THEN stop_hits / words ELSE 0.0 END * 0.5) * 10000.0)::BIGINT AS quality_fp
              FROM t
            ),
            rk AS (
              SELECT l.component_id, l.doc_id, q.quality_fp,
                     row_number() OVER (PARTITION BY l.component_id
                                        ORDER BY q.quality_fp DESC, l.doc_id ASC) AS rk
              FROM labels l JOIN qual q USING (doc_id)
            )
            SELECT component_id,
                   count(*)::BIGINT AS n_members,
                   min(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
                   min(CASE WHEN rk = 1 THEN quality_fp END) AS keep_quality_fp,
                   coalesce(sum(CASE WHEN rk > 1 THEN doc_id END), 0)::BIGINT AS dropped_id_sum
            FROM rk GROUP BY 1
        """)
def q_cluster_keeper(spark, sf_dir):
    from ocr_spark.operators.graph import connected_components

    pairs = q_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components(pairs, a="doc_a", b="doc_b")
    lab = labels.select("doc_id", F.col("lab").alias("component_id"))
    mem = _quality_fp(_docs_with_planted_dups(spark, sf_dir)).join(
        F.broadcast(lab), "doc_id"
    )
    rk = F.row_number().over(
        Window.partitionBy("component_id").orderBy(
            F.col("quality_fp").desc(), F.col("doc_id").asc()
        )
    )
    return (
        mem.withColumn("rk", rk)
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("keep_id"),
            F.min(F.when(F.col("rk") == 1, F.col("quality_fp"))).alias(
                "keep_quality_fp"
            ),
            F.coalesce(
                F.sum(F.when(F.col("rk") > 1, F.col("doc_id"))), F.lit(0)
            ).cast("long").alias("dropped_id_sum"),
        )
    )


# Document fingerprint: bottom-4 MinHash sketch (k smallest shingle
# fingerprints — winnowing-style selection, rolling 3-gram hash base).
@oracle(f"""
            WITH {_SQL_SHINGLE_FPS}
            SELECT doc_id, rnk::BIGINT AS rnk, fp FROM (
              SELECT doc_id, fp,
                     row_number() OVER (PARTITION BY doc_id ORDER BY fp ASC) AS rnk
              FROM fps
            ) WHERE rnk <= 4
        """)
def q_doc_fingerprint(spark, sf_dir):
    s = _shingle_fps(_docs_with_planted_dups(spark, sf_dir), shingle_fp)
    w = Window.partitionBy("doc_id").orderBy(F.col("fp").asc())
    return (
        s.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .select("doc_id", F.col("rnk").cast("long").alias("rnk"), "fp")
    )
