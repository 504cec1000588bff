"""Exact set-similarity join via prefix filtering.

The all-pairs shingle equi-join is quadratic inside hot common-shingle
buckets (every pair of docs sharing "the of and" meets there).  Prefix
filtering (Chaudhuri / Bayardo / Xiao et al., here without positional
refinements) makes the join exact AND hot-bucket-proof: order each doc's
shingles rarest-first under the global (document-frequency, token) total
order; any partner with Jaccard >= tau must share a token inside the
first |d| - ceil(tau*|d|) + 1 tokens (J >= tau implies overlap
o >= tau*|a| and o >= tau*|b|, so the pairwise prefix theorem applies
with alpha = ceil(tau*max(|a|,|b|)) and the per-doc lengths cover the
pairwise requirement).  Candidates therefore come from an equi-join over
PREFIX tokens only — the hot stopword shingles have maximal df, rank
last, and never enter a prefix unless a doc is mostly stopwords — then
exact array-intersect verification.  LOSSLESS: the result set equals the
all-pairs baseline's exactly.

At 100 TB the df table is a word-count-sized aggregate, the prefix join
is linear in corpus size for natural-language df distributions, and the
verify join touches candidate pairs only.  tools/skew_stress.py drives
the adversarial case (every doc sharing one hot stopword core) and pins
near-linear scaling where the all-pairs join is quadratic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ocr_spark.functions.text import word3_shingles

__all__ = ["shingle_table", "prefix_jaccard_pairs"]


def shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): distinct xxhash64 fingerprints of word-3-gram
    shingles, materialized ONCE (localCheckpoint) because it feeds the
    document frequencies, the prefixes, and the verify sets — Spark's
    exchange reuse does not fire across self-join aliases."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    return (
        words.select("doc_id", F.explode(word3_shingles("w")).alias("sh_str"))
        .select("doc_id", F.xxhash64("sh_str").alias("sh"))
        .localCheckpoint(eager=False)
    )


def prefix_jaccard_pairs(docs: DataFrame, tau: float = 0.5) -> DataFrame:
    """All (doc_a < doc_b) pairs with word-3-gram Jaccard >= tau, exact.

    Input: (doc_id: long, text: string).  Output: (doc_a, doc_b,
    jaccard_fp) where jaccard_fp = floor(J * 1e6) — fixed-point so both
    engines compare integers, no float-formatting divergence.
    """
    s = shingle_table(docs)
    dfreq = s.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    n = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ranked = (
        s.join(dfreq, "sh")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .join(n, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rnk")
        <= F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(tau)).cast("long") + 1
    ).select("doc_id", "sh")
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.sh") == F.col("pb.sh"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = s.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("sh")).alias("toks"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    shared = F.size(F.array_intersect("ta", "tb")).cast("double")
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("toks").alias("ta"),
                F.col("n_sh").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("toks").alias("tb"),
                F.col("n_sh").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn("shared", shared)
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.col("shared")
                * F.lit(1000000.0)
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            )
            .cast("long")
            .alias("jaccard_fp"),
        )
        .filter(F.col("jaccard_fp") >= F.lit(int(tau * 1000000)))
    )
