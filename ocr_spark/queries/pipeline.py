"""Pipeline driver queries: the x_* extraction, assembly and multimodal
jobs, whose oracles read precomputed expected tables, and the drained
streaming dedup."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ocr_spark.queries.common import _docs, _docs_wide, _oracle_sf_dir, oracle

# the checkout root: this file is <root>/ocr_spark/queries/pipeline.py
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# The extraction/multimodal queries are not SQL-expressible, but their
# outputs are pure deterministic functions of the input, so the oracle is
# a PRECOMPUTED expected table produced by the single-process kernel
# (tools/gen_expected.py).  DuckDB reads the committed parquet;
# rows+schema+hash compare as for every other query.
#
# sf binding: oracle_sql() has no sf_dir parameter, so the expected-table
# path is chosen by SPARK_GRAFT_ORACLE_SF, defaulting to sf0.01 — the
# scale the driver's CORRECTNESS gate runs at.  Expected tables are
# committed for ALL driver sf dirs (sf0.001 / sf0.01 / sf0.1); a harness
# comparing at a non-default sf must set the env var (tools/
# compare_oracle.py does) or the four expected-table-backed rows
# (x_extract_documents / x_extract_transcripts / x_multimodal_features /
# x_conv_assembly, whose oracle reads the x_extract_transcripts table)
# will fail on row count — loudly, not silently wrong.
# tests/test_expected.py regenerates every committed table on each run
# so they cannot go stale.
def _expected_path(name: str) -> str:
    """<repo>/tests/expected/<oracle sf name>/<name>.parquet."""
    d = os.path.join(_REPO_ROOT, "tests", "expected",
                     os.path.basename(_oracle_sf_dir()))
    return f"{d}/{name}.parquet"


def _expected_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{_expected_path(name)}')"


# Streaming dedup drained batch-visibly (P18's driver-checkable replay,
# VERDICT r4 ask #6): the SAME dedup_turns operator the streaming
# tier ships (dropDuplicatesWithinWatermark keyed on md5(text), state
# evicted past the watermark horizon) runs here in availableNow mode
# over a corpus derived from documents with every payload duplicated
# once, drains into parquet, and the final table is returned as a batch
# frame.  WHICH copy of a duplicate group survives depends on arrival
# order (nondeterministic across engines/runs), so the returned frame
# projects only text-derived columns: one (text_key, n_out=1) row per
# distinct payload — exactly-once semantics made hash-checkable.
# Scale shape: state is bounded by (watermark horizon x arrival rate),
# never stream length; the drain is one availableNow micro-batch here
# but the operator is the production continuous path.
# exactly-once drain contract: one surviving row per distinct
# payload, no matter which duplicate copy survived the stream
@oracle("""
            SELECT md5(text) AS text_key, 1::BIGINT AS n_out
            FROM (SELECT DISTINCT text FROM documents)
        """)
def q_stream_dedup_drain(spark, sf_dir):
    import atexit
    import shutil

    from ocr_spark.streaming import dedup_turns, start_stream

    # Keyed by pid too: two processes draining the same corpus must not
    # share (and rmtree) one stream checkpoint.  The returned frame reads
    # the drained output lazily, so it is removed at exit, not here.
    tag = os.path.basename(sf_dir.rstrip("/"))
    root = f"/tmp/ocr_spark_q_stream_drain_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    inp, outp, ckpt = f"{root}/in", f"{root}/out", f"{root}/ckpt"
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit("").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    dup = base.withColumn(
        "conv_id", F.concat(F.lit("dup:"), F.col("conv_id"))
    ).withColumn("turn_idx", F.lit(1).cast("int"))
    base.unionByName(dup).repartition(4).write.mode("overwrite").parquet(inp)
    q = start_stream(spark, dedup_turns, inp, outp, ckpt, available_now=True)
    q.awaitTermination()
    out = spark.read.parquet(outp)
    return (
        out.select(F.md5("text").alias("text_key"))
        .groupBy("text_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_out"))
    )


def html_documents(spark, sf_dir):
    """x_extract_documents' input, (doc_id, html): each document's text
    wrapped in nav and footer boilerplate.  tools/gen_expected.py derives
    the expected table from the same frame."""
    html = F.concat(
        F.lit('<nav><a href="/h">Home</a> <a href="/a">About</a></nav><p>'),
        F.col("text"),
        F.lit('</p><footer>Copyright <a href="/t">Terms</a></footer>'),
    )
    return _docs_wide(spark, sf_dir).select("doc_id", html.alias("html"))


# Extraction UDF over HTML-wrapped documents.  Oracle: precomputed
# expected parquet from the single-process kernel (tools/gen_expected.py)
# — the driver's rows+schema+hash gates apply in full.
@oracle(lambda: _expected_sql("x_extract_documents"))
def x_extract_documents(spark, sf_dir):
    from ocr_spark.functions.text import extract_text

    return html_documents(spark, sf_dir).select(
        "doc_id", extract_text(F.col("html")).alias("extracted_text")
    )


# The full distributed pipeline over derived transcripts.  Oracle:
# precomputed expected parquet from the single-process kernel
# (tools/gen_expected.py); ints are surfaced as long on both sides so the
# driver's schema gate compares identically-typed columns.
@oracle(lambda: _expected_sql("x_extract_transcripts"))
def x_extract_transcripts(spark, sf_dir):
    from ocr_spark.plans.extract_job import plan_extract
    from ocr_spark.sources.transcripts import derive_transcripts_from_documents

    tr = derive_transcripts_from_documents(spark, sf_dir)
    return plan_extract(tr, n_buckets=16).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        "extracted_text",
        F.col("n_blocks_in").cast("long").alias("n_blocks_in"),
        F.col("n_blocks_kept").cast("long").alias("n_blocks_kept"),
        "status",
    )


# Conversation assembly (grouped-map surface): extraction pipeline ->
# applyInPandas over conv_id stitching turn-ordered documents.  Oracle:
# string_agg(ORDER BY turn_idx) over the precomputed expected extraction
# table — SQL can't express the extraction, but it CAN express the
# assembly on top of the expected table, so the whole chain hash-gates.
# assembly = SQL over the expected extraction table: the chain
# extraction -> grouped-map assembly is hash-gated end to end
@oracle(lambda: f"""
            SELECT conv_id,
                   count(*)::BIGINT AS n_turns,
                   string_agg(extracted_text, chr(10) || chr(10)
                              ORDER BY turn_idx) AS doc_text
            FROM read_parquet('{_expected_path("x_extract_transcripts")}')
            GROUP BY conv_id
        """)
def x_conv_assembly(spark, sf_dir):
    from ocr_spark.operators.assemble import assemble_conversations
    from ocr_spark.plans.extract_job import plan_extract
    from ocr_spark.sources.transcripts import derive_transcripts_from_documents

    tr = derive_transcripts_from_documents(spark, sf_dir)
    return assemble_conversations(plan_extract(tr, n_buckets=16))


# Multimodal binary-column plumbing (payload = utf-8 bytes as media
# stand-in; codec decode stubbed behind deterministic fake features, the
# real-decode seam lives in q_image_decode / decode_media_real — see
# ocr_spark/functions/multimodal.py).  Oracle: precomputed expected
# parquet from the same pure _decode_batch kernel.
@oracle(lambda: _expected_sql("x_multimodal_features"))
def x_multimodal_features(spark, sf_dir):
    from ocr_spark.functions.multimodal import (
        decode_media_features,
        with_binary_payload,
    )

    d = _docs_wide(spark, sf_dir).select("doc_id", "text")
    feats = decode_media_features(with_binary_payload(d))
    return feats.select(
        "doc_id",
        "media_type",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "magic",
        F.col("fake_width").cast("long").alias("fake_width"),
        F.col("fake_height").cast("long").alias("fake_height"),
        F.col("fake_duration_ms").cast("long").alias("fake_duration_ms"),
        "checksum",
    )
