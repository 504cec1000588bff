"""Transcript sources (S1-S4 analogues, SURVEY.md §2.1).

The production source is an Iceberg table (BASELINE.json input_hint); the
sandbox reads parquet with the same fixed schema.  Also provides a
deterministic Spark-native derivation of a transcripts table from the
driver-provided `documents` parquet (pure built-in functions, so row
counts scale with sf and no external data is synthesized driver-side),
and a createDataFrame path for the seeded pandas fixture generator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from ocr_spark.sinks.writers import ICEBERG_PREFIX

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """S1: scan the transcripts table (parquet sandbox stand-in; Catalyst
    pushdown/pruning apply either way).

    EXPERIMENTAL: the iceberg: branch targets the public Iceberg
    catalog-table API but is unexecutable in this sandbox (no runtime
    jar) and therefore untested — see ocr_spark/sinks/writers.py.
    """
    if path.startswith(ICEBERG_PREFIX):
        return spark.table(path[len(ICEBERG_PREFIX):])
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(path)


# The documents stream the sketch and near-dup twins read (the sandbox
# stand-in for a crawl feed): a text corpus with event times.
DOCS_STREAM_SCHEMA = "doc_id long, lang string, text string, ts timestamp"


def read_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str = TRANSCRIPTS_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1's streaming twin: a file-arrival stream of parquet under
    `schema` (streaming sources need a declared schema, no inference).
    Every streaming entry point reads through here, so a bad
    `max_files_per_trigger` raises before any query starts."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        if max_files_per_trigger <= 0:
            raise ValueError(
                f"max_files_per_trigger must be positive, got {max_files_per_trigger}"
            )
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def transcripts_from_pandas(spark: SparkSession, pdf) -> DataFrame:
    """Fixture ingestion (S4): Arrow-path createDataFrame, fixed schema."""
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def derive_transcripts_from_documents(
    spark: SparkSession, sf_dir: str, turns_per_doc: int = 4
) -> DataFrame:
    """Deterministically derive a transcripts table from documents.parquet.

    Used by the driver contract (__spark_entry__) so the extraction
    pipeline runs over sf-scaled, driver-provided data.  Each document
    becomes `turns_per_doc` turns of one conversation; the payload wraps
    the document text in a flavor template chosen by (doc_id+turn) % 4:
      0 html-ish with nav/footer boilerplate, 1 pdf-layout-ish,
      2 markdown/plain, 3 tool-json-ish.
    Entirely built-in expressions — whole-stage codegen, no UDFs.  The
    expected-table generator (tools/gen_expected.py) and bench.py's
    no-Spark hardware ceiling collect the same frame.
    """
    # documents.parquet is one small file -> one scan partition; spread
    # the rows first or the whole derivation (crossJoin + regex) runs in
    # a single task and serializes every downstream stage.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    turns = spark.range(turns_per_doc).select(
        F.col("id").cast("int").alias("turn_idx")
    )
    base = docs.crossJoin(F.broadcast(turns))
    flavor = (F.col("doc_id") + F.col("turn_idx")) % 4
    nav = F.lit(
        '<nav><a href="/home">Home</a> <a href="/about">About</a> '
        '<a href="/pricing">Pricing</a> <a href="/blog">Blog</a></nav>'
    )
    footer = F.lit(
        '<footer>Copyright 2024 <a href="/tos">Terms</a> '
        '<a href="/privacy">Privacy</a></footer>'
    )
    html_payload = F.concat(
        nav, F.lit("<p>"), F.col("text"), F.lit("</p>"), footer
    )
    pdf_payload = F.concat(
        F.lit("                    SECTION "),
        F.col("doc_id").cast("string"),
        F.lit("\n\n    "),
        F.regexp_replace(F.col("text"), F.lit("\\. "), F.lit(".\n    ")),
        F.lit("\n\n                              Page 1"),
    )
    md_payload = F.regexp_replace(
        F.col("text"), F.lit("\\. "), F.lit(".\n\n")
    )
    tool_payload = F.concat(
        F.lit('{"status": "ok", "result": "'),
        F.col("text"),
        F.lit('"}'),
    )
    text = (
        F.when(flavor == 0, html_payload)
        .when(flavor == 1, pdf_payload)
        .when(flavor == 2, md_payload)
        .otherwise(tool_payload)
    )
    role = (
        F.when(F.col("turn_idx") % 4 == 0, F.lit("user"))
        .when(F.col("turn_idx") % 4 == 2, F.lit("tool"))
        .otherwise(F.lit("assistant"))
    )
    return base.select(
        F.format_string("conv-%06d", F.col("doc_id")).alias("conv_id"),
        F.col("turn_idx"),
        role.alias("role"),
        text.alias("text"),
        F.when(role == "tool", F.lit("search")).otherwise(F.lit("")).alias("tool"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("doc_id") * 3600 + F.col("turn_idx") * 30)
        ).alias("ts"),
    )
