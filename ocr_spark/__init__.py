"""ocr_spark — a PySpark-native main-content extraction engine.

Generalizes the dataflow of the reference OCR pipeline
(/root/reference/handwriting/predict.py) from pixels to transcript text:
adaptive-threshold segmentation, geometric gating, Otsu-split scoring,
confidence-gated classification, connected-span merging, and ordered
emission — re-expressed as an idiomatic Spark DataFrame pipeline with
Arrow-vectorized pandas UDFs (never per-row Python UDFs).

Layout:
  extract/    pure NumPy/pandas per-turn extraction math (THE oracle)
  operators/  Spark operators: extraction mapInPandas, conversation
              assembly, connected components, prefix-filtered Jaccard join
  functions/  shared text Column builders + the extract_text pandas_udf;
              the pure-NumPy media codecs (bits.py holds their bit
              writers/readers, CRC and the LZW coder GIF and TIFF share)
              and the DECODE_TIERS table run by one decode_tier op
  sources/    transcript scans (iceberg: prefix routes to Iceberg, else
              parquet), fixture ingestion, the one streaming reader
  plans/      job composition: bucket/salt/resume/lineage/ordering
  streaming/  Structured Streaming operators, run by one start_stream launcher
  queries/    the driver queries by family, each builder beside its DuckDB
              oracle (listed in order by __spark_entry__.queries())
"""

__version__ = "0.1.0"
