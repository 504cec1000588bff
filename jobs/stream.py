"""spark-submit streaming entrypoint — the continuous twin of
jobs/extract.py.

  spark-submit --py-files dist/ocr_spark.zip jobs/stream.py \
      --input /path/transcripts-stream --output /path/extracted \
      --checkpoint /path/ckpt [--mode extract|dedup|rate|...] \
      [--drain] [--max-files-per-trigger N]

Modes map to the streaming operators in ocr_spark/streaming/:
  extract   stateless extraction (exactly-once via checkpoint + file sink)
  dedup     exact dedup with watermark-bounded state
  rate      watermarked event-time turn-rate windows
  decontam  stateless benchmark decontamination (requires --bench-file, a
            UTF-8 text file whose lines are the held-out benchmark texts;
            13-gram fingerprints are built on the driver and injected as
            an array literal)
  quality   stateless Gopher-style per-turn quality gate (P47 twin)
  resample  stateless DSIR importance scoring against a frozen ratio
            table (P46 twin; requires --ratio-file, a JSON list of 256
            bucket ratio_ppm ints — train with dsir_ratio_table or take
            the batch job's stats output)

`--drain` runs with availableNow=True (process the backlog, then exit —
backfills and tests); without it the query tails the input forever.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --mode -> the streaming operator it launches (by name in
# ocr_spark.streaming, so argparse answers before pyspark is imported)
MODES = {
    "extract": "extract_turns",
    "dedup": "dedup_turns",
    "rate": "turn_rates",
    "decontam": "decontam_flags",
    "quality": "quality_gate",
    "resample": "importance_scores",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ocr_spark streaming extraction")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--mode", choices=tuple(MODES), default="extract")
    p.add_argument("--bench-file", default=None,
                   help="decontam mode: file of benchmark texts, one per line")
    p.add_argument("--ratio-file", default=None,
                   help="resample mode: JSON file holding the bucket "
                        "ratio_ppm list")
    p.add_argument("--drain", action="store_true")
    def _positive_int(v: str) -> int:
        n = int(v)
        if n <= 0:
            raise argparse.ArgumentTypeError("must be a positive integer")
        return n

    p.add_argument("--max-files-per-trigger", type=_positive_int, default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    if args.mode == "decontam" and not args.bench_file:
        p.error("--mode decontam requires --bench-file")
    if args.mode == "resample" and not args.ratio_file:
        p.error("--mode resample requires --ratio-file")

    from ocr_spark import streaming
    from ocr_spark.plans import session

    params = {}
    if args.mode == "decontam":
        with open(args.bench_file, encoding="utf-8") as fh:
            texts = [ln.strip() for ln in fh if ln.strip()]
        params["bench_grams"] = streaming.bench_gram_fingerprints(texts)
    elif args.mode == "resample":
        import json

        with open(args.ratio_file, encoding="utf-8") as fh:
            params["ratio_ppm"] = json.load(fh)

    spark = session.build_session(app_name=f"ocr_spark_stream_{args.mode}",
                                  master=args.master)
    # Per-mode checkpoint AND output subdirs: the file-source offset log
    # is specific to one query shape (reusing a checkpoint across modes
    # would make the new mode see every input file as already committed
    # and silently emit nothing), and the output schemas differ per mode
    # (interleaving extract/dedup/rate rows in one parquet directory
    # breaks downstream reads).  Same-mode reuse stays the legitimate
    # resume path for both.
    q = streaming.start_stream(
        spark, getattr(streaming, MODES[args.mode]), args.input,
        os.path.join(args.output, args.mode),
        os.path.join(args.checkpoint, args.mode),
        available_now=args.drain,
        max_files_per_trigger=args.max_files_per_trigger,
        **params,
    )
    q.awaitTermination()
    return 0


if __name__ == "__main__":
    sys.exit(main())
