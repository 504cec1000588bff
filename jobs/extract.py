"""spark-submit batch entrypoint (north_rule launch mode).

  spark-submit --py-files dist/ocr_spark.zip jobs/extract.py \
      --input /path/transcripts --output /path/extracted \
      --lineage /path/lineage --run-id r42 [--resume] [--buckets 64]

`--input fixture:N` generates the seeded N-conversation fixture in-flight
(sandbox convenience; production reads Iceberg/parquet).
Mirrors the reference CLI harness (/root/reference/test_predict.py:6-16).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Direct `python jobs/extract.py` runs resolve the package from the repo
# root; under spark-submit the same modules arrive via --py-files.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _positive_int(v: str) -> int:
    # the same check as jobs/stream.py; spark-submit ships each entry
    # script alone, so one cannot import the other
    n = int(v)
    if n <= 0:
        raise argparse.ArgumentTypeError("must be a positive integer")
    return n


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="ocr_spark batch extraction")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--lineage", required=True)
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=_positive_int, default=None)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--master", default=None)
    p.add_argument("--num-partitions", type=_positive_int, default=None)
    args = p.parse_args(argv)

    from ocr_spark.constants import DEFAULT_N_BUCKETS
    from ocr_spark.plans.extract_job import run_extract
    from ocr_spark.plans.session import build_session
    from ocr_spark.sources.transcripts import (
        read_transcripts,
        transcripts_from_pandas,
    )

    spark = build_session(app_name=f"ocr_spark_extract_{args.run_id}", master=args.master)
    if args.input.startswith("fixture:"):
        from fixtures.gen import gen_transcripts

        df = transcripts_from_pandas(
            spark, gen_transcripts(n_convs=int(args.input.split(":")[1]))
        )
    else:
        df = read_transcripts(spark, args.input)

    stats = run_extract(
        spark,
        df,
        output_path=args.output,
        lineage_path=args.lineage,
        run_id=args.run_id,
        n_buckets=args.buckets or DEFAULT_N_BUCKETS,
        resume=args.resume,
        num_partitions=args.num_partitions,
    )
    print(json.dumps({"run_id": args.run_id, **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
