"""Generate the precomputed expected outputs that back the driver-contract
oracles for the non-SQL-expressible x_* queries.

The extraction pipeline cannot be expressed in DuckDB SQL, but its output
is a pure deterministic function of the input (the north_rule invariant),
so the SINGLE-PROCESS oracle (ocr_spark.extract.extract_frame — the same
kernel pytest pins byte-for-byte against the distributed job) can
precompute the expected result once; the DuckDB oracle then just reads
the expected parquet and the driver's rows+schema+hash comparison applies
to the extraction queries too.

Each query's input comes from the same Spark builder the query itself
calls (the HTML wrap, the transcript derivation, the binary payload), so
it is defined once; a local Spark session derives and collects it, and
only the extraction or decode runs in the single-process kernel.

Usage:  python tools/gen_expected.py [sf_dir]   (default /root/testdata/sf0.01
— the scale the driver's CORRECTNESS gate runs at).  Output lands in
tests/expected/<sf_name>/ and is committed; tests/test_expected.py
regenerates and compares so stale files fail CI.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expected_extract_documents(spark, sf_dir: str) -> pd.DataFrame:
    from ocr_spark.extract import extract_frame
    from ocr_spark.queries.pipeline import html_documents

    docs = html_documents(spark, sf_dir).orderBy("doc_id").toPandas()
    out = extract_frame(
        pd.DataFrame(
            {"conv_id": docs.doc_id.astype(str), "turn_idx": 0, "text": docs.html}
        )
    )
    return pd.DataFrame(
        {
            "doc_id": docs.doc_id.astype("int64").values,
            "extracted_text": out["extracted_text"].values,
        }
    )


def expected_extract_transcripts(spark, sf_dir: str) -> pd.DataFrame:
    from ocr_spark.extract import extract_frame
    from ocr_spark.sources.transcripts import derive_transcripts_from_documents

    tr = (
        derive_transcripts_from_documents(spark, sf_dir)
        .select("conv_id", "turn_idx", "text")
        .orderBy("turn_idx", "conv_id")
        .toPandas()
    )
    out = extract_frame(tr)
    return pd.DataFrame(
        {
            "conv_id": out["conv_id"],
            "turn_idx": out["turn_idx"].astype("int64"),
            "extracted_text": out["extracted_text"],
            "n_blocks_in": out["n_blocks_in"].astype("int64"),
            "n_blocks_kept": out["n_blocks_kept"].astype("int64"),
            "status": out["status"],
        }
    )


def expected_multimodal_features(spark, sf_dir: str) -> pd.DataFrame:
    from ocr_spark.functions.multimodal import _decode_batch, with_binary_payload

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = _decode_batch(
        with_binary_payload(docs)
        .select("doc_id", "media_type", "payload")
        .orderBy("doc_id")
        .toPandas()
    )
    for c in ("n_bytes", "fake_width", "fake_height", "fake_duration_ms"):
        out[c] = out[c].astype("int64")
    return out


GENERATORS = {
    "x_extract_documents": expected_extract_documents,
    "x_extract_transcripts": expected_extract_transcripts,
    "x_multimodal_features": expected_multimodal_features,
}


def expected_dir(sf_dir: str) -> str:
    return os.path.join(REPO, "tests", "expected", os.path.basename(sf_dir.rstrip("/")))


def main(sf_dir: str) -> None:
    from ocr_spark.plans.session import build_session

    out_dir = expected_dir(sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="gen_expected")
    try:
        for name, gen in GENERATORS.items():
            df = gen(spark, sf_dir)
            path = os.path.join(out_dir, f"{name}.parquet")
            df.to_parquet(path, index=False)
            print(f"{path}: {len(df)} rows")
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
