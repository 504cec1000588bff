"""Generate the precomputed expected outputs that back the driver-contract
oracles for the non-SQL-expressible x_* queries.

The extraction pipeline cannot be expressed in DuckDB SQL, but its output
is a pure deterministic function of the input (the north_rule invariant),
so the SINGLE-PROCESS oracle (ocr_spark.extract.extract_frame — the same
kernel pytest pins byte-for-byte against the distributed job) can
precompute the expected result once; the DuckDB oracle then just reads
the expected parquet and the driver's rows+schema+hash comparison applies
to the extraction queries too.

Usage:  python tools/gen_expected.py [sf_dir]   (default /root/testdata/sf0.01
— the scale the driver's CORRECTNESS gate runs at).  Output lands in
tests/expected/<sf_name>/ and is committed; tests/test_expected.py
regenerates and compares so stale files fail CI.
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Must match x_extract_documents in ocr_spark/queries/pipeline.py byte-for-byte.
HTML_PREFIX = '<nav><a href="/h">Home</a> <a href="/a">About</a></nav><p>'
HTML_SUFFIX = '</p><footer>Copyright <a href="/t">Terms</a></footer>'


def expected_extract_documents(sf_dir: str) -> pd.DataFrame:
    from ocr_spark.extract import extract_frame

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    wrapped = pd.DataFrame(
        {
            "conv_id": docs.doc_id.astype(str),
            "turn_idx": 0,
            "text": HTML_PREFIX + docs.text + HTML_SUFFIX,
        }
    )
    out = extract_frame(wrapped)
    return pd.DataFrame(
        {
            "doc_id": docs.doc_id.astype("int64").values,
            "extracted_text": out["extracted_text"].values,
        }
    )


def expected_extract_transcripts(sf_dir: str) -> pd.DataFrame:
    from ocr_spark.extract import extract_frame
    from ocr_spark.sources.transcripts import derive_transcripts_pandas

    tr = derive_transcripts_pandas(sf_dir, turns_per_doc=4)
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


def expected_multimodal_features(sf_dir: str) -> pd.DataFrame:
    from ocr_spark.functions.multimodal import _decode_batch

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    media_type = (docs.doc_id % 3).map({0: "image", 1: "audio", 2: "video"})
    payload = docs.text.map(lambda s: s.encode("utf-8"))
    out = _decode_batch(
        pd.DataFrame(
            {
                "doc_id": docs.doc_id,
                "media_type": media_type,
                "payload": payload,
            }
        )
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
    out_dir = expected_dir(sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name, gen in GENERATORS.items():
        df = gen(sf_dir)
        path = os.path.join(out_dir, f"{name}.parquet")
        df.to_parquet(path, index=False)
        print(f"{path}: {len(df)} rows")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")
