"""The oracle gate: order-independent digests of extraction output, the
single-process reference digest, and the lineage check.

A digest is (row count, sum mod 2**64 of a 64-bit hash per row) over
(conv_id, turn_idx, extracted_text, spans, n_blocks_in, n_blocks_kept,
status).  The sum makes it independent of row order and of how the output
is split into files, while a missing, extra, duplicated or changed row
changes it.
"""

from __future__ import annotations

import glob
import hashlib
import os
import struct
from collections import Counter

import pyarrow.dataset as ds

HASH_COLUMNS = [
    "conv_id", "turn_idx", "extracted_text", "spans",
    "n_blocks_in", "n_blocks_kept", "status",
]
_MASK = (1 << 64) - 1
_F32 = struct.Struct("<f")


def _f32(x: float) -> float:
    # Spark stores span scores as float; the pandas oracle holds doubles.
    return _F32.unpack(_F32.pack(x))[0]


def _result_key(text, spans, n_in, n_kept, status) -> bytes:
    span_s = ";".join(
        f"{s['start']},{s['end']},{_f32(s['score'])!r},{s['position']}"
        for s in (spans if spans is not None else ())
    )
    return f"{n_in}\x1f{n_kept}\x1f{status}\x1f{span_s}\x1f{text}".encode(
        "utf-8", "surrogatepass"
    )


def _row_hash(conv_id, turn_idx, result_key: bytes) -> int:
    h = hashlib.blake2b(digest_size=8)
    h.update(f"{conv_id}\x1f{int(turn_idx)}\x1f".encode("utf-8", "surrogatepass"))
    h.update(result_key)
    return int.from_bytes(h.digest(), "little")


class Digest:
    def __init__(self):
        self.rows = 0
        self.total = 0
        self.status = Counter()

    def add(self, conv_id, turn_idx, result_key: bytes, status: str) -> None:
        self.rows += 1
        self.total = (self.total + _row_hash(conv_id, turn_idx, result_key)) & _MASK
        self.status[status] += 1

    def as_dict(self) -> dict:
        return {
            "rows": self.rows,
            "sum": f"{self.total:016x}",
            "status": {k: self.status.get(k, 0) for k in ("ok", "empty", "error")},
        }


def digest_table(table) -> dict:
    """Digest of an Arrow table with the output columns."""
    d = Digest()
    cols = [table.column(c).to_pylist() for c in HASH_COLUMNS]
    for conv_id, turn_idx, text, spans, n_in, n_kept, status in zip(*cols):
        d.add(conv_id, turn_idx, _result_key(text, spans, n_in, n_kept, status), status)
    return d.as_dict()


def digest_output_dir(path: str) -> dict:
    """Digest of a parquet output directory (batch output partitioned by
    bucket, or a streaming file sink; `_`- and `.`-prefixed entries such
    as `_spark_metadata` are skipped)."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=HASH_COLUMNS
    )
    return digest_table(table)


def oracle_digest(pdf) -> dict:
    """Reference digest: single-process `extract_frame` over the input
    turns.  The kernel is a pure per-turn function, so it runs once per
    distinct payload and the result is reused for every turn carrying
    that payload."""
    import pandas as pd

    from ocr_spark.extract.extractor import extract_frame

    texts = pdf["text"].tolist()
    index: dict = {}
    distinct = []
    for t in texts:
        if t not in index:
            index[t] = len(distinct)
            distinct.append(t)
    res = extract_frame(
        pd.DataFrame(
            {
                "conv_id": ["x"] * len(distinct),
                "turn_idx": [0] * len(distinct),
                "text": distinct,
            }
        )
    )
    keys = [
        _result_key(*row)
        for row in zip(
            res["extracted_text"], res["spans"], res["n_blocks_in"],
            res["n_blocks_kept"], res["status"],
        )
    ]
    statuses = res["status"].tolist()
    d = Digest()
    for conv_id, turn_idx, t in zip(pdf["conv_id"], pdf["turn_idx"], texts):
        i = index[t]
        d.add(conv_id, turn_idx, keys[i], statuses[i])
    return d.as_dict()


def written_buckets(output_path: str) -> set[int]:
    return {
        int(os.path.basename(p).split("=", 1)[1])
        for p in glob.glob(os.path.join(output_path, "bucket=*"))
        if glob.glob(os.path.join(p, "*.parquet"))
    }


def check_lineage(lineage_path: str, run_id: str, output_path: str, n_turns: int) -> list[str]:
    """Exactly one lineage row per written bucket, and the rows_out sum
    equals the input turn count.  Returns the problems found."""
    lin = ds.dataset(lineage_path, format="parquet").to_table(
        columns=["run_id", "bucket", "rows_out"]
    ).to_pylist()
    mine = [r for r in lin if r["run_id"] == run_id]
    problems = []
    per_bucket = Counter(r["bucket"] for r in mine)
    dup = sorted(b for b, c in per_bucket.items() if c != 1)
    if dup:
        problems.append(f"lineage buckets with more than one row: {dup[:5]}")
    if set(per_bucket) != written_buckets(output_path):
        problems.append("lineage buckets differ from the written buckets")
    rows = sum(r["rows_out"] for r in mine)
    if rows != n_turns:
        problems.append(f"lineage rows_out sum {rows} != input turns {n_turns}")
    return problems


def compare(got: dict, want: dict) -> list[str]:
    if got["rows"] != want["rows"]:
        return [f"output rows {got['rows']} != oracle rows {want['rows']}"]
    if got["sum"] != want["sum"]:
        return [f"output digest {got['sum']} != oracle digest {want['sum']}"]
    return []
