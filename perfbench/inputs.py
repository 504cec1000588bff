"""Seeded workload inputs, written once per seed and cached.

Batch workloads derive turns from generated documents shaped like the
sf0.1 `documents` table (10 to 100 words over a 30-word vocabulary),
wrapped in the four payload flavors of the engine's document derivation.
The stream and serve workloads use the seeded `fixtures.gen` corpus.
Every input is row-permuted by the seed so the engine has to restore
(conv_id, turn_idx) order itself.  Spark inputs are written with
TRANSCRIPTS_SCHEMA through Spark's parquet writer; a cached input
directory also holds `meta.json`: the turn count and the oracle digest of
single-process `extract_frame` over the same turns.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from perfbench.common import work_dir
from perfbench.oracle import oracle_digest

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_NAV = (
    '<nav><a href="/home">Home</a> <a href="/about">About</a> '
    '<a href="/pricing">Pricing</a> <a href="/blog">Blog</a></nav>'
)
_FOOTER = (
    '<footer>Copyright 2024 <a href="/tos">Terms</a> '
    '<a href="/privacy">Privacy</a></footer>'
)
_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def gen_documents(n_docs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 101, n_docs)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(n_words)[:-1])]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype="int64"), "text": texts})


def derive_turns(docs: pd.DataFrame, turns_per_doc: int) -> pd.DataFrame:
    """Every document becomes one conversation of `turns_per_doc` turns;
    turn t of document d uses flavor (d + t) % 4: html with nav/footer
    boilerplate, pdf-style layout, markdown paragraphs, tool json."""
    doc_id = docs["doc_id"].to_numpy()
    txt = docs["text"]
    flavors = [
        (_NAV + "<p>" + txt + "</p>" + _FOOTER).tolist(),
        (
            "                    SECTION " + docs["doc_id"].astype(str)
            + "\n\n    " + txt.str.replace(". ", ".\n    ", regex=False)
            + "\n\n                              Page 1"
        ).tolist(),
        txt.str.replace(". ", ".\n\n", regex=False).tolist(),
        ('{"status": "ok", "result": "' + txt + '"}').tolist(),
    ]
    conv = [f"conv-{d:06d}" for d in doc_id]
    frames = []
    for t in range(turns_per_doc):
        flavor = (doc_id + t) % 4
        role = "user" if t % 4 == 0 else "tool" if t % 4 == 2 else "assistant"
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": conv,
                    "turn_idx": np.full(len(doc_id), t, dtype="int32"),
                    "role": role,
                    "text": [flavors[f][i] for i, f in enumerate(flavor)],
                    "tool": "search" if role == "tool" else "",
                    "ts": pd.Timestamp("2024-01-01")
                    + pd.to_timedelta(doc_id * 3600 + t * 30, unit="s"),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _permuted(pdf: pd.DataFrame, seed: int) -> pd.DataFrame:
    perm = np.random.default_rng(seed + 7919).permutation(len(pdf))
    return pdf.iloc[perm].reset_index(drop=True)[_COLUMNS]


def _write(spark, pdf: pd.DataFrame, path: str, n_files: int) -> None:
    from ocr_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    df.repartition(n_files).write.mode("overwrite").parquet(path)


KEEP_INPUTS = 4


def _evict_old_inputs() -> None:
    """Keep the KEEP_INPUTS most recently built inputs: a run per seed
    would otherwise fill the disk."""
    entries = sorted(
        (os.path.join(work_dir("inputs"), e) for e in os.listdir(work_dir("inputs"))),
        key=os.path.getmtime,
    )
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)


def _cached(key: str, build) -> tuple[str, dict]:
    """Return (data dir, meta) for `key`, building them on first use."""
    root = work_dir("inputs", key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return os.path.join(root, "data"), json.load(fh)
    data = os.path.join(root, "data")
    shutil.rmtree(data, ignore_errors=True)
    meta = build(data)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    _evict_old_inputs()
    return data, meta


def derived_turns(n_docs: int, turns_per_doc: int, seed: int) -> pd.DataFrame:
    return _permuted(derive_turns(gen_documents(n_docs, seed), turns_per_doc), seed)


def fixture_turns(n_convs: int, seed: int) -> pd.DataFrame:
    from fixtures.gen import gen_transcripts

    return _permuted(gen_transcripts(n_convs=n_convs, seed=seed), seed)


def spark_input(spark, key: str, make_pdf, n_files: int) -> tuple[str, dict]:
    """A parquet input directory plus its meta (turn count and oracle
    digest), cached under `key`."""

    def build(data: str) -> dict:
        _write(spark, make_pdf(), data, n_files)
        turns = read_turns(data)
        return {"n_turns": len(turns), "oracle": oracle_digest(turns)}

    return _cached(key, build)


def read_turns(path: str) -> pd.DataFrame:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(
        columns=["conv_id", "turn_idx", "text"]
    ).to_pandas()
