"""Streaming MinHash near-dup — the continuous twin of the batch
MinHash+LSH pipeline (P3, `ocr_spark.queries.dedup.q_minhash_lsh`).

Stage map (batch -> stream):
  - shingle fingerprints + K=8 affine min-hash signature + 4x2 banding:
    the batch query's own builders (`shingle_fp`, `minhash`,
    `minhash_bands`), applied with array functions instead of the batch
    explode+groupBy — same values per doc, no shuffle needed before the
    stateful stage;
  - the band-bucket self-JOIN becomes `grouped_state` keyed on
    (band, mh0, mh1): the state cell holds the docs previously seen in
    that bucket (doc_id + shingle multiset); each arriving doc is
    exact-Jaccard-verified against them and qualifying pairs
    (>= 0.5, fixed-point) are emitted immediately.

Semantics: the emitted pair SET equals the batch query's over the same
bounded input, independent of arrival order — every co-bucketed pair is
compared exactly once (later arrival vs. state, or in-batch vs. earlier
in the same micro-batch), re-delivered doc_ids are skipped
idempotently, and the exact-Jaccard arithmetic mirrors the batch floor/
float formulation op for op.  A pair sharing MULTIPLE bands emits once
per matching band (at-least-once per pair); consumers key on
(doc_a, doc_b) — deduplicating inside the query would chain a second
stateful operator for no semantic gain.

State bound: EventTimeTimeout evicts a bucket's state once the
watermark passes its last arrival + the dedup horizon, so state is
(horizon x arrival rate x shingles/doc), not stream length — the same
bounding contract as `dedup_turns`.  Near-dups separated by more than
the horizon are owned by the batch pass, as with exact dedup.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ocr_spark.functions.text import md5_long, word3_shingles
from ocr_spark.sources.transcripts import DOCS_STREAM_SCHEMA
from ocr_spark.streaming.launch import (
    DEDUP_WATERMARK, epoch_ms, grouped_state, stream_op,
)

# Cross-engine MinHash family: shingle fingerprints are md5_long(sh)
# reduced mod the Mersenne prime M31, so the K affine min-hashes
# h_k = (A_k*fp + B_k) % M31 stay well inside int64.
M31 = 2_147_483_647
MINHASH_A = [2, 3, 5, 7, 11, 13, 17, 19]
MINHASH_B = [1, 2, 3, 4, 5, 6, 7, 8]
_JACCARD_FP_MIN = 500_000

PAIR_SCHEMA = "doc_a long, doc_b long, jaccard_fp long"
_STATE_SCHEMA = (
    "doc_ids array<long>, shingle_sets array<array<long>>, last_ms long"
)

_HORIZON_MS = 60 * 60 * 1000  # state eviction horizon (1 hour)


def shingle_fp(sh: Column) -> Column:
    """MinHash input fingerprint of one shingle string (mod M31)."""
    return md5_long(sh) % F.lit(M31)


def minhash(k: int, fp: Column) -> Column:
    """The k-th affine hash of fingerprint `fp`."""
    return (F.lit(MINHASH_A[k]) * fp + F.lit(MINHASH_B[k])) % F.lit(M31)


def minhash_bands() -> Column:
    """The 4x2 banding of signature columns mh0..mh7: an array of 4
    (band, mh0, mh1) structs, one per band of two consecutive
    min-hashes."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.col(f"mh{2 * j}").alias("mh0"),
                F.col(f"mh{2 * j + 1}").alias("mh1"),
            )
            for j in range(4)
        ]
    )


def with_band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, ts, shingles, band, mh0, mh1) x 4 bands per doc — the
    stateless signature stage.  Documents with no 3-gram shingle are
    dropped, as in batch (they have no signature rows there either)."""
    words = docs.select("doc_id", "ts", F.split("text", " ").alias("w"))
    fps = F.transform(word3_shingles("w"), shingle_fp)
    d = words.select("doc_id", "ts", fps.alias("shingles")).filter(
        F.size("shingles") > 0
    )
    mh = [
        F.array_min(F.transform("shingles", lambda x: minhash(k, x))).alias(
            f"mh{k}"
        )
        for k in range(8)
    ]
    sig = d.select("doc_id", "ts", "shingles", *mh)
    return sig.select(
        "doc_id", "ts", "shingles", F.explode(minhash_bands()).alias("b")
    ).select("doc_id", "ts", "shingles", "b.band", "b.mh0", "b.mh1")


def _jaccard_fp(ca: Counter, na: int, cb: Counter, nb: int) -> int:
    # mirrors the batch join arithmetic exactly: shared counts matching
    # fingerprint ROW pairs (multiplicity product — collisions of two
    # distinct shingles onto one fp are astronomically rare but the
    # batch join would count them this way), float64 scale + floor
    shared = sum(cnt * cb[v] for v, cnt in ca.items() if v in cb)
    if shared == 0:
        return 0
    return int(math.floor(shared * 1000000.0 / (na + nb - shared)))


def fold_bucket(
    key: tuple, state: tuple | None, docs: pd.DataFrame
) -> tuple[tuple, list[dict]]:
    """Verify a bucket's new docs against the docs in state and each
    other; returns the grown state and the qualifying pairs."""
    doc_ids, shingle_sets, last_ms = state or ([], [], 0)
    # plain Python ints: the state round-trips through the JVM pickler,
    # which rejects numpy scalar types
    doc_ids = [int(x) for x in doc_ids]
    shingle_sets = [[int(x) for x in s] for s in shingle_sets]
    last_ms = int(last_ms)
    counters = [Counter(s) for s in shingle_sets]
    known = set(doc_ids)
    pairs = []
    # deterministic intra-batch order (the pair set is order-independent,
    # but a stable order keeps re-runs byte-identical)
    arrivals = sorted(
        [
            (int(d), [int(x) for x in sh], t)
            for d, sh, t in zip(
                docs["doc_id"], docs["shingles"], epoch_ms(docs["ts"]).tolist()
            )
        ],
        key=lambda a: a[0],
    )
    for doc_id, sh, t in arrivals:
        if doc_id in known:  # idempotent re-delivery
            continue
        ca = Counter(sh)
        for other_id, other_sh, cb in zip(doc_ids, shingle_sets, counters):
            j = _jaccard_fp(ca, len(sh), cb, len(other_sh))
            if j >= _JACCARD_FP_MIN:
                pairs.append({
                    "doc_a": min(doc_id, other_id),
                    "doc_b": max(doc_id, other_id),
                    "jaccard_fp": j,
                })
        doc_ids.append(doc_id)
        shingle_sets.append(sh)
        counters.append(ca)
        known.add(doc_id)
        last_ms = max(last_ms, t)
    return (doc_ids, shingle_sets, last_ms), pairs


def flush_bucket(key: tuple, state: tuple) -> list[dict]:
    """An evicted bucket emits nothing: its pairs left on arrival."""
    return []


@stream_op(DOCS_STREAM_SCHEMA)
def minhash_neardup_pairs(docs: DataFrame) -> DataFrame:
    """The streaming near-dup operator over a (doc_id, text, ts) document
    stream; emits exact-verified pairs (doc_a, doc_b, jaccard_fp),
    at-least-once per shared band (see module docstring)."""
    return grouped_state(
        with_band_rows(docs), ["band", "mh0", "mh1"], fold_bucket,
        flush_bucket, PAIR_SCHEMA, _STATE_SCHEMA, _HORIZON_MS, DEDUP_WATERMARK,
    )
