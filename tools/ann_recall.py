"""ANN quality instrumentation: recall@k of the engine's two approximate
search paths against exact brute force, plus the multi-probe tradeoff.

Pure-NumPy twin of the query semantics in ocr_spark/queries/vectors.py
(same sign-LSH bucket rule via _lsh_bits, same lowest-id IVF quantizer
via _ivf_cells),
run over a driver sf dir.  Prints one JSON line:

  {"sf_dir": ..., "n": ..., "lsh": {"bits": b, "recall_at_3": r,
   "avg_candidates": c}, "ivf": {"cells": m, "nprobe": {1: {...}, ...}}}

Context for reading the numbers: the sandbox embeddings are near-random,
so ANY partitioned search has low top-k recall (near-orthogonal vectors
have essentially arbitrary top-3 sets).  On clustered production
embeddings the same plans recall far more; what this tool pins is the
recall/candidate-count TRADEOFF (nprobe doubles candidates and recall
moves with it) so parameter choices are measured, not guessed.  Near-dup
recall (the dedup use case) is exact by construction — planted
duplicates always share a bucket — and is driver-verified separately
(q_embedding_neardup).

Usage: python tools/ann_recall.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.queries.vectors import (  # noqa: E402
    _IVF_NINDEX,
    _IVF_NPROBE,
    _LSH_MP_PROBES,
    _LSH_MP_TABLES,
    _LSH_TABLES,
    _hp_signs,
    _ivf_cells,
    _ivf_centroids,
    _lsh_bits,
    _lsh_mt_bits,
)


def measure(sf_dir: str, k: int = 3) -> dict:
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    v = np.stack(t.embedding.to_numpy()).astype(np.float64)
    n = len(v)
    norm = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -2.0)
    exact = np.argsort(-sims, axis=1)[:, :k]

    def recall_for(
        groups: np.ndarray, index_groups: np.ndarray | None = None
    ) -> tuple[float, float]:
        """groups: (n, p) PROBE group ids per row.  index_groups: the
        groups each row is INDEXED under (defaults to `groups` — correct
        for the symmetric LSH band joins; the IVF queries index under
        fewer cells than they probe, and conflating the two overstates
        recall, which is exactly what the round-2 instrumentation did).
        Candidates = rows indexed under any probed group."""
        hits = tot = cand_total = 0
        # invert group -> members once
        from collections import defaultdict

        members = defaultdict(list)
        idx = groups if index_groups is None else index_groups
        for i, gs in enumerate(idx):
            for g in set(gs.tolist()):
                members[g].append(i)
        for i in range(n):
            cand = set()
            for g in set(groups[i].tolist()):
                cand.update(members[g])
            cand.discard(i)
            cand_total += len(cand)
            if not cand:
                tot += k
                continue
            cl = np.fromiter(cand, dtype=np.int64)
            top = cl[np.argsort(-sims[i, cl])][:k]
            hits += len(set(top.tolist()) & set(exact[i].tolist()))
            tot += k
        return hits / tot, cand_total / n

    # seeded random-hyperplane buckets — the EXACT twin of the Spark/
    # DuckDB rule: quantize to int64 (floor(v * 1e6)), ±1-weighted
    # integer dot per plane, bit = (dot > 0)
    vfp = np.floor(v * 1e6).astype(np.int64)
    dims = v.shape[1]

    def hp_buckets(table: int, bits: int) -> np.ndarray:
        signs = np.array(_hp_signs(table, bits, dims), dtype=np.int64)
        dots = vfp @ signs.T
        return (dots > 0) @ (1 << np.arange(bits, dtype=np.int64))

    bits = _lsh_bits(n)
    lsh_recall, lsh_cand = recall_for(hp_buckets(0, bits)[:, None])

    # multi-table OR-amplification (q_embedding_ann_lsh_mt): candidates
    # = union over _LSH_TABLES independent hyperplane sets.  recall_for
    # namespaces each table's buckets so same-key-different-table groups
    # never merge.
    mt_bits = _lsh_mt_bits(n)
    assert mt_bits < 56, "table-namespace shift needs bits < 56"
    mt_groups = np.stack(
        [hp_buckets(t, mt_bits) | (t << 56) for t in range(_LSH_TABLES)],
        axis=1,
    )
    mt_recall, mt_cand = recall_for(mt_groups)

    # multi-probe (q_embedding_ann_lsh_mp): _LSH_MP_TABLES tables; the
    # INDEX holds each vector under its own bucket only, the QUERY also
    # probes the buckets reached by flipping its lowest-|margin| bits
    # (margin = |integer hyperplane dot|, ties by bit index — the exact
    # twin of both engines' struct sort).  Asymmetric accounting via
    # index_groups, like the IVF paths.
    n_flip = min(_LSH_MP_PROBES - 1, mt_bits)
    mp_probe_cols, mp_index_cols = [], []
    for t in range(_LSH_MP_TABLES):
        signs = np.array(_hp_signs(t, mt_bits, dims), dtype=np.int64)
        dots = vfp @ signs.T
        own = (dots > 0) @ (1 << np.arange(mt_bits, dtype=np.int64))
        marg = np.lexsort(
            (np.tile(np.arange(mt_bits), (n, 1)), np.abs(dots)), axis=1
        )
        ns = t << 56
        mp_index_cols.append(own | ns)
        mp_probe_cols.append(own | ns)
        for j in range(n_flip):
            mp_probe_cols.append((own ^ (1 << marg[:, j])) | ns)
    mp_recall, mp_cand = recall_for(
        np.stack(mp_probe_cols, axis=1),
        index_groups=np.stack(mp_index_cols, axis=1),
    )

    # IVF over the TRAINED k-means quantizer (_ivf_centroids — the same
    # literals both engines rank against), with the engines' fixed-point
    # + lowest-cid tie-break and FAITHFUL index-side accounting: the
    # index holds each vector under its _IVF_NINDEX closest cells, the
    # query probes nprobe cells.
    cells = _ivf_cells(n)
    cents = np.array(_ivf_centroids(sf_dir), dtype=np.float64)
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cs = np.floor((norm @ cn.T) * 1e6)
    order = np.lexsort(
        (np.tile(np.arange(cs.shape[1]), (n, 1)), -cs), axis=1
    )
    ivf = {}
    for nprobe in (1, 2, 4, _IVF_NPROBE):
        r, c = recall_for(order[:, :nprobe],
                          index_groups=order[:, :_IVF_NINDEX])
        ivf[str(nprobe)] = {
            "recall_at_k": round(r, 4),
            "avg_candidates": round(c, 1),
        }
    # the single-probe, single-index structure of q_embedding_ann_ivf
    r1s, c1s = recall_for(order[:, :1], index_groups=order[:, :1])

    return {
        "sf_dir": sf_dir,
        "n": n,
        "k": k,
        "lsh": {
            "bits": bits,
            "recall_at_k": round(lsh_recall, 4),
            "avg_candidates": round(lsh_cand, 1),
        },
        "lsh_mt": {
            "tables": _LSH_TABLES,
            "bits": mt_bits,
            "recall_at_k": round(mt_recall, 4),
            "avg_candidates": round(mt_cand, 1),
        },
        "lsh_mp": {
            "tables": _LSH_MP_TABLES,
            "probes": 1 + n_flip,
            "bits": mt_bits,
            "recall_at_k": round(mp_recall, 4),
            "avg_candidates": round(mp_cand, 1),
        },
        "ivf": {
            "cells": cells,
            "n_index": _IVF_NINDEX,
            "nprobe": ivf,
            "single_probe_single_index": {
                "recall_at_k": round(r1s, 4),
                "avg_candidates": round(c1s, 1),
            },
        },
        "note": "sandbox embeddings are near-random; read the tradeoff, "
                "not the absolute recall (see module docstring)",
    }


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    print(json.dumps(measure(sf, k)))
