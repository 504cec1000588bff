"""Vector-search driver queries over the embeddings table: exact top-k,
sign-LSH ANN (single-table, multi-table, multi-probe), IVF ANN,
embedding near-dups, cluster profiles and SemDeDup, each beside its
DuckDB oracle, with the scale rules and quantizers they share."""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ocr_spark.queries.common import (
    _oracle_sf_dir,
    _tbl,
    _with_planted_twins,
    oracle,
)


# --- corpus-size-driven bucket parameters (scale rules) --------------------
# Sign-LSH: bucket count must grow with the corpus or intra-bucket exact
# search turns quadratic (N^2 / 2^bits).  Rule: 2^bits ~= N / TARGET, i.e.
# bits = ceil(log2(N / TARGET)), floored at 6 (sandbox floor) and capped at
# 62 (int64 bucket key).  N comes from parquet FOOTER metadata (below) and
# the parameter is derived ONCE in Python integer arithmetic, then injected
# into both engines as a literal — no per-query count() job, and no float
# libm (ceil/log2/sqrt) recomputation that could disagree across engines
# at boundary N.
_LSH_TARGET_BUCKET = 64


def _lsh_bits(n_rows: int) -> int:
    # integer-exact ceil(log2(n/64)): bit_length of (ceil(n/64) - 1)
    q = (max(n_rows, 1) + _LSH_TARGET_BUCKET - 1) // _LSH_TARGET_BUCKET
    return max(6, min(62, (q - 1).bit_length()))


@lru_cache(maxsize=None)
def _emb_count(sf_dir: str) -> int:
    """Row count of the embeddings table read from the parquet FOOTER
    metadata — no Spark job, no data scan; cached per sf dir.  This is
    the sandbox stand-in for Iceberg snapshot statistics (total-records)
    at production scale: the ANN parameter rules need N, never the rows."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/embeddings.parquet").metadata.num_rows


@lru_cache(maxsize=None)
def _emb_dims(sf_dir: str) -> int:
    """Embedding dimensionality, read once from the first row group of
    the parquet file (the list<float> schema does not carry a fixed
    size; an Iceberg table would pin it as a table property)."""
    import pyarrow.parquet as pq

    rg = pq.ParquetFile(f"{sf_dir}/embeddings.parquet").read_row_group(
        0, columns=["embedding"]
    )
    return len(rg.column(0)[0].as_py())


def _oracle_emb() -> tuple[int, int]:
    """(rows, dims) of the embeddings table the DuckDB oracles bind to.
    The oracles derive their ANN parameters from these by the same
    integer rules the Spark queries apply to their sf dir, and inject
    them into the SQL as literals: one parameter derivation, no
    cross-engine float recomputation, no count() jobs."""
    sf = _oracle_sf_dir()
    return _emb_count(sf), _emb_dims(sf)


# --- seeded random hyperplanes (sign-LSH hash family) ----------------------
# ±1 ("Rademacher") hyperplane entries derived from md5 parity of a
# namespaced seed string — deterministic, engine-independent, computed
# ONCE in Python and injected into both plans as literals.  The bucket
# bit is the sign of an EXACT INTEGER dot product: vectors are quantized
# to vfp[d] = floor(v[d] * 1e6) (int64), and the ±1-weighted sum over
# <=2^11 dims stays far below 2^53, so even an engine that sums in
# doubles (DuckDB list_dot_product) computes it exactly — no cross-
# engine ulp risk at the sign boundary, unlike Gaussian hyperplanes.
#
# Multi-table OR-amplification: _LSH_TABLES independent hyperplane sets;
# a pair is a candidate if ANY table buckets it together.  Fewer bits
# per table (one quarter the buckets of the single-table rule) raises
# per-table collision odds, and 16 tables OR the misses away — measured
# recall@3 = 0.90 on the sf0.01 corpus vs 0.07 single-table
# (tools/ann_recall.py), at ~16x the hashing + candidate cost.  That is
# the standard LSH recall/cost knob; at 100 TB both sides of each band
# join stay linear in N (buckets track corpus size via _lsh_bits).
_LSH_TABLES = 16


# Multi-probe variant (q_embedding_ann_lsh_mp): instead of 16 tables
# each probed once, 4 tables each probed 4 times — the own bucket plus
# the buckets reached by flipping each of the 3 lowest-|margin| bits
# (margin = the exact integer hyperplane dot; a small |dot| means the
# vector sits near that plane, so the flipped bucket is the likeliest
# home of missed neighbors — Lv et al., "Multi-Probe LSH", VLDB 2007).
# Same 16 bucket visits per vector as the 16-table build, but 4x less
# hashing work and a 4x smaller INDEX side (vectors are indexed under
# their own bucket only; probing is query-side).  Measured on sf0.01
# (tools/ann_recall.py): recall@3 0.913 / 339 avg candidates vs the
# 16-table build's 0.903 / 318 — strictly better recall at a quarter
# of the index size, so this is the preferred LSH scale path; the
# 16-table OR build stays as the driver-verified comparison point.
_LSH_MP_TABLES = 4


_LSH_MP_PROBES = 4  # own bucket + 3 lowest-|margin| single-bit flips


def _lsh_mt_bits(n_rows: int) -> int:
    return max(4, _lsh_bits(n_rows) - 2)


@lru_cache(maxsize=None)
def _hp_signs(table: int, bits: int, dims: int) -> tuple[tuple[int, ...], ...]:
    return tuple(
        tuple(
            1 if hashlib.md5(f"hp:{table}:{i}:{d}".encode()).digest()[0] & 1
            else -1
            for d in range(dims)
        )
        for i in range(bits)
    )


def _hp_dots(vfp_col: str, table: int, bits: int, dims: int) -> list:
    """The `bits` exact integer dots of the quantized vector with the
    seeded hyperplanes of one table, one column per plane."""
    return [
        F.aggregate(
            F.zip_with(vfp_col, F.array(*[F.lit(s) for s in row]),
                       lambda x, s: x * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for row in _hp_signs(table, bits, dims)
    ]


def _hp_bucket_expr(vfp_col: str, table: int, bits: int, dims: int):
    """Spark bucket key: bit i set iff the exact integer dot of the
    quantized vector with seeded hyperplane i is positive."""
    return sum(
        F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i, d in enumerate(_hp_dots(vfp_col, table, bits, dims))
    )


def _with_vfp(ed: DataFrame) -> DataFrame:
    """ed plus vfp = floor(v * 1e6), the quantized vector the exact
    integer hyperplane dots read."""
    return ed.withColumn(
        "vfp", F.transform("v", lambda x: F.floor(x * F.lit(1000000.0)))
    )


def _sql_hp_bucket(table: int, bits: int, dims: int) -> str:
    """DuckDB twin of _hp_bucket_expr over column vfp and the same
    injected ±1 rows (list_dot_product of integer-valued lists is exact — see above)."""
    signs = _hp_signs(table, bits, dims)
    terms = [
        f"(CASE WHEN list_dot_product(vfp, {list(signs[i])}) > 0"
        f" THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def _sql_hp_dots(table: int, bits: int, dims: int) -> str:
    """DuckDB twin of the multi-probe query's array of _hp_dots: BIGINT[]
    of the exact hyperplane dots of column vfp (list_dot_product of integer-valued lists
    is exact — see the sign-LSH note above)."""
    signs = _hp_signs(table, bits, dims)
    terms = [
        f"list_dot_product(vfp, {list(signs[i])})::BIGINT"
        for i in range(bits)
    ]
    return "[" + ", ".join(terms) + "]"


def _sql_lsh_mp_tables(bits: int, dims: int, n_flip: int) -> str:
    """Per-table CTE bodies for the multi-probe oracle: own bucket +
    margin-sorted probe list from the shared dots list, mirroring
    q_embedding_ann_lsh_mp's expressions (same (|dot|, bit) sort, same
    single-bit flips)."""
    parts = []
    for t in range(_LSH_MP_TABLES):
        parts.append(f"""
            hp{t} AS (
              SELECT vec_id, own,
                     [own] || list_transform(mrg[1:{n_flip}],
                                             s -> xor(own, 1::BIGINT << s.i)) AS pbs
              FROM (
                SELECT vec_id,
                       list_sum([CASE WHEN d[i+1] > 0 THEN (1::BIGINT << i)
                                      ELSE 0 END
                                 for i in range({bits})])::BIGINT AS own,
                       list_sort(list_transform(range({bits}),
                                 i -> {{'m': abs(d[i+1]), 'i': i}})) AS mrg
                FROM (SELECT vec_id,
                             {_sql_hp_dots(t, bits, dims)} AS d
                      FROM ed)
              )
            )""")
    return ",".join(parts)


def _l2_norm(v):
    """L2 norm of an array<double> column as one sequential fold."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def _ed_vectors(e: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>): the embeddings cast once to double."""
    return e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _ed_with_norm(e: DataFrame) -> DataFrame:
    """(vec_id, v: array<double>, nrm): embeddings with the L2 norm
    computed ONCE per vector.  Every pairwise-similarity query divides by
    both norms; computing them per PAIR (round 1) tripled the hot-loop
    flops.  The fold order is identical to the per-pair formulation, so
    the value — and every downstream fixed-point hash — is bit-identical
    (IEEE determinism); the DuckDB oracles factor the norm identically.
    """
    return _ed_vectors(e).withColumn("nrm", _l2_norm("v"))


def _cosine_fp(a, b, na, nb):
    """Fixed-point cosine with PRE-COMPUTED norms (once per vector, not
    per pair — see _ed_with_norm).  Deliberately a JVM-side higher-order
    fold: an Arrow-vectorized pandas-UDF twin (bit-identical per-dim
    fold, 0 mismatches on an 80k-pair A/B) was MEASURED 2-5x slower on
    every ANN verify path at sf0.1 (lsh_mt 14.6->15.6 s, ivf_mp
    9.3->45.8 s) — serializing two 64-dim double arrays per candidate
    pair through the Python bridge costs more than the codegen'd fold
    saves.  See PLANS.md "negative results"."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.floor(dot / (F.col(na) * F.col(nb)) * F.lit(1000000.0)).cast("long")


def _pair_sides(ed: DataFrame, *keys: str) -> tuple[DataFrame, DataFrame]:
    """Query side (query_id, qv, qn, keys...) and neighbor side
    (neighbor_id, v, nrm, keys...) of a (vec_id, v, nrm, keys...) table."""
    q = ed.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), *keys,
    )
    nv = ed.select(F.col("vec_id").alias("neighbor_id"), "v", "nrm", *keys)
    return q, nv


def _topk_by_cosine(pairs: DataFrame, k: int, *keys: str) -> DataFrame:
    """(query_id, keys..., neighbor_id, sim_fp, rnk): the k best joined
    _pair_sides rows per query by fixed-point cosine, ties to the lowest
    neighbor_id; the pass-through `keys` come out as long."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_fp").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select("query_id", *keys, "neighbor_id",
                     _cosine_fp("qv", "v", "qn", "nrm").alias("sim_fp"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", *[F.col(c).cast("long").alias(c) for c in keys],
                "neighbor_id", "sim_fp", F.col("rnk").cast("long").alias("rnk"))
    )


def _ivf_cells(n_rows: int) -> int:
    """IVF coarse-quantizer size: the standard sqrt(N) rule (cells ~ √N
    balances cell-assignment cost N*C against intra-cell search N^2/C;
    see e.g. the FAISS IVF guidelines).  Floor 16 keeps the sandbox
    behavior; math.isqrt is exact integer arithmetic (no libm sqrt whose
    rounding could disagree with an engine's floor(sqrt()) at large
    perfect squares)."""
    return max(16, math.isqrt(max(n_rows, 0)))


# --- trained IVF coarse quantizer ------------------------------------------
# Deterministic sampled spherical k-means (round 2 used the `cells`
# lowest vec_ids as centroids — a degenerate quantizer).  Seeds = the
# `cells` vectors with the lowest md5 fingerprint of their vec_id (a
# deterministic hash sample, so seed quality does not depend on id
# assignment order); a FIXED number of Lloyd iterations assigns each
# unit vector to its max-cosine centroid (fixed-point, ties to the
# lowest cell) and re-normalizes the mean.  Computed ONCE per sf dir in
# pure NumPy on the driver and injected into BOTH engines as literals,
# so cross-engine parity is structural — neither engine re-derives the
# training.
#
# Training reads a HASH SAMPLE, never the whole table: N comes from the
# parquet footer, and when N exceeds the sample cap (~IVF_SAMPLE_PER_CELL
# rows per √N centroid — the standard ≥~39·k training floor from the
# FAISS guidelines, rounded up to 100·k) the trainer keeps only the rows
# whose md5(vec_id) fingerprint ranks in the lowest cap — the SAME
# fingerprint order that picks the seeds, so seeds are by construction
# inside the sample.  Batches stream through pyarrow with the filter
# applied per batch, so peak driver memory is O(cap + one row group),
# bounded even at 10^11 vectors (cap ≈ 100·√N ≈ 3·10^7 rows there — a
# few GB of float32, the documented driver budget; the 10^11-row table
# itself would be ~100 TB).  Sandbox tables sit below the cap, so the
# sandbox trains on all rows — identical centroids to round 3.
# Measured on sf0.01 (tools/ann_recall.py, faithful index-side
# accounting): nprobe=1 recall@3 0.213 -> 0.263, probe=6/index=2
# 0.453@nprobe-4-equivalent -> 0.851 vs the lowest-id quantizer.
_IVF_KMEANS_ITERS = 10


_IVF_NPROBE = 6   # query side fans to its 6 closest cells


_IVF_NINDEX = 2   # index side is assigned to its 2 closest cells


_IVF_SAMPLE_PER_CELL = 100  # training rows per centroid (cap = 100·cells)


def _ivf_training_sample(path: str):
    """(vectors, vec_ids, cells, cap) — the deterministic md5-ranked hash
    sample the k-means trainer runs on.  Factored out of _ivf_centroids
    so tests can assert the row bound directly.  Streams the file batch
    by batch; rows materialized never exceed min(N, cap) + one batch."""
    import numpy as np
    import pyarrow.parquet as pq

    def fp(i) -> int:
        return int(hashlib.md5(str(int(i)).encode()).hexdigest()[:15], 16)

    pf = pq.ParquetFile(path)
    n_rows = pf.metadata.num_rows
    cells = _ivf_cells(n_rows)
    cap = _IVF_SAMPLE_PER_CELL * cells
    if n_rows <= cap:
        t = pq.read_table(path, columns=["vec_id", "embedding"]).to_pandas()
        v = np.stack(t.embedding.to_numpy()).astype(np.float64)
        return v, t.vec_id.to_numpy(), cells, cap
    # pass 1: ids only (8 bytes/row — fine on the driver up to ~10^9
    # rows; beyond that this pass itself becomes a small Spark job
    # selecting the cap lowest fingerprints, same determinism)
    ids = pq.read_table(path, columns=["vec_id"]).column("vec_id").to_numpy()
    fps = np.array([fp(i) for i in ids])
    keep_thresh = np.partition(fps, cap - 1)[cap - 1]
    keep = set(ids[fps <= keep_thresh].tolist())
    # pass 2: stream batches, keep only sampled rows
    vecs, kept_ids = [], []
    for batch in pf.iter_batches(columns=["vec_id", "embedding"]):
        bid = batch.column("vec_id").to_numpy()
        mask = np.array([int(i) in keep for i in bid])
        if mask.any():
            emb = batch.column("embedding").to_pylist()
            vecs.extend(e for e, m in zip(emb, mask) if m)
            kept_ids.extend(bid[mask].tolist())
    v = np.asarray(vecs, dtype=np.float64)
    kept_ids = np.asarray(kept_ids)
    # md5 ties (>cap rows at the threshold) are broken by vec_id order
    # so the sample size is exactly cap, deterministically
    if len(kept_ids) > cap:
        kfps = np.array([fp(i) for i in kept_ids])
        order = np.lexsort((kept_ids, kfps))[:cap]
        order = np.sort(order)
        v, kept_ids = v[order], kept_ids[order]
    return v, kept_ids, cells, cap


@lru_cache(maxsize=None)
def _ivf_centroids(sf_dir: str) -> list[list[float]]:
    import numpy as np

    v, vec_ids, cells, _cap = _ivf_training_sample(
        f"{sf_dir}/embeddings.parquet"
    )
    norm = v / np.linalg.norm(v, axis=1, keepdims=True)
    fps = np.array(
        [
            int(hashlib.md5(str(int(i)).encode()).hexdigest()[:15], 16)
            for i in vec_ids
        ]
    )
    seed_idx = np.sort(np.argsort(fps, kind="stable")[:cells])
    cents = norm[seed_idx].copy()
    for _ in range(_IVF_KMEANS_ITERS):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(np.floor((norm @ cn.T) * 1e6), axis=1)
        new = cn.copy()  # empty cells keep their previous centroid
        for c in range(cells):
            m = assign == c
            if m.any():
                s = norm[m].sum(axis=0)
                ln = np.linalg.norm(s)
                if ln > 0:
                    new[c] = s / ln
        cents = new
    return [[float(x) for x in row] for row in cents]


def _fmt_dvec(row: list[float]) -> str:
    """DuckDB DOUBLE[] literal with exact float64 round-trip: repr() is
    shortest-round-trip, and the e-notation suffix forces the parser
    down the DOUBLE path (a bare decimal literal parses as DECIMAL,
    which loses the last ulp on >15-digit values)."""

    def one(x: float) -> str:
        s = repr(x)
        return s if ("e" in s or "E" in s) else s + "e0"

    return "[" + ", ".join(one(x) for x in row) + "]"


_SQL_EMB_SRC = "(SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings)"


def _sql_ivf_ranked(src: str = _SQL_EMB_SRC) -> str:
    """DuckDB twin of _ivf_ranked (shared by the IVF oracles — the
    quantizer definition lives here and in _ivf_ranked only).  The
    Python-trained k-means centroids of the oracle sf (_ivf_centroids)
    are injected as exact DOUBLE[] literals so both engines rank against
    the identical quantizer.  `src` is any (vec_id, v: DOUBLE[]) relation —
    the default is the raw embeddings table; q_semdedup passes its
    planted-twin corpus."""
    rows = ", ".join(
        f"({i}, {_fmt_dvec(cv)}::DOUBLE[])"
        for i, cv in enumerate(_ivf_centroids(_oracle_sf_dir()))
    )
    return f"""
  ed AS (
    SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM {src}
  ),
  cents AS (
    SELECT col0 AS cid, col1 AS cv, sqrt(list_dot_product(col1, col1)) AS cn
    FROM (VALUES {rows})
  ),
  ranked AS (
    SELECT e.vec_id, e.v, e.nrm, c.cid,
           floor(list_dot_product(e.v, c.cv) /
                 (e.nrm * c.cn) * 1000000.0)::BIGINT AS c_sim,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY floor(list_dot_product(e.v, c.cv) /
                     (e.nrm * c.cn) * 1000000.0)::BIGINT DESC,
                      c.cid ASC) AS rn
    FROM ed e CROSS JOIN cents c
  )
"""


# Sign-LSH ANN (the scale path for q_embedding_topk): bucket on the sign
# pattern of `bits` SEEDED random ±1 hyperplanes (round 2 used the first-
# `bits` axis dims — a degenerate hash family whose recall tracked input
# coordinate quirks), then exact top-3 cosine WITHIN the bucket.
# Replaces the all-pairs cross join with a bucket equi-join; recall is
# approximate (measured by tools/ann_recall.py; the multi-table variant
# below is the recall path), but both engines run the identical
# deterministic plan.  `bits` is derived from corpus size via _lsh_bits
# (bits ~ log2(N/target)), so intra-bucket exact search stays ~target^2
# per bucket instead of going quadratic in N; at production scale N
# comes from table statistics (Iceberg snapshot row count) rather than a
# count() job.
def _ann_lsh_sql() -> str:
    n, dims = _oracle_emb()
    bits = _lsh_bits(n)
    return f"""
            WITH ed AS (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                     {_sql_hp_bucket(0, bits, dims)}::BIGINT AS bkt
              FROM (SELECT vec_id, [x::DOUBLE for x in embedding] AS v,
                           [floor(x::DOUBLE * 1000000.0)::BIGINT
                            for x in embedding] AS vfp
                    FROM embeddings)
            ),
            scored AS (
              SELECT q.vec_id AS query_id, q.bkt, e.vec_id AS neighbor_id,
                     floor(list_dot_product(q.v, e.v) /
                           (q.nrm * e.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM ed q JOIN ed e ON q.bkt = e.bkt AND q.vec_id != e.vec_id
            )
            SELECT query_id, bkt::BIGINT AS bkt, neighbor_id, sim_fp, rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """


@oracle(_ann_lsh_sql)
def q_embedding_ann_lsh(spark, sf_dir):
    e = _tbl(spark, sf_dir, "embeddings")
    n_bits = _lsh_bits(_emb_count(sf_dir))
    dims = _emb_dims(sf_dir)
    ed = _with_vfp(_ed_with_norm(e))
    # long, NOT int: _lsh_bits can legally reach 62 bits (the whole point
    # of the corpus-size rule), and an int32 bucket would overflow at
    # n_bits >= 32 — exactly the 10^11+-vector sizes the rule targets
    ed = ed.withColumn(
        "bkt", _hp_bucket_expr("vfp", 0, n_bits, dims).cast("long")
    )
    q, nv = _pair_sides(ed, "bkt")
    joined = q.join(nv, "bkt").filter(F.col("query_id") != F.col("neighbor_id"))
    return _topk_by_cosine(joined, 3, "bkt")


# Multi-table sign-LSH ANN (the RECALL path of the LSH family): the
# standard OR-amplification construction — _LSH_TABLES independent
# seeded hyperplane sets, each with a quarter of the single-table bucket
# count (_lsh_mt_bits); a pair is a candidate if ANY table buckets it
# together, candidates are deduplicated, and exact top-3 cosine runs
# over the candidate set only.  Measured recall@3 = 0.90 on the sf0.01
# corpus (tools/ann_recall.py, pinned >= 0.8 by tests/test_ann_recall.py)
# vs 0.07 for one table — matching the IVF multi-probe bar with a pure
# band-equi-join plan (no broadcast centroid table needed).  Plan shape:
# one explode x16 -> band self-join -> distinct pairs -> two vector
# joins -> window top-k; every join keys on (table, bucket) or vec_id,
# so at 100 TB everything partitions cleanly and the candidate pair set
# (~L * N / 2^bits per query) is the only superlinear knob — the
# documented price of recall.
def _ann_lsh_mt_sql() -> str:
    n, dims = _oracle_emb()
    bits = _lsh_mt_bits(n)
    return f"""
            WITH ed AS (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, vfp
              FROM (SELECT vec_id, [x::DOUBLE for x in embedding] AS v,
                           [floor(x::DOUBLE * 1000000.0)::BIGINT
                            for x in embedding] AS vfp
                    FROM embeddings)
            ),
            banded AS (
              {" UNION ALL ".join(
                  f"SELECT vec_id, {t} AS t, "
                  f"{_sql_hp_bucket(t, bits, dims)}::BIGINT AS bkt FROM ed"
                  for t in range(_LSH_TABLES)
              )}
            ),
            cand AS (
              SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
              FROM banded a JOIN banded b
                ON a.t = b.t AND a.bkt = b.bkt AND a.vec_id != b.vec_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     floor(list_dot_product(q.v, e.v) /
                           (q.nrm * e.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM cand c
              JOIN ed q ON q.vec_id = c.query_id
              JOIN ed e ON e.vec_id = c.neighbor_id
            )
            SELECT query_id, neighbor_id, sim_fp, rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """


@oracle(_ann_lsh_mt_sql)
def q_embedding_ann_lsh_mt(spark, sf_dir):
    n = _emb_count(sf_dir)
    dims = _emb_dims(sf_dir)
    b = _lsh_mt_bits(n)
    e = _tbl(spark, sf_dir, "embeddings")
    # ed: scanned by the bucket table AND both verify sides; banded:
    # self-joined.  Each is materialized once — without the checkpoints
    # the 16-table hyperplane bucket computation runs twice and the
    # table is scanned four times (no exchange reuse across aliases).
    ed = _ed_with_norm(e).localCheckpoint(eager=False)
    vfp = _with_vfp(ed)
    tb = F.array(*[
        F.struct(
            F.lit(t).cast("int").alias("t"),
            _hp_bucket_expr("vfp", t, b, dims).cast("long").alias("bkt"),
        )
        for t in range(_LSH_TABLES)
    ])
    banded = vfp.select("vec_id", F.explode(tb).alias("tb")).select(
        "vec_id", "tb.t", "tb.bkt"
    ).localCheckpoint(eager=False)
    ba = banded.alias("ba")
    bb = banded.alias("bb")
    cand = (
        ba.join(
            bb,
            (F.col("ba.t") == F.col("bb.t"))
            & (F.col("ba.bkt") == F.col("bb.bkt"))
            & (F.col("ba.vec_id") != F.col("bb.vec_id")),
        )
        .select(
            F.col("ba.vec_id").alias("query_id"),
            F.col("bb.vec_id").alias("neighbor_id"),
        )
        .distinct()
    )
    return _ann_verify_topk(cand, ed)


def _ann_verify_topk(cand: DataFrame, ed: DataFrame) -> DataFrame:
    """Shared exact-verify tail of the LSH and multi-probe IVF candidate
    generators: join the (query_id, neighbor_id) candidate pairs back to
    the vectors, score exact fixed-point cosine, keep top-3 per query."""
    q, nv = _pair_sides(ed)
    return _topk_by_cosine(cand.join(q, "query_id").join(nv, "neighbor_id"), 3)


# Multi-probe sign-LSH ANN (the CHEAPER recall path — see the
# _LSH_MP_TABLES note for the measured comparison vs the 16-table OR
# build).  Index side: each vector under its own bucket in each of 4
# tables (4 index rows/vector — a quarter of the mt build's shuffle).
# Probe side: each QUERY visits its own bucket plus the 3 buckets
# reached by flipping its lowest-|margin| bits, margin = the exact
# integer hyperplane dot both engines already compute for the bucket
# sign.  The probe fan-out is query-side only, so the index stays small
# and every join remains a (t, bucket) equi-join — at 100 TB the probe
# explosion is 16 rows/query against a 4-rows/vector index, all
# linear in N.
def _ann_lsh_mp_sql() -> str:
    n, dims = _oracle_emb()
    bits = _lsh_mt_bits(n)
    return f"""
            WITH ed AS (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, vfp
              FROM (SELECT vec_id, [x::DOUBLE for x in embedding] AS v,
                           [floor(x::DOUBLE * 1000000.0)::BIGINT
                            for x in embedding] AS vfp
                    FROM embeddings)
            ),
            {_sql_lsh_mp_tables(bits, dims, min(_LSH_MP_PROBES - 1, bits))},
            idx AS (
              {" UNION ALL ".join(
                  f"SELECT vec_id, {t} AS t, own AS bkt FROM hp{t}"
                  for t in range(_LSH_MP_TABLES)
              )}
            ),
            probe AS (
              {" UNION ALL ".join(
                  f"SELECT vec_id, {t} AS t, unnest(pbs) AS bkt FROM hp{t}"
                  for t in range(_LSH_MP_TABLES)
              )}
            ),
            cand AS (
              SELECT DISTINCT p.vec_id AS query_id, i.vec_id AS neighbor_id
              FROM probe p JOIN idx i
                ON p.t = i.t AND p.bkt = i.bkt AND p.vec_id != i.vec_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     floor(list_dot_product(q.v, e.v) /
                           (q.nrm * e.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM cand c
              JOIN ed q ON q.vec_id = c.query_id
              JOIN ed e ON e.vec_id = c.neighbor_id
            )
            SELECT query_id, neighbor_id, sim_fp, rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """


@oracle(_ann_lsh_mp_sql)
def q_embedding_ann_lsh_mp(spark, sf_dir):
    n = _emb_count(sf_dir)
    dims = _emb_dims(sf_dir)
    b = _lsh_mt_bits(n)
    n_flip = min(_LSH_MP_PROBES - 1, b)
    e = _tbl(spark, sf_dir, "embeddings")
    ed = _ed_with_norm(e).localCheckpoint(eager=False)
    x = _with_vfp(ed)
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(b)])
    idx_seq = F.sequence(F.lit(0), F.lit(b - 1))
    for t in range(_LSH_MP_TABLES):
        # the dots once per vector per table: the common input of the
        # own-bucket bits AND the multi-probe margins
        x = x.withColumn(f"d{t}", F.array(*_hp_dots("vfp", t, b, dims)))
        own = F.aggregate(
            F.zip_with(
                F.col(f"d{t}"), powers,
                lambda d, p: F.when(d > 0, p).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, v_: acc + v_,
        )
        x = x.withColumn(f"own{t}", own)
        # margin order: structs sort by (|dot|, bit index) ascending in
        # BOTH engines (lexicographic struct ordering)
        mrg = F.array_sort(F.zip_with(
            F.col(f"d{t}"), idx_seq,
            lambda d, i: F.struct(
                F.abs(d).alias("m"), i.cast("long").alias("i")
            ),
        ))
        flips = F.transform(
            F.slice(mrg, 1, n_flip),
            lambda s: F.col(f"own{t}").bitwiseXOR(
                F.element_at(powers, (s["i"] + 1).cast("int"))
            ),
        )
        x = x.withColumn(
            f"pb{t}", F.concat(F.array(F.col(f"own{t}")), flips)
        )
    # hyperplane dots/buckets computed ONCE (checkpoint), then the index
    # and probe tables are cheap projections of that materialization
    x = x.select(
        "vec_id",
        *[F.col(f"own{t}") for t in range(_LSH_MP_TABLES)],
        *[F.col(f"pb{t}") for t in range(_LSH_MP_TABLES)],
    ).localCheckpoint(eager=False)
    index = x.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(t).cast("int").alias("t"),
                     F.col(f"own{t}").alias("bkt"))
            for t in range(_LSH_MP_TABLES)
        ])).alias("tb"),
    ).select(F.col("vec_id").alias("neighbor_id"), "tb.t", "tb.bkt")
    # factory, NOT `lambda bk, t=t`: a two-parameter lambda makes
    # F.transform pass the array INDEX as the second argument, silently
    # overwriting the table id with the probe position
    def _tag(t: int):
        return F.transform(
            F.col(f"pb{t}"),
            lambda bk: F.struct(
                F.lit(t).cast("int").alias("t"), bk.alias("bkt")
            ),
        )

    probe = x.select(
        "vec_id",
        F.explode(F.concat(*[_tag(t) for t in range(_LSH_MP_TABLES)]))
        .alias("tb"),
    ).select(F.col("vec_id").alias("query_id"), "tb.t", "tb.bkt")
    cand = (
        probe.join(index, ["t", "bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _ann_verify_topk(cand, ed)


# Brute-force cosine top-k over the embeddings table (baseline ANN path):
# query set = vec_id < 20; k = 5; all math in float64 with a sequential
# fold so both engines produce bit-identical sums; similarity is
# fixed-pointed for ranking and output.
#
# ORACLE-BASELINE-ONLY: the crossJoin is the exact ground truth used to
# validate q_embedding_ann_lsh / q_embedding_ann_ivf (the scale paths).
# Never run it at production scale.
@oracle("""
            WITH ed AS (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM (
                SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
              )
            ),
            scored AS (
              SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                     floor(list_dot_product(q.v, e.v) /
                           (q.nrm * e.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM ed q JOIN ed e ON q.vec_id < 20 AND q.vec_id != e.vec_id
            )
            SELECT query_id, neighbor_id, sim_fp, rnk::BIGINT AS rnk FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 5
        """)
def q_embedding_topk(spark, sf_dir):
    q, nv = _pair_sides(_ed_with_norm(_tbl(spark, sf_dir, "embeddings")))
    joined = q.filter(F.col("query_id") < 20).crossJoin(nv).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    return _topk_by_cosine(joined, 5)


# Embedding-cosine near-dup: pairs with cosine >= 0.999, found through
# corpus-size-driven sign-LSH buckets (same _lsh_bits rule as the ANN
# query; a scaled copy keeps every sign, so true near-dups always share a
# bucket — exact for the planted family at ANY bit width, linear cost).
# Planted dups: vec_id < 10 re-emitted as vec_id + 1000000 scaled by 2
# (cosine exactly 1 with the original).
def _neardup_sql() -> str:
    bits = _lsh_bits(_oracle_emb()[0])
    return f"""
            WITH base AS (
              SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
            ),
            alle AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id, [x * 2.0 for x in v] AS v
              FROM base WHERE vec_id < 10
            ),
            eb AS (
              SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm,
                     list_sum([CASE WHEN v[i+1] > 0
                                    THEN 1::BIGINT << i ELSE 0 END
                               for i in range({bits})])::BIGINT AS bkt
              FROM alle
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   floor(list_dot_product(a.v, b.v) /
                         (a.nrm * b.nrm) * 1000000.0)::BIGINT AS sim_fp
            FROM eb a JOIN eb b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
            WHERE floor(list_dot_product(a.v, b.v) /
                        (a.nrm * b.nrm) * 1000000.0) >= 999000
        """


@oracle(_neardup_sql)
def q_embedding_neardup(spark, sf_dir):
    n_bits = _lsh_bits(_emb_count(sf_dir))
    alle = _with_planted_twins(
        _ed_vectors(_tbl(spark, sf_dir, "embeddings")), "vec_id", "v",
        10, F.transform("v", lambda x: x * F.lit(2.0)),
    ).withColumn("nrm", _l2_norm("v"))
    bkt = sum(
        F.when(F.element_at("v", i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    )
    # long, not int — see the bucket-width note in q_embedding_ann_lsh.
    # Materialized once: the bucket self-join would otherwise evaluate
    # the norm+bucket subtree twice (no exchange reuse across aliases).
    alle = alle.withColumn("bkt", bkt.cast("long")).localCheckpoint(eager=False)
    q, nv = _pair_sides(alle, "bkt")
    joined = q.join(nv, "bkt").filter(F.col("query_id") < F.col("neighbor_id"))
    return joined.select(
        F.col("query_id").alias("vec_a"), F.col("neighbor_id").alias("vec_b"),
        _cosine_fp("qv", "v", "qn", "nrm").alias("sim_fp"),
    ).filter(F.col("sim_fp") >= 999000)


# IVF ANN (the second approximate-search family beside sign-LSH): a
# deterministic coarse quantizer (the sampled k-means centroids of
# _ivf_centroids), cells assigned by max fixed-point cosine with ties
# to the lowest centroid id, then exact top-3 WITHIN the cell (nprobe=1).
# The centroid table broadcasts; the intra-cell search is a cell
# equi-join — at scale both sides partition by cell with no cross join.
# `cells` follows the standard ~sqrt(N) IVF rule (_ivf_cells), so
# intra-cell exact search stays ~N^1.5 total instead of N^2/const; at
# production scale N comes from table statistics.
def _ivf_ranked_plan(spark, sf_dir):
    """Shared IVF coarse-quantizer assignment: every vector ranked
    against the broadcast TRAINED centroid table (_ivf_centroids,
    deterministic sampled k-means injected as literals) by fixed-point
    cosine (ties to the lowest cell id).  rn == 1 is a vector's primary
    cell; rn <= p are its p closest cells.  Both IVF queries and both
    DuckDB oracles (_sql_ivf_ranked) build on this one definition, so
    the quantizer rule lives in exactly two places (Spark + SQL).
    Un-checkpointed plan — tests assert the broadcast-assignment shape
    here; queries use _ivf_ranked below."""
    e = _tbl(spark, sf_dir, "embeddings")
    return _ivf_assign(spark, sf_dir, _ed_with_norm(e))


def _ivf_assign(spark, sf_dir, ed: DataFrame) -> DataFrame:
    """Quantizer assignment over ANY (vec_id, v, nrm) relation: every
    vector ranked against the broadcast trained centroids.  Split out of
    _ivf_ranked_plan so q_semdedup can assign its planted-twin corpus
    with the same one quantizer definition."""
    cents = spark.createDataFrame(
        [(i, cv) for i, cv in enumerate(_ivf_centroids(sf_dir))],
        "cid int, cv array<double>",
    ).select("cid", "cv", _l2_norm("cv").alias("cn"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("c_sim").desc(), F.col("cid").asc()
    )
    return (
        ed.crossJoin(F.broadcast(cents))
        .select("vec_id", "v", "nrm", "cid",
                _cosine_fp("v", "cv", "nrm", "cn").alias("c_sim"))
        .withColumn("rn", F.row_number().over(w_assign))
    )


def _ivf_ranked(spark, sf_dir):
    """_ivf_ranked_plan materialized once per query (localCheckpoint):
    both IVF queries filter it twice (probe side rn<=p, index side
    rn<=i) and the quantizer assignment is the expensive subtree —
    without the checkpoint each filter re-runs it (no exchange reuse
    across the two references; measured 8.8 s -> 2.6 s for ivf_mp at
    sf0.1)."""
    return _ivf_ranked_plan(spark, sf_dir).localCheckpoint(eager=False)


@oracle(lambda: f"""
            WITH {_sql_ivf_ranked()},
            assigned AS (
              SELECT vec_id, v, nrm, cid AS cell FROM ranked WHERE rn = 1
            ),
            scored AS (
              SELECT q.vec_id AS query_id, q.cell, n.vec_id AS neighbor_id,
                     floor(list_dot_product(q.v, n.v) /
                           (q.nrm * n.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM assigned q JOIN assigned n
                ON q.cell = n.cell AND q.vec_id != n.vec_id
            )
            SELECT query_id, cell::BIGINT AS cell, neighbor_id, sim_fp, rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """)
def q_embedding_ann_ivf(spark, sf_dir):
    assigned = (
        _ivf_ranked(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .select("vec_id", "v", "nrm", F.col("cid").alias("cell"))
    )
    q, nv = _pair_sides(assigned, "cell")
    joined = q.join(nv, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    return _topk_by_cosine(joined, 3, "cell")


# Multi-probe, multi-assignment IVF ANN: each query vector probes its
# _IVF_NPROBE=6 closest cells, and each vector is INDEXED under its
# _IVF_NINDEX=2 closest cells (the multi-assignment/"spilling" IVF
# variant — double the index size buys back the recall a hard partition
# loses at cell boundaries).  Candidate (query, neighbor) pairs are
# deduplicated before exact scoring — a pair can meet in up to 2 cells,
# and scoring duplicates would corrupt the row_number top-k.  Measured
# recall@3 on the sandbox corpus with FAITHFUL index-side accounting
# (tools/ann_recall.py): 0.213 single-probe -> 0.851 at probe=6/index=2
# over the k-means quantizer, scanning ~half the corpus at sandbox N
# (the ratio shrinks as cells scale with √N).  Plan shape: probe side
# fans x6, index side x2, same cell equi-join -> distinct -> two vector
# joins -> window top-k; everything partitions by cell or vec_id.
@oracle(lambda: f"""
            WITH {_sql_ivf_ranked()},
            probes AS (
              SELECT vec_id AS query_id, cid AS cell
              FROM ranked WHERE rn <= {_IVF_NPROBE}
            ),
            idx AS (
              SELECT vec_id AS neighbor_id, cid AS cell
              FROM ranked WHERE rn <= {_IVF_NINDEX}
            ),
            cand AS (
              SELECT DISTINCT p.query_id, i.neighbor_id
              FROM probes p JOIN idx i
                ON p.cell = i.cell AND p.query_id != i.neighbor_id
            ),
            scored AS (
              SELECT c.query_id, c.neighbor_id,
                     floor(list_dot_product(q.v, e.v) /
                           (q.nrm * e.nrm) * 1000000.0)::BIGINT AS sim_fp
              FROM cand c
              JOIN ed q ON q.vec_id = c.query_id
              JOIN ed e ON e.vec_id = c.neighbor_id
            )
            SELECT query_id, neighbor_id, sim_fp, rnk::BIGINT AS rnk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY sim_fp DESC, neighbor_id ASC) AS rnk
              FROM scored
            ) WHERE rnk <= 3
        """)
def q_embedding_ann_ivf_mp(spark, sf_dir):
    ranked = _ivf_ranked(spark, sf_dir)
    probes = ranked.filter(F.col("rn") <= _IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"), F.col("cid").alias("cell")
    )
    index = ranked.filter(F.col("rn") <= _IVF_NINDEX).select(
        F.col("vec_id").alias("neighbor_id"), F.col("cid").alias("cell")
    )
    cand = (
        probes.join(index, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # materialized once: the verify stage attaches vectors to BOTH pair
    # sides (q/nv below) — without the checkpoint that is two more
    # table scans + norm recomputations
    ed = _ed_with_norm(_tbl(spark, sf_dir, "embeddings")).localCheckpoint(
        eager=False
    )
    return _ann_verify_topk(cand, ed)


# Embedding cluster profile (P35): the cluster-balance diagnostic a
# semantic-dedup / curriculum pipeline reads before trusting an IVF or
# SemDeDup partition — per-cell population, id range, and the summed
# fixed-point cosine of members to their own centroid (tight cells sum
# high; a junk cell catching unrelated vectors sums low).  Reuses the
# ONE trained-quantizer definition (_ivf_ranked / _sql_ivf_ranked);
# rn == 1 rows fold into per-cell aggregates — a hash agg on the cell
# key, output rows = cells ~ sqrt(N), trivially linear at 100 TB.  Sums
# stay integer (c_sim is already fixed-point) so engines cannot drift.
@oracle(lambda: f"""
            WITH {_sql_ivf_ranked()}
            SELECT cid::BIGINT AS cell, count(*)::BIGINT AS n_vecs,
                   min(vec_id) AS min_vec, max(vec_id) AS max_vec,
                   sum(c_sim)::BIGINT AS sum_sim
            FROM ranked WHERE rn = 1
            GROUP BY 1
        """)
def q_cluster_profile(spark, sf_dir):
    return (
        _ivf_ranked(spark, sf_dir)
        .filter(F.col("rn") == 1)
        .groupBy(F.col("cid").cast("long").alias("cell"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.min("vec_id").alias("min_vec"),
            F.max("vec_id").alias("max_vec"),
            F.sum("c_sim").cast("long").alias("sum_sim"),
        )
    )


# SemDeDup (P44): semantic deduplication inside trained k-means cells —
# the published embedding-dedup scale path (Abbas et al. 2023,
# arXiv:2303.09540).  Pairwise cosine is computed only WITHIN a cell
# (√N cells -> ~N^1.5 total pair work instead of N^2), members are
# ordered by similarity to their own centroid ASCENDING (the paper
# keeps the example farthest from the centroid in each duplicate
# group), and a vector is dropped iff some earlier-ordered cell-mate is
# within the cosine threshold — the upper-triangle one-pass rule of the
# reference implementation, no iteration.  Semantic duplicates are
# PLANTED (vec_id < 20 re-emitted as vec_id + 1000000 with dimension 1
# zeroed — same direction up to one axis, cosine ~0.99) so non-trivial
# drops exist at every sf; the corpus' organic within-cell cosines top
# out near 0.6 (measured), so the 0.9 threshold separates cleanly.
# Reuses the ONE trained-quantizer definition (_ivf_assign /
# _sql_ivf_ranked) — a twin lands in its original's cell unless the
# zeroed axis flips the assignment, which is the documented IVF
# partition-miss SemDeDup inherits.  Scale shape: broadcast centroids,
# cell equi-join for pairs, everything else linear.
_SEMDEDUP_TAU = 900000   # fixed-point cosine drop threshold (0.90)


_SEMDEDUP_PLANT = 20     # vec_id < PLANT gets a planted near-twin


@oracle(lambda: f"""
            WITH base AS (
              SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
            ),
            alle AS (
              SELECT vec_id, v FROM base
              UNION ALL
              SELECT vec_id + 1000000 AS vec_id,
                     [CASE WHEN i = 0 THEN 0.0 ELSE v[i + 1] END
                      for i in range(len(v))] AS v
              FROM base WHERE vec_id < {_SEMDEDUP_PLANT}
            ),
            {_sql_ivf_ranked("alle")},
            ordr AS (
              SELECT vec_id, v, nrm, cid, c_sim,
                     row_number() OVER (PARTITION BY cid
                                        ORDER BY c_sim ASC, vec_id ASC) AS ord
              FROM ranked WHERE rn = 1
            ),
            drops AS (
              SELECT DISTINCT b.vec_id
              FROM ordr a JOIN ordr b
                ON a.cid = b.cid AND a.ord < b.ord
              WHERE floor(list_dot_product(a.v, b.v) /
                          (a.nrm * b.nrm) * 1000000.0)::BIGINT >= {_SEMDEDUP_TAU}
            )
            SELECT o.vec_id, o.cid::BIGINT AS cell, o.c_sim,
                   (d.vec_id IS NOT NULL) AS dropped
            FROM ordr o LEFT JOIN drops d ON d.vec_id = o.vec_id
        """)
def q_semdedup(spark, sf_dir):
    alle = _with_planted_twins(
        _ed_vectors(_tbl(spark, sf_dir, "embeddings")), "vec_id", "v",
        _SEMDEDUP_PLANT,
        F.transform("v", lambda x, i: F.when(i == 0, F.lit(0.0)).otherwise(x)),
    ).withColumn("nrm", _l2_norm("v"))
    # materialized once: referenced by both sides of the within-cell
    # pair join AND the final left join (no exchange reuse across
    # self-join aliases)
    ranked = (
        _ivf_assign(spark, sf_dir, alle)
        .filter(F.col("rn") == 1)
        .withColumn(
            "ord",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(
                    F.col("c_sim").asc(), F.col("vec_id").asc()
                )
            ),
        )
        .select("vec_id", "v", "nrm", "cid", "c_sim", "ord")
        .localCheckpoint(eager=False)
    )
    a = ranked.select(
        "cid", F.col("ord").alias("ord_a"),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = ranked.select(
        "cid", "vec_id", F.col("ord").alias("ord_b"),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    drops = (
        a.join(b, "cid")
        .filter(F.col("ord_a") < F.col("ord_b"))
        .filter(_cosine_fp("va", "vb", "na", "nb") >= _SEMDEDUP_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("_d", F.lit(1))
    )
    return (
        ranked.join(drops, "vec_id", "left")
        .select(
            "vec_id",
            F.col("cid").cast("long").alias("cell"),
            "c_sim",
            F.col("_d").isNotNull().alias("dropped"),
        )
    )
