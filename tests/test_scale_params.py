"""Scale rules for the near-dup/ANN bucket parameters (round-2 hardening).

Round 1 ran sign-LSH with 6 fixed bits, IVF with 16 fixed centroids, and
SimHash with 8-bit bands — fine at sf0.1, quadratic at 10^9 docs.  These
tests pin the corpus-size-driven rules that replace them:
  - sign-LSH bits ~ log2(N / target_bucket)  (buckets grow with corpus)
  - IVF cells ~ sqrt(N)                      (standard IVF sizing)
  - SimHash 60-bit fingerprint, 4x15-bit bands (pigeonhole exact for
    hamming <= 3, band-key space 2^15 per band instead of 2^8)
"""

import numpy as np

from ocr_spark.queries.dedup import _SIMHASH_BAND_WIDTH, _SIMHASH_BITS
from ocr_spark.queries.vectors import _ivf_cells, _lsh_bits


def test_lsh_bits_grow_with_corpus():
    # sandbox floor: small corpora keep 6 bits (round-1 behavior)
    assert _lsh_bits(500) == 6
    assert _lsh_bits(2000) == 6
    # the rule: 2^bits ~= N / 64
    assert _lsh_bits(10**6) == 14
    assert _lsh_bits(10**9) == 24
    assert _lsh_bits(10**12) == 34
    # int64 bucket-key cap
    assert _lsh_bits(2**80) == 62
    # degenerate inputs
    assert _lsh_bits(0) == 6


def test_ivf_cells_sqrt_rule():
    assert _ivf_cells(10) == 16          # sandbox floor
    assert _ivf_cells(500) == 22
    assert _ivf_cells(10**6) == 1000
    assert _ivf_cells(10**12) == 10**6
    assert _ivf_cells(0) == 16


def test_simhash_band_geometry():
    # 4 bands cover the whole fingerprint: pigeonhole argument needs this
    assert 4 * _SIMHASH_BAND_WIDTH == _SIMHASH_BITS
    assert _SIMHASH_BITS <= 63  # fits a signed 64-bit container


def test_simhash_pigeonhole_exact_under_band_join():
    """hamming <= 3 pairs ALWAYS share at least one exact 15-bit band —
    the band equi-join loses nothing (exactness of q_simhash_neardup)."""
    rng = np.random.default_rng(7)
    width = _SIMHASH_BAND_WIDTH
    mask = (1 << width) - 1
    for _ in range(500):
        a = int(rng.integers(0, 1 << _SIMHASH_BITS))
        flip_bits = rng.choice(_SIMHASH_BITS, size=int(rng.integers(0, 4)),
                               replace=False)
        b = a
        for fb in flip_bits:
            b ^= 1 << int(fb)
        bands_a = [(a >> (width * j)) & mask for j in range(4)]
        bands_b = [(b >> (width * j)) & mask for j in range(4)]
        assert any(x == y for x, y in zip(bands_a, bands_b))


def test_sign_lsh_occupancy_tracks_corpus_size():
    """On a 20k-vector corpus the derived bit width keeps max bucket
    occupancy within a small factor of N/buckets — the property that
    breaks with a fixed 6-bit width (where buckets fatten linearly
    with N and intra-bucket search goes quadratic)."""
    rng = np.random.default_rng(42)
    n = 20_000
    v = rng.standard_normal((n, 64))
    bits = _lsh_bits(n)
    assert bits > 6, "bit width must grow past the sandbox floor"
    bkt = (v[:, :bits] > 0) @ (1 << np.arange(bits, dtype=np.int64))
    occ = np.bincount(bkt.astype(np.int64), minlength=1 << bits)
    mean = n / (1 << bits)
    # centered i.i.d. signs: binomial tails keep max within ~4x mean;
    # a saturated (fixed-width) scheme would blow far past this
    assert occ.max() <= 6 * mean, (occ.max(), mean)


def test_ivf_trainer_reads_at_most_sample_cap(tmp_path):
    """The k-means trainer must never materialize more than
    _IVF_SAMPLE_PER_CELL * cells rows (the documented ~100·√N hash
    sample) — at 10^11 vectors a full-table read is a driver OOM.
    N=12100 > cap=100·110=11000 forces the sampling path."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.queries.vectors import (
        _IVF_SAMPLE_PER_CELL,
        _ivf_training_sample,
    )

    n, dim = 12100, 4
    rng = np.random.default_rng(7)
    ids = np.arange(n, dtype=np.int64)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    path = str(tmp_path / "embeddings.parquet")
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": list(emb)}), path,
        row_group_size=1000,
    )
    v, kept_ids, cells, cap = _ivf_training_sample(path)
    assert cells == 110 and cap == _IVF_SAMPLE_PER_CELL * cells == 11000
    assert n > cap  # the premise: sampling actually engaged
    assert len(v) == len(kept_ids) == cap  # hard bound: <= cap rows
    # the sample is exactly the cap lowest-md5 ids (deterministic)
    fps = sorted(
        (int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16), i)
        for i in range(n)
    )
    expect = sorted(i for _, i in fps[:cap])
    assert sorted(kept_ids.tolist()) == expect
    # determinism across calls
    v2, kept2, _, _ = _ivf_training_sample(path)
    assert np.array_equal(kept_ids, kept2) and np.array_equal(v, v2)


def test_ivf_trainer_small_table_reads_all(tmp_path):
    """Below the cap the sample IS the table — sandbox parity with the
    round-3 full-table training (identical centroids)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.queries.vectors import _ivf_training_sample

    n, dim = 500, 4
    rng = np.random.default_rng(11)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(rng.normal(size=(n, dim)).astype(np.float32)),
        }),
        str(tmp_path / "e.parquet"),
    )
    v, kept_ids, cells, cap = _ivf_training_sample(str(tmp_path / "e.parquet"))
    assert len(v) == n and cap >= n and cells == 22
