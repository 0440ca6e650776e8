"""Unit tests for the MinHash/SimHash/k-gram signature kernels."""

from __future__ import annotations

import numpy as np

from fastcdc_rs_spark.kernel.signatures import (
    band_hashes,
    kgram_shingles,
    minhash_batch,
    signature_batch,
    simhash_batch,
    splitmix64,
)


def _rand_sets(n_docs=50, seed=3):
    rng = np.random.default_rng(seed)
    return [
        rng.integers(0, 2**63, int(rng.integers(1, 200)), dtype=np.int64).astype(np.uint64)
        for _ in range(n_docs)
    ]


def test_splitmix64_bijective_sample():
    rng = np.random.default_rng(0)
    x = rng.integers(0, 2**63, 100_000, dtype=np.int64).astype(np.uint64)
    y = splitmix64(x)
    assert len(np.unique(y)) == len(np.unique(x))


def test_minhash_identical_sets_identical_sigs():
    s = _rand_sets(1)[0]
    sigs = minhash_batch([s, s.copy(), s[::-1].copy()], n_perms=64)
    assert (sigs[0] == sigs[1]).all()
    assert (sigs[0] == sigs[2]).all()  # order-invariant


def test_minhash_jaccard_estimate():
    rng = np.random.default_rng(1)
    a = rng.integers(0, 2**62, 1000, dtype=np.int64).astype(np.uint64)
    b = np.concatenate([a[:800], rng.integers(0, 2**62, 200, dtype=np.int64).astype(np.uint64)])
    sigs = minhash_batch([a, b], n_perms=256)
    est = (sigs[0] == sigs[1]).mean()
    true_j = len(set(map(int, a)) & set(map(int, b))) / len(set(map(int, a)) | set(map(int, b)))
    assert abs(est - true_j) < 0.1


def test_minhash_batch_independence():
    sets = _rand_sets(20)
    full = minhash_batch(sets, n_perms=32)
    halves = np.vstack([minhash_batch(sets[:7], n_perms=32), minhash_batch(sets[7:], n_perms=32)])
    assert (full == halves).all()


def test_minhash_empty_doc():
    sigs = minhash_batch([np.array([], dtype=np.uint64), _rand_sets(1)[0]], n_perms=16)
    assert (sigs[0] == np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_kgram_shingles_boundaries():
    a = np.arange(10, dtype=np.uint64)
    b = np.arange(10, 20, dtype=np.uint64)
    both = kgram_shingles([a, b], k=3)
    solo_a = kgram_shingles([a], k=3)[0]
    solo_b = kgram_shingles([b], k=3)[0]
    assert (both[0] == solo_a).all()  # no cross-doc contamination
    assert (both[1] == solo_b).all()
    # short doc: one folded shingle
    short = kgram_shingles([np.arange(2, dtype=np.uint64)], k=3)[0]
    assert short.shape == (1,)
    # empty doc
    assert kgram_shingles([np.array([], dtype=np.uint64)], k=3)[0].size == 0


def test_kgram_shift_sensitivity():
    a = np.arange(10, dtype=np.uint64)
    shifted = kgram_shingles([a, a + np.uint64(0)], k=3)
    assert (shifted[0] == shifted[1]).all()
    diff = kgram_shingles([a * np.uint64(3)], k=3)[0]
    assert set(map(int, diff)) != set(map(int, shifted[0]))


def test_band_hashes_distinguish_bands():
    sets = _rand_sets(5)
    sigs = minhash_batch(sets, n_perms=32)
    bk = band_hashes(sigs, bands=8, rows=4)
    assert bk.shape == (5, 8)
    # same signature → same band keys
    bk2 = band_hashes(sigs, bands=8, rows=4)
    assert (bk == bk2).all()


def test_signature_batch_consistency():
    sets = _rand_sets(10)
    sh1, bk1 = signature_batch(sets, k=2, n_perms=32, bands=8, rows=4)
    sh2, bk2 = signature_batch(sets, k=2, n_perms=32, bands=8, rows=4)
    for x, y in zip(sh1, sh2):
        assert (x == y).all()
    assert (bk1 == bk2).all()


def test_simhash_properties():
    sets = _rand_sets(10)
    h1 = simhash_batch(sets)
    h2 = simhash_batch(sets)
    assert (h1 == h2).all()
    # near-identical sets → small hamming distance
    a = sets[0]
    b = np.concatenate([a, a[:1] ^ np.uint64(12345)])
    ha, hb = simhash_batch([a, b])
    ham = bin(int(ha) ^ int(hb)).count("1")
    assert ham <= 8
    # empty doc → 0
    assert simhash_batch([np.array([], dtype=np.uint64)])[0] == 0


def test_chunk_minhash_fusion_bit_exact(spark):
    # Round-7 fusion pin: the one-Arrow-pass chunk→shingle→MinHash UDF
    # (operators/minhash.chunk_minhash_signatures) must emit bit-identical
    # shingle sets and band keys to the unfused unit_hashes →
    # minhash_signatures composition the pipeline used before, plus the
    # correct per-doc unit count. Empty and sub-min-size docs included.
    from fastcdc_rs_spark.operators.minhash import (
        chunk_minhash_signatures,
        minhash_signatures,
    )
    from fastcdc_rs_spark.pipeline import DedupConfig, unit_hashes

    cfg = DedupConfig()
    rng = np.random.default_rng(11)
    rows = [(0, "")]
    for i in range(1, 40):
        n = int(rng.integers(1, 4000))
        rows.append((i, "".join(chr(int(c)) for c in rng.integers(32, 127, n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fused = chunk_minhash_signatures(
        docs, cfg.chunker(), k=cfg.shingle_k, n_perms=cfg.n_perms,
        bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
    ).orderBy("doc_id").collect()
    unfused = minhash_signatures(
        unit_hashes(docs, cfg), k=cfg.shingle_k, n_perms=cfg.n_perms,
        bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
    ).orderBy("doc_id").collect()
    assert len(fused) == len(unfused) == 40
    for f, u in zip(fused, unfused):
        assert f.doc_id == u.doc_id
        assert list(f.shingles) == list(u.shingles)
        assert list(f.bands) == list(u.bands)
        assert f.n_units == len(f.shingles) or cfg.shingle_k != 1


def test_chunk_simhash_fusion_bit_exact(spark):
    # The fused SimHash UDF (operators/simhash.chunk_simhash64) equals the
    # Spark-free kernel composition: chunk the batch, then SimHash the
    # ragged chunk hashes.
    from fastcdc_rs_spark.kernel.batch import chunk_batch_columnar
    from fastcdc_rs_spark.kernel.signatures import simhash_ragged
    from fastcdc_rs_spark.operators.simhash import chunk_simhash64
    from fastcdc_rs_spark.pipeline import DedupConfig

    cfg = DedupConfig()
    rng = np.random.default_rng(13)
    rows = [(0, "")] + [
        (i, "".join(chr(int(c)) for c in rng.integers(32, 127, int(rng.integers(1, 3000)))))
        for i in range(1, 30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fused = {r.doc_id: r.simhash for r in chunk_simhash64(docs, cfg.chunker()).collect()}
    counts, hashes, _, _ = chunk_batch_columnar(
        [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for _, t in rows], cfg.chunker())
    sims = simhash_ragged(hashes, counts, seed=1).view(np.int64)
    unfused = {d: int(s) for (d, _), s in zip(rows, sims)}
    assert fused == unfused and len(fused) == 30
