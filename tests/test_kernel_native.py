"""The compiled C kernel must be bit-identical to the numpy kernel (and
hence to the sequential golden kernel) on every config class: normal,
seeded, NC0/NC3, tiny-doc, zeros, empty, sub-min, odd lengths."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from fastcdc_rs_spark.kernel import ChunkerConfig
from fastcdc_rs_spark.kernel import native
from fastcdc_rs_spark.kernel.batch import chunk_batch_columnar_numpy
from tests.synthetic import synthetic_arrays

FIXTURE = Path("/root/reference/test/fixtures/SekienAkashita.jpg")

pytestmark = pytest.mark.skipif(
    not native.available(), reason="no C compiler / native disabled"
)


def _docs(rng, big):
    return [
        np.array([], dtype=np.uint8),
        np.zeros(10, dtype=np.uint8),
        np.zeros(50_000, dtype=np.uint8),
        *big,
        rng.integers(0, 256, 200_000, dtype=np.uint8),
        rng.integers(0, 256, 5_000, dtype=np.uint8),
        rng.integers(0, 256, 16_385, dtype=np.uint8),
        rng.integers(0, 256, 63, dtype=np.uint8),
    ]


_CFGS = pytest.mark.parametrize(
    "cfg",
    [
        ChunkerConfig(4096, 16384, 65535),
        ChunkerConfig(4096, 16384, 65535, seed=666),
        ChunkerConfig(256, 1024, 4096, level=0),
        ChunkerConfig(2048, 8192, 32768, level=3),
        ChunkerConfig(64, 256, 1024),
    ],
    ids=["nc1", "seeded", "nc0", "nc3", "tiny"],
)


def _assert_native_matches_numpy(docs, cfg):
    a = chunk_batch_columnar_numpy(docs, cfg)
    b = native.chunk_batch_columnar_native(docs, cfg)
    for x, y in zip(a, b):
        assert x.shape == y.shape
        assert (x == y).all()


@_CFGS
def test_native_matches_numpy(cfg):
    rng = np.random.default_rng(13)
    fixture = np.frombuffer(FIXTURE.read_bytes(), dtype=np.uint8)
    _assert_native_matches_numpy(_docs(rng, [fixture, fixture[:4096]]), cfg)


@_CFGS
def test_native_matches_numpy_synthetic(cfg):
    rng = np.random.default_rng(13)
    _assert_native_matches_numpy(_docs(rng, synthetic_arrays()), cfg)


def test_native_fixture_golden():
    # the reference's primary golden: (4096,16384,65535) NC1 over the jpg
    # fixture -> 5 chunks with pinned lengths (src/v2020/mod.rs:996-1018)
    buf = np.frombuffer(FIXTURE.read_bytes(), dtype=np.uint8)
    counts, hashes, offs, lens = native.chunk_batch_columnar_native(
        [buf], ChunkerConfig(4096, 16384, 65535)
    )
    assert counts.tolist() == [5]
    assert lens.tolist() == [21325, 17140, 28084, 18217, 24700]
    assert offs.tolist() == [0, 21325, 38465, 66549, 84766]


def test_native_minhash_matches_numpy():
    from fastcdc_rs_spark.kernel.signatures import (
        _EMPTY_SIG,
        _concat,
        _minhash_numpy,
        perm_seeds,
    )

    rng = np.random.default_rng(23)
    hash_lists = [
        np.array([], dtype=np.uint64),
        rng.integers(0, 2**63, 1, dtype=np.uint64),
        rng.integers(0, 2**63, 9, dtype=np.uint64),
        np.array([0, 2**64 - 1, 1], dtype=np.uint64),  # extremes
        rng.integers(0, 2**63, 500, dtype=np.uint64),
    ]
    for n_perms, seed in ((128, 1), (64, 7), (3, 0)):
        flat, offsets, counts = _concat(hash_lists)
        seeds = perm_seeds(n_perms, seed)
        want = np.full((len(hash_lists), n_perms), _EMPTY_SIG, dtype=np.uint64)
        _minhash_numpy(flat, offsets, counts, seeds, want)
        got = np.full((len(hash_lists), n_perms), _EMPTY_SIG, dtype=np.uint64)
        native.minhash_batch_native(flat, offsets, counts, seeds, got)
        assert (got == want).all()
    # empty doc rows keep the sentinel
    assert (got[0] == _EMPTY_SIG).all()


def test_native_shingles_match_numpy():
    import os

    from fastcdc_rs_spark.kernel import signatures

    rng = np.random.default_rng(29)
    hash_lists = [
        np.array([], dtype=np.uint64),
        rng.integers(0, 2**63, 1, dtype=np.uint64),   # cnt < k fold
        rng.integers(0, 2**63, 2, dtype=np.uint64),   # cnt < k fold
        rng.integers(0, 2**63, 9, dtype=np.uint64),
        np.tile(rng.integers(0, 2**63, 3, dtype=np.uint64), 7),  # dups
        rng.integers(0, 2**63, 500, dtype=np.uint64),  # qsort path
    ]
    for k in (1, 3, 5):
        got = signatures.kgram_shingles(hash_lists, k)  # native path
        # force the numpy fallback through the public function
        orig = os.environ.get("SPARK_GRAFT_NATIVE")
        try:
            import fastcdc_rs_spark.kernel.native as native_mod

            saved = (native_mod._lib, native_mod._tried)
            native_mod._lib, native_mod._tried = None, True
            want = signatures.kgram_shingles(hash_lists, k)
        finally:
            native_mod._lib, native_mod._tried = saved
            if orig is not None:
                os.environ["SPARK_GRAFT_NATIVE"] = orig
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g.dtype == np.uint64 and (np.asarray(g) == np.asarray(w)).all(), k


def test_native_empty_batch():
    counts, h, o, ln = native.chunk_batch_columnar_native(
        [], ChunkerConfig(64, 256, 1024)
    )
    assert counts.size == 0 and h.size == 0 and o.size == 0 and ln.size == 0
