"""Batched MinHash and SimHash signature kernels (numpy, no per-row Python).

These are pipeline operators mandated by the north rule (SURVEY.md §2.B
B5/B7); the reference contains no signature code — the design is standard
MinHash (Broder) / SimHash (Charikar) re-expressed for Arrow batches.

Permutation family: splitmix64 finalizer seeded per permutation. It is a
bijection on u64, cheap (3 xorshift-multiply steps), and fully vectorizable
with uint64 wraparound. The single-node recall oracle in tests uses the
*same* family, satisfying the "same shingle/signature config" clause of the
baseline metric.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "band_hashes",
    "kgram_shingles",
    "minhash_batch",
    "perm_seeds",
    "signature_batch",
    "signature_ragged",
    "simhash_batch",
    "simhash_ragged",
    "splitmix64",
]

_U64 = np.uint64
_GOLDEN = _U64(0x9E3779B97F4A7C15)
_MIX1 = _U64(0xBF58476D1CE4E5B9)
_MIX2 = _U64(0x94D049BB133111EB)
_EMPTY_SIG = _U64(0xFFFFFFFFFFFFFFFF)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer — a u64 bijection."""
    z = (x + _GOLDEN).astype(np.uint64, copy=False)
    z = (z ^ (z >> _U64(30))) * _MIX1
    z = (z ^ (z >> _U64(27))) * _MIX2
    return z ^ (z >> _U64(31))


def perm_seeds(n_perms: int, seed: int) -> np.ndarray:
    """Deterministic per-permutation seed constants."""
    base = np.arange(1, n_perms + 1, dtype=np.uint64) * _GOLDEN
    return splitmix64(base + _U64(seed & 0xFFFFFFFFFFFFFFFF))


def _concat(hash_lists: list, dtype=np.uint64) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """List of per-doc arrays → ragged batch ``(flat, starts, counts)``."""
    counts = np.fromiter(map(len, hash_lists), np.int64, len(hash_lists))
    flat = (
        np.concatenate(hash_lists, dtype=dtype, casting="unsafe")
        if len(hash_lists)
        else np.array([], dtype=dtype)
    )
    return flat, np.cumsum(counts) - counts, counts


def _split(flat: np.ndarray, counts: np.ndarray) -> list[np.ndarray]:
    """Ragged batch → per-doc arrays (``np.split`` alone gives 0 docs one)."""
    return np.split(flat, np.cumsum(counts[:-1])) if len(counts) else []


def minhash_batch(
    hash_lists: list[np.ndarray], n_perms: int = 128, seed: int = 1, block: int = 16
) -> np.ndarray:
    """MinHash signatures for a batch of shingle-hash sets.

    Returns (n_docs, n_perms) uint64. Empty docs get all-0xFF signatures
    (they never collide with a real band). Work is blocked over permutations
    to bound the (total_shingles x block) temporary.
    """
    flat, _, counts = _concat(hash_lists)
    return _minhash(flat, counts, n_perms, seed, block)


def _minhash(flat, counts, n_perms, seed, block=16) -> np.ndarray:
    sigs = np.full((len(counts), n_perms), _EMPTY_SIG, dtype=np.uint64)
    if flat.size == 0:
        return sigs
    seeds, starts = perm_seeds(n_perms, seed), np.cumsum(counts) - counts
    from . import native

    if native.available():  # production path; numpy below is the fallback
        native.minhash_batch_native(flat, starts, counts, seeds, sigs)
    else:
        _minhash_numpy(flat, starts, counts, seeds, sigs, block)
    return sigs


def _minhash_numpy(flat, offsets, counts, seeds, sigs, block=16) -> None:
    """Blocked numpy fallback (bit-identical to the C path; the native
    parity suite compares the two directly)."""
    nonempty = counts > 0
    red_offsets = offsets[nonempty]
    for p0 in range(0, seeds.size, block):
        s = seeds[p0:p0 + block]
        # (n_total, block): permuted hash values
        hp = splitmix64(flat[:, None] ^ s[None, :])
        mins = np.minimum.reduceat(hp, red_offsets, axis=0)
        sigs[nonempty, p0:p0 + s.size] = mins


def kgram_shingles(hash_lists: list[np.ndarray], k: int = 3) -> list[np.ndarray]:
    """k-gram shingle hashes over each doc's unit-hash sequence (B4).

    Each k-gram is folded with splitmix64 (``x <- splitmix64(x ^ h_j)``),
    vectorized over the concatenated batch with shifted slices; k-grams that
    would cross a document boundary are masked out. A doc with fewer than k
    units contributes one shingle folding its whole sequence, so tiny docs
    still participate in exact dedup. Outputs are deduplicated per doc
    (shingle *sets*).
    """
    flat, _, counts = _concat(hash_lists)
    return _split(*_shingles(flat, counts, k))


def _shingles(flat: np.ndarray, counts: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Ragged unit hashes → ragged sorted-unique shingle sets."""
    n, n_docs = flat.size, len(counts)
    if n == 0:
        return np.array([], dtype=np.uint64), np.zeros(n_docs, dtype=np.int64)
    offsets = np.cumsum(counts) - counts
    from . import native

    if native.available():  # production path; numpy below is the fallback
        return native.shingles_native(flat, offsets, counts, k)
    m = n - k + 1
    if m > 0:
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            acc = splitmix64(acc ^ flat[j:j + m])
    else:
        acc = np.array([], dtype=np.uint64)
    seg = np.where(counts >= k, counts - (k - 1), 0)
    total = int(seg.sum())
    doc_ids = np.repeat(np.arange(n_docs, dtype=np.int64), seg)
    starts = np.cumsum(seg) - seg
    pos = (
        np.arange(total, dtype=np.int64)
        - np.repeat(starts, seg)
        + np.repeat(offsets, seg)
    )
    vals = acc[pos]
    # 0 < cnt < k docs fold their whole (short) sequence into one shingle
    short = np.nonzero((counts > 0) & (counts < k))[0]
    x = np.zeros(short.size, dtype=np.uint64)
    for j in range(k - 1):
        live = counts[short] > j
        x[live] = splitmix64(x[live] ^ flat[offsets[short[live]] + j])
    doc_ids = np.concatenate([doc_ids, short])
    vals = np.concatenate([vals, x])
    # Vectorized per-doc dedup: one lexsort over (doc_id, value) + a keep
    # mask replaces a per-doc ``np.unique`` Python loop (the loop costs
    # ~5 µs/doc — the dominant term at 100k docs/batch). Output values
    # per doc are sorted ascending, exactly like ``np.unique``.
    order = np.lexsort((vals, doc_ids))
    dv, vv = doc_ids[order], vals[order]
    keep = np.ones(dv.size, dtype=bool)
    keep[1:] = (dv[1:] != dv[:-1]) | (vv[1:] != vv[:-1])
    return vv[keep], np.bincount(dv[keep], minlength=n_docs)


def band_hashes(sigs: np.ndarray, bands: int = 16, rows: int = 8) -> np.ndarray:
    """(n_docs, bands) LSH band keys: splitmix64 fold of each band's rows,
    with the band index folded in so identical row-slices in different
    bands never collide (B6)."""
    n_docs = sigs.shape[0]
    assert sigs.shape[1] >= bands * rows
    out = np.empty((n_docs, bands), dtype=np.uint64)
    for b in range(bands):
        acc = np.full(n_docs, b + 1, dtype=np.uint64) * _GOLDEN
        for r in range(rows):
            acc = splitmix64(acc ^ sigs[:, b * rows + r])
        out[:, b] = acc
    return out


def signature_batch(
    hash_lists: list[np.ndarray],
    k: int = 3,
    n_perms: int = 128,
    bands: int = 16,
    rows: int = 8,
    seed: int = 1,
) -> tuple[list[np.ndarray], np.ndarray]:
    """List form of ``signature_ragged``: (per-doc shingle sets, band keys)."""
    flat, _, counts = _concat(hash_lists)
    shingles, sh_counts, band_keys = signature_ragged(flat, counts, k, n_perms, bands, rows, seed)
    return _split(shingles, sh_counts), band_keys


def signature_ragged(
    flat: np.ndarray, counts: np.ndarray, k: int = 3, n_perms: int = 128,
    bands: int = 16, rows: int = 8, seed: int = 1,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One pass: ragged unit hashes → (shingles flat, shingle counts,
    (n_docs, bands) band keys).

    This is the exact computation the Spark signature UDF runs per Arrow
    batch AND the computation the single-node recall oracle runs — sharing
    it is what makes "same shingle/signature config" bit-exact.
    """
    shingles, sh_counts = _shingles(flat, counts, k)
    sigs = _minhash(shingles, sh_counts, n_perms, seed)
    return shingles, sh_counts, band_hashes(sigs, bands, rows)


def simhash_batch(hash_lists: list[np.ndarray], seed: int = 1) -> np.ndarray:
    """List form of ``simhash_ragged``."""
    flat, _, counts = _concat(hash_lists)
    return simhash_ragged(flat, counts, seed)


def simhash_ragged(flat: np.ndarray, counts: np.ndarray, seed: int = 1) -> np.ndarray:
    """64-bit SimHash per doc: bit-majority over splitmix64'd feature hashes.

    Ties (bit sum exactly half) resolve to 0. Empty docs hash to 0.
    """
    out = np.zeros(len(counts), dtype=np.uint64)
    if flat.size == 0:
        return out
    offsets = np.cumsum(counts) - counts
    from . import native

    if native.available():  # production path; numpy below is the fallback
        native.simhash_batch_native(flat, offsets, counts, seed, out)
        return out
    h = splitmix64(flat ^ _U64(seed & 0xFFFFFFFFFFFFFFFF))
    # (n_total, 64) bit matrix in int16 — reduceat sums per doc
    shifts = np.arange(64, dtype=np.uint64)
    bits = ((h[:, None] >> shifts[None, :]) & _U64(1)).astype(np.int16)
    nonempty = counts > 0
    sums = np.add.reduceat(bits, offsets[nonempty], axis=0)
    majority = (2 * sums) > counts[nonempty, None]
    vals = (majority.astype(np.uint64) << shifts[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    out[nonempty] = vals
    return out
