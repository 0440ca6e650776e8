"""ctypes loader for the optional C scan kernel (kernel/_native.c).

The C kernel is the production chunker path: a scalar per-byte loop runs
at ~1 GB/s/core (the same ballpark as the reference's Rust kernel,
TODO.org:5-28), versus ~50-60 MB/s/core for the numpy affine-scan kernel.
It is compiled on first use with the system C compiler and cached on disk
keyed by the source hash, so each Python worker process pays the compile
exactly once per machine. Everything degrades gracefully: no compiler, a
failed compile, or ``SPARK_GRAFT_NATIVE=0`` falls back to the numpy
kernel in kernel/batch.py. Both paths are bit-exact against the golden
tests (tests/test_kernel_goldens.py, test_kernel_batch.py).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

from .fastcdc import ChunkerConfig
from .signatures import _concat

__all__ = [
    "available",
    "chunk_batch_columnar_native",
    "chunk_ragged_native",
    "minhash_batch_native",
    "shingles_native",
    "simhash_batch_native",
]

_SRC = os.path.join(os.path.dirname(__file__), "_native.c")
_CACHE_DIR = os.path.join(os.path.dirname(__file__), ".native_cache")

_lib = None
_tried = False


def _compile() -> str | None:
    """Compile the kernel to a cached .so; atomic rename makes concurrent
    compiles from 32 local workers race-free (last writer wins, all see a
    complete file). Returns the .so path or None."""
    try:
        with open(_SRC, "rb") as f:
            src = f.read()
    except OSError:
        return None
    tag = hashlib.sha256(src).hexdigest()[:16]
    so_path = os.path.join(_CACHE_DIR, f"fastcdc_{tag}.so")
    if os.path.exists(so_path):
        return so_path
    cc = os.environ.get("CC", "cc")
    tmp = None  # makedirs/mkstemp may raise before tmp binds (read-only
    # package dir on a cluster deploy) — cleanup must not NameError, or
    # the numpy fallback documented in available() never engages.
    try:
        os.makedirs(_CACHE_DIR, exist_ok=True)
        fd, tmp = tempfile.mkstemp(suffix=".so", dir=_CACHE_DIR)
        os.close(fd)
        subprocess.run(
            [cc, "-O3", "-shared", "-fPIC", "-o", tmp, _SRC],
            check=True,
            capture_output=True,
            timeout=120,
        )
        os.rename(tmp, so_path)
        return so_path
    except (OSError, subprocess.SubprocessError):
        if tmp is not None:
            try:
                os.unlink(tmp)
            except OSError:
                pass
        return None


def _load():
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("SPARK_GRAFT_NATIVE", "1") == "0":
        return None
    so_path = _compile()
    if so_path is None:
        return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    fn = lib.fcdc_chunk_batch
    fn.restype = ctypes.c_int64
    fn.argtypes = [
        ctypes.c_void_p,                  # data
        ctypes.c_void_p,                  # offs (int64[n_docs+1])
        ctypes.c_int64,                   # n_docs
        ctypes.c_uint64, ctypes.c_uint64,  # mask_s, mask_l
        ctypes.c_uint64, ctypes.c_uint64,  # mask_s_ls, mask_l_ls
        ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,  # min/avg/max
        ctypes.c_void_p, ctypes.c_void_p,  # gear, gear_ls
        ctypes.c_void_p,                  # counts (int64[n_docs])
        ctypes.c_void_p,                  # out_hash (uint64[cap])
        ctypes.c_void_p, ctypes.c_void_p,  # out_off, out_len (int64[cap])
        ctypes.c_int64,                   # cap
    ]
    sim = lib.fcdc_simhash
    sim.restype = None
    sim.argtypes = [
        ctypes.c_void_p,  # flat feature hashes (uint64)
        ctypes.c_void_p,  # offs (int64[n_docs])
        ctypes.c_void_p,  # counts (int64[n_docs])
        ctypes.c_int64,   # n_docs
        ctypes.c_uint64,  # seed
        ctypes.c_void_p,  # out (uint64[n_docs])
    ]
    sh = lib.fcdc_shingles
    sh.restype = ctypes.c_int64
    sh.argtypes = [
        ctypes.c_void_p,  # flat unit hashes (uint64)
        ctypes.c_void_p,  # offs (int64[n_docs])
        ctypes.c_void_p,  # counts (int64[n_docs])
        ctypes.c_int64,   # n_docs
        ctypes.c_int64,   # k
        ctypes.c_void_p,  # out shingles (uint64[cap])
        ctypes.c_void_p,  # out_counts (int64[n_docs])
        ctypes.c_int64,   # cap
    ]
    mh = lib.fcdc_minhash
    mh.restype = None
    mh.argtypes = [
        ctypes.c_void_p,  # flat shingle hashes (uint64)
        ctypes.c_void_p,  # offs (int64[n_docs])
        ctypes.c_void_p,  # counts (int64[n_docs])
        ctypes.c_int64,   # n_docs
        ctypes.c_void_p,  # seeds (uint64[n_perms])
        ctypes.c_int64,   # n_perms
        ctypes.c_void_p,  # sigs out (uint64[n_docs * n_perms])
    ]
    _lib = lib
    return _lib


def available() -> bool:
    return _load() is not None


def chunk_batch_columnar_native(
    bufs: list[np.ndarray], cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """List form of ``chunk_ragged_native``."""
    data, _, lens = _concat(bufs, np.uint8)
    return chunk_ragged_native(data, lens, cfg)


def chunk_ragged_native(
    data: np.ndarray, lens: np.ndarray, cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """C ``batch.chunk_ragged``: ``(counts, hashes, offsets, lengths)``
    ordered (doc, offset), reading ``data`` in place."""
    lib = _load()
    assert lib is not None, "native kernel unavailable"
    n_docs = len(lens)
    offs = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    total_len = int(offs[-1])
    if data.size < total_len:
        raise ValueError(f"{data.size} data bytes for doc lengths summing to {total_len}")
    data = np.ascontiguousarray(data, dtype=np.uint8)
    gear, gear_ls = cfg.gear_tables()
    gear = np.ascontiguousarray(gear, dtype=np.uint64)
    gear_ls = np.ascontiguousarray(gear_ls, dtype=np.uint64)

    # Smallest chunk an even-position normalized cut can emit is
    # 2*(min_size//2) bytes — min_size-1 when min_size is odd — so the
    # cap must divide by that, not min_size, or a pathological odd-min
    # input overruns the bound and trips the assert below (clean failure,
    # but needless: the check precedes all writes).
    eff_min = max(2 * (cfg.min_size // 2), 1)
    cap = total_len // eff_min + n_docs + 1
    counts = np.zeros(n_docs, dtype=np.int64)
    out_hash = np.empty(cap, dtype=np.uint64)
    out_off = np.empty(cap, dtype=np.int64)
    out_len = np.empty(cap, dtype=np.int64)

    total = lib.fcdc_chunk_batch(
        data.ctypes.data, offs.ctypes.data, n_docs,
        cfg.mask_s, cfg.mask_l, cfg.mask_s_ls, cfg.mask_l_ls,
        cfg.min_size, cfg.avg_size, cfg.max_size,
        gear.ctypes.data, gear_ls.ctypes.data,
        counts.ctypes.data, out_hash.ctypes.data,
        out_off.ctypes.data, out_len.ctypes.data, cap,
    )
    assert total >= 0, "native kernel chunk cap exceeded (impossible bound)"
    return counts, out_hash[:total].copy(), out_off[:total].copy(), out_len[:total].copy()


def minhash_batch_native(
    flat: np.ndarray, offsets: np.ndarray, counts: np.ndarray,
    seeds: np.ndarray, sigs: np.ndarray
) -> None:
    """Fill ``sigs`` (n_docs x n_perms uint64, pre-filled with the
    empty-doc sentinel) in place; bit-identical to the numpy blocked path
    in ``signatures.minhash_batch`` (parity-pinned)."""
    lib = _load()
    assert lib is not None, "native kernel unavailable"
    flat = np.ascontiguousarray(flat, dtype=np.uint64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    seeds = np.ascontiguousarray(seeds, dtype=np.uint64)
    assert sigs.flags["C_CONTIGUOUS"] and sigs.dtype == np.uint64
    lib.fcdc_minhash(
        flat.ctypes.data, offsets.ctypes.data, counts.ctypes.data,
        len(counts), seeds.ctypes.data, sigs.shape[1], sigs.ctypes.data,
    )


def shingles_native(
    flat: np.ndarray, offsets: np.ndarray, counts: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(shingles_flat, per_doc_counts): ascending sorted-unique k-gram
    shingles per doc, back-to-back; bit-identical to the numpy path in
    ``signatures.kgram_shingles`` (parity-pinned)."""
    lib = _load()
    assert lib is not None, "native kernel unavailable"
    flat = np.ascontiguousarray(flat, dtype=np.uint64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    cap = int(np.maximum(counts - (k - 1), np.minimum(counts, 1)).sum())
    out = np.empty(max(cap, 1), dtype=np.uint64)
    out_counts = np.zeros(len(counts), dtype=np.int64)
    total = lib.fcdc_shingles(
        flat.ctypes.data, offsets.ctypes.data, counts.ctypes.data,
        len(counts), k, out.ctypes.data, out_counts.ctypes.data, cap,
    )
    assert total >= 0, "native shingle cap exceeded (impossible bound)"
    return out[:total], out_counts


def simhash_batch_native(
    flat: np.ndarray, offsets: np.ndarray, counts: np.ndarray, seed: int,
    out: np.ndarray,
) -> None:
    """Fill ``out`` (uint64[n_docs]) in place with 64-bit SimHashes;
    bit-identical to ``signatures.simhash_batch``'s numpy path."""
    lib = _load()
    assert lib is not None, "native kernel unavailable"
    flat = np.ascontiguousarray(flat, dtype=np.uint64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    counts = np.ascontiguousarray(counts, dtype=np.int64)
    assert out.flags["C_CONTIGUOUS"] and out.dtype == np.uint64
    lib.fcdc_simhash(
        flat.ctypes.data, offsets.ctypes.data, counts.ctypes.data,
        len(counts), seed & 0xFFFFFFFFFFFFFFFF, out.ctypes.data,
    )
