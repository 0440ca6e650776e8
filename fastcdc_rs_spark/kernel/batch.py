"""Batched FastCDC v2020 kernel — the Arrow-UDF hot path.

``chunk_batch`` chunks MANY documents at once: each round stacks every
active document's current chunk window into one 2-D uint8 matrix and makes
all cut decisions with a handful of large numpy ops. Per-document results
are bit-identical to the sequential kernel (``fastcdc.chunk_bytes``), which
is itself golden-pinned against the reference (fastcdc-rs
src/v2020/mod.rs:350-409); parity is enforced by tests/test_kernel_batch.py.

Why this shape: an Arrow UDF receives a batch of documents per call.
Per-document numpy calls are overhead-bound (~60 small-array ops per cut);
batching across documents amortizes that overhead over the whole batch, so
throughput approaches uint64 memory bandwidth instead of Python call rate.
The number of rounds is max(chunks-per-doc) in the batch, and finished
documents drop out each round.

Two exactness tricks keep the numpy work linear:

* the gear recurrence ``h = (h << 2) + c`` at even scan steps annihilates
  history after 32 shifts (4**32 ≡ 0 mod 2**64), so the per-position hash
  array is an *affine scan* computable in 6 Hillis-Steele doubling steps
  with scalar shift multipliers (any even-length span holds exactly half
  shift steps);
* the same annihilation makes segmented evaluation exact: the scan runs in
  ``_SEG``-byte column segments with the previous segment's final hash as
  a carry column, and rows drop out as soon as their cut point is found —
  so the average bytes scanned per chunk is ~(cut - min_size), not the
  full ``max_size`` window (a 2-4x saving on typical data).
"""

from __future__ import annotations

import numpy as np

from .fastcdc import ChunkerConfig
from .signatures import _concat

__all__ = ["chunk_batch", "chunk_batch_columnar", "chunk_batch_columnar_numpy",
           "chunk_ragged", "chunk_ragged_numpy"]

_U64 = np.uint64

# Target uint64 working set per vector group (rows x segment-width x 8B).
# Sized to stay L2-resident: the affine scan revisits its h/contrib
# temporaries ~10x, so cache-resident groups cut DRAM traffic ~8x — the
# difference between one core saturating memory bandwidth and eight cores
# scaling (measured 4-8x aggregate throughput at 8 workers vs huge groups).
_GROUP_WORK_BYTES = 384 << 10

# Column-segment width for the scan (even; bounds the u64 working set and
# the overshoot past early cut points).
_SEG = 8192


def _process_group(
    s: np.ndarray,
    lens: np.ndarray,
    n1s: np.ndarray,
    mask_lut: np.ndarray,
    gear: np.ndarray,
    gear_ls: np.ndarray,
    seg_width: int = _SEG,
) -> tuple[np.ndarray, np.ndarray]:
    """Scan a stacked window group; returns (cut_idx, hash) per row.

    ``s``: (A, width) uint8 scan bytes (row r valid to lens[r], width even);
    ``n1s``: strict-phase length per row. cut_idx = -1 for fallthrough rows
    (caller uses the clamped remaining); hash = hash at the cut, or at the
    last scanned byte for fallthrough.

    Pair-compressed scan: the v2020 recurrence consumes bytes in
    (even, odd) pairs — h_odd[k] = 4*h_odd[k-1] + (GEAR_LS[b_even] +
    GEAR[b_odd]) — so the Hillis-Steele affine scan runs over K = w/2
    pair columns with shift-2 steps (5 doubling steps reach the 32-pair
    annihilation horizon, 4**32 ≡ 0 mod 2**64). Even-position hashes are
    recovered with one vector op: h_even[k] = (h_odd[k-1] << 2) +
    GEAR_LS[b_even]. Each parity is then judged against its scalar masks
    (strict/lax per the normalization phase) on half-width arrays.
    """
    mask_l, mask_l_ls, mask_s, mask_s_ls = (_U64(m) for m in mask_lut)
    a, width = s.shape
    cuts = np.full(a, -1, dtype=np.int64)
    hashes = np.zeros(a, dtype=np.uint64)
    carry = np.zeros(a, dtype=np.uint64)
    alive = np.arange(a)
    big = np.int64(1 << 62)
    seg = 0
    while alive.size and seg < width:
        hi = min(seg + seg_width, width)
        k = (hi - seg) // 2  # pair count (seg and segment widths are even)
        se = s[alive, seg:hi:2]
        so = s[alive, seg + 1:hi:2]
        gl = gear_ls[se]
        pairc = np.empty((alive.size, k + 1), dtype=np.uint64)
        pairc[:, 0] = carry[alive]
        np.add(gl, gear[so], out=pairc[:, 1:])
        for d in (1, 2, 4, 8, 16):
            if d > k:
                break
            pairc[:, d:] += pairc[:, :-d] << _U64(2 * d)
        h_odd = pairc[:, 1:]                      # h at local col 2j+1
        h_even = (pairc[:, :-1] << _U64(2)) + gl  # h at local col 2j

        # Judgments per parity. Columns past a row's scan end hold garbage
        # hashes, but they form a contiguous tail (s is zero-filled beyond
        # lens), so instead of a full-width validity mask the first-hit
        # index is validity-checked after argmax: a first hit in the
        # garbage tail implies no real hit exists.
        an1 = n1s[alive]
        if an1.min() == an1.max():
            # uniform strict-phase boundary (every full-size window):
            # strict/lax masks applied by column block, no mask matrix
            n1 = int(an1[0])
            js_e = min(max(-(-(n1 - seg) // 2), 0), k)
            js_o = min(max(-(-(n1 - seg - 1) // 2), 0), k)
            hit_e = np.empty((alive.size, k), dtype=bool)
            hit_o = np.empty((alive.size, k), dtype=bool)
            np.equal(h_even[:, :js_e] & mask_s_ls, 0, out=hit_e[:, :js_e])
            np.equal(h_even[:, js_e:] & mask_l_ls, 0, out=hit_e[:, js_e:])
            np.equal(h_odd[:, :js_o] & mask_s, 0, out=hit_o[:, :js_o])
            np.equal(h_odd[:, js_o:] & mask_l, 0, out=hit_o[:, js_o:])
        else:
            cols_e = np.arange(seg, hi, 2)
            strict_e = cols_e[None, :] < an1[:, None]
            hit_e = (h_even & np.where(strict_e, mask_s_ls, mask_l_ls)) == 0
            strict_o = (cols_e[None, :] + 1) < an1[:, None]
            hit_o = (h_odd & np.where(strict_o, mask_s, mask_l)) == 0

        rows = np.arange(alive.size)
        ae = np.argmax(hit_e, axis=1)
        ao = np.argmax(hit_o, axis=1)
        alens = lens[alive]
        cand_e = np.where(
            hit_e[rows, ae] & (seg + 2 * ae < alens), 2 * ae, big
        )
        cand_o = np.where(
            hit_o[rows, ao] & (seg + 2 * ao + 1 < alens), 2 * ao + 1, big
        )
        idx = np.minimum(cand_e, cand_o)
        found = idx < big

        f_even = found & (cand_e <= cand_o)
        f_odd = found & ~f_even
        cuts[alive[found]] = seg + idx[found]
        hashes[alive[f_even]] = h_even[rows[f_even], ae[f_even]]
        hashes[alive[f_odd]] = h_odd[rows[f_odd], ao[f_odd]]

        # rows whose scan region ends inside this segment fall through
        ended = (~found) & (lens[alive] <= hi)
        if ended.any():
            last = lens[alive[ended]] - 1 - seg
            er = rows[ended]
            odd_last = (last % 2) == 1
            hashes[alive[ended]] = np.where(
                odd_last,
                h_odd[er, last // 2],
                h_even[er, last // 2],
            )

        cont = ~found & ~ended
        carry[alive[cont]] = h_odd[cont, -1]
        alive = alive[cont]
        seg = hi
    return cuts, hashes


def chunk_batch_columnar(
    bufs: list[np.ndarray], cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """List form of ``chunk_ragged``."""
    data, _, lens = _concat(bufs, np.uint8)
    return chunk_ragged(data, lens, cfg)


def chunk_batch_columnar_numpy(
    bufs: list[np.ndarray], cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """List form of ``chunk_ragged_numpy``."""
    data, _, lens = _concat(bufs, np.uint8)
    return chunk_ragged_numpy(data, lens, cfg)


def chunk_ragged(
    data: np.ndarray, lens: np.ndarray, cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Chunk a ragged byte batch: doc i is the next ``lens[i]`` bytes of
    ``data``. Returns ``(counts, hashes, offsets, lengths)``: ``counts[i]``
    chunks for doc i; the flat arrays are ordered (doc, offset).

    Dispatcher: uses the compiled C kernel (kernel/native.py, ~1 GB/s/core)
    when a C compiler is available and ``SPARK_GRAFT_NATIVE`` != 0,
    otherwise the numpy affine-scan kernel below. Both are bit-exact
    against the goldens; parity is pinned by tests/test_kernel_batch.py.
    """
    from . import native

    if native.available():
        return native.chunk_ragged_native(data, lens, cfg)
    return chunk_ragged_numpy(data, lens, cfg)


def chunk_ragged_numpy(
    data: np.ndarray, doc_lens: np.ndarray, cfg: ChunkerConfig
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """numpy affine-scan ``chunk_ragged`` (always available), bit-identical
    to ``fastcdc.chunk_bytes`` per doc, with no per-chunk Python objects."""
    gear, gear_ls = cfg.gear_tables()
    min_size, avg_size, max_size = cfg.min_size, cfg.avg_size, cfg.max_size
    start = 2 * (min_size // 2)
    mask_lut = np.array(
        # index bit0 = even column (shifted-table judgment), bit1 = strict phase
        [cfg.mask_l, cfg.mask_l_ls, cfg.mask_s, cfg.mask_s_ls], dtype=np.uint64
    )

    # Segment width tracks the expected cut position (~avg_size past the
    # min-skip): with small configs a full max_size window in one segment
    # would scan ~4x past the typical cut; 2*avg keeps the early-exit
    # effective at every scale (capped at _SEG for the u64 working set).
    seg_width = int(min(_SEG, max(256, 2 * avg_size)) // 2 * 2)

    n_docs = len(doc_lens)
    lengths = np.asarray(doc_lens, dtype=np.int64)
    starts = np.cumsum(lengths) - lengths
    processed = np.zeros(n_docs, dtype=np.int64)
    active = np.nonzero(lengths > 0)[0]

    doc_parts: list[np.ndarray] = []
    hash_parts: list[np.ndarray] = []
    off_parts: list[np.ndarray] = []
    len_parts: list[np.ndarray] = []

    def emit(docs_arr, hashes_arr, offs_arr, lens_arr):
        doc_parts.append(docs_arr)
        hash_parts.append(np.asarray(hashes_arr, dtype=np.uint64))
        off_parts.append(np.asarray(offs_arr, dtype=np.int64))
        len_parts.append(np.asarray(lens_arr, dtype=np.int64))

    while active.size:
        remaining = lengths[active] - processed[active]

        # sub-min tails: emitted with hash 0, doc finished
        is_tail = remaining <= min_size
        if is_tail.any():
            d = active[is_tail]
            emit(d, np.zeros(d.size, dtype=np.uint64), processed[d], remaining[is_tail])
            processed[d] += remaining[is_tail]
        rest = active[~is_tail]
        rem = remaining[~is_tail]

        center = np.minimum(rem, avg_size)
        rem_c = np.minimum(rem, max_size)
        end2 = 2 * (rem_c // 2)
        # degenerate scan window (end2 <= start): whole clamped window, hash 0
        degen = end2 <= start
        if degen.any():
            d = rest[degen]
            emit(d, np.zeros(d.size, dtype=np.uint64), processed[d], rem_c[degen])
            processed[d] += rem_c[degen]

        stacked = rest[~degen]
        scan_lens = (end2 - start)[~degen]
        scan_n1s = (2 * (center // 2) - start)[~degen]
        scan_rems = rem_c[~degen]

        # Vector sub-rounds over the stacked windows, split so the scan
        # temporaries stay cache-resident (see _GROUP_WORK_BYTES).
        pos = 0
        while pos < stacked.size:
            width_any = int(scan_lens[pos])
            group_rows = max(4, _GROUP_WORK_BYTES // (min(max(width_any, 1), _SEG) * 8))
            sl = slice(pos, pos + group_rows)
            group = stacked[sl]
            lens = scan_lens[sl]
            n1s = scan_n1s[sl]
            rems = scan_rems[sl]
            pos += group.size

            gwidth = int(lens.max())
            s = np.zeros((group.size, gwidth), dtype=np.uint8)
            for r in range(group.size):
                i = group[r]
                off = int(starts[i] + processed[i]) + start
                s[r, : lens[r]] = data[off : off + int(lens[r])]

            cuts, hashes = _process_group(s, lens, n1s, mask_lut, gear, gear_ls, seg_width)
            cut_rel = np.where(cuts >= 0, start + cuts, rems)
            emit(group, hashes, processed[group], cut_rel)
            processed[group] += cut_rel

        active = rest[processed[rest] < lengths[rest]]

    if not doc_parts:
        z = np.zeros(0, dtype=np.int64)
        return np.zeros(n_docs, dtype=np.int64), z.astype(np.uint64), z, z.copy()
    doc_idx = np.concatenate(doc_parts)
    hashes = np.concatenate(hash_parts)
    offs = np.concatenate(off_parts)
    lns = np.concatenate(len_parts)
    order = np.lexsort((offs, doc_idx))
    counts = np.bincount(doc_idx, minlength=n_docs)
    return counts, hashes[order], offs[order], lns[order]


def chunk_batch(bufs: list[np.ndarray], cfg: ChunkerConfig) -> list[list[tuple[int, int, int]]]:
    """Chunk a batch of uint8 buffers; returns per-doc [(hash, offset, length)].

    Bit-identical to mapping ``fastcdc.chunk_bytes`` over ``bufs``
    (row-oriented view of ``chunk_batch_columnar``).
    """
    if not bufs:
        return []
    counts, hashes, offs, lns = chunk_batch_columnar(bufs, cfg)
    splits = np.cumsum(counts)[:-1]
    return [
        list(zip(h.tolist(), o.tolist(), l.tolist()))
        for h, o, l in zip(
            np.split(hashes, splits), np.split(offs, splits), np.split(lns, splits)
        )
    ]
