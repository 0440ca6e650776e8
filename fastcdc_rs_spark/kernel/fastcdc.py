"""FastCDC v2020 content-defined chunking kernel, vectorized with numpy.

Bit-exact re-expression of the reference scan kernel ``cut_gear_arr``
(fastcdc-rs src/v2020/mod.rs:350-409) and the ``FastCDC`` chunk iterator
(src/v2020/mod.rs:522-663): same cut points, same u64 gear-hash fingerprints,
pinned by the golden tests in tests/test_kernel_goldens.py.

Semantics replicated exactly (see SURVEY.md §1.1 invariants):

* cut-point skipping: the first ``min_size`` bytes of each chunk window are
  never hashed; the scan starts at pair-index ``min_size // 2``
  (src/v2020/mod.rs:381);
* normalized chunking: strict masks (``MASKS[bits + level]``) before the
  ``center`` (= min(avg_size, remaining)), lax masks after
  (src/v2020/mod.rs:378-405);
* two bytes per logical iteration: even byte uses the left-shifted table
  (``hash = (hash << 2) + GEAR_LS[b]``, judged against ``mask << 1``), odd
  byte the plain table (``hash += GEAR[b]``, judged against the plain mask)
  (src/v2020/mod.rs:384-404);
* sub-minimum remainder → single chunk with hash 0, no hashing
  (src/v2020/mod.rs:362-365);
* mask-never-matches fallback → chunk of ``min(remaining, max_size)`` bytes
  carrying the running hash (src/v2020/mod.rs:406-408);
* ``bits = round(log2(avg_size))`` — rounded, not floored
  (src/v2020/mod.rs:411-416, the 4.0.1 regression fix).

Vectorization strategy (not in the reference — Spark-first design):
the gear recurrence shifts the hash left 2 bits per even byte, so any
contribution is annihilated after 32 even steps (64 bytes). We exploit that
to compute the *entire* per-position hash array with numpy: reshape the
scan region into (nblocks, 64)-byte blocks, run the 64-step recurrence down
the columns (vectorized across blocks), then add each block's carry-in —
which is exactly the previous block's final hash, because older history has
already been shifted out. A single argmax over ``(hash & mask) == 0`` finds
the cut point. ~O(n) uint64 numpy element-ops, no per-byte Python.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np

from .gear import MASKS, gear_with_seed

__all__ = [
    "AVERAGE_MAX",
    "AVERAGE_MIN",
    "MAXIMUM_MAX",
    "MAXIMUM_MIN",
    "MINIMUM_MAX",
    "MINIMUM_MIN",
    "ChunkerConfig",
    "chunk_bytes",
    "cut",
    "logarithm2",
]

# Config bounds — reference src/v2020/mod.rs:54-65.
MINIMUM_MIN = 64
MINIMUM_MAX = 1_048_576
AVERAGE_MIN = 256
AVERAGE_MAX = 4_194_304
MAXIMUM_MIN = 1024
MAXIMUM_MAX = 16_777_216

_U64 = np.uint64
_ONE = _U64(1)
_TWO = _U64(2)

# Per-column carry shifts for the block algorithm: after t in-block bytes the
# carry-in has been left-shifted 2*(t//2 + 1) bits; >= 64 means annihilated.
_CARRY_SHIFTS = (np.arange(64) // 2 + 1) * 2
_CARRY_LIVE = _CARRY_SHIFTS < 64  # columns where the carry still contributes
_CARRY_SHIFTS_U64 = _CARRY_SHIFTS[_CARRY_LIVE].astype(np.uint64)


def logarithm2(value: int) -> int:
    """Rounded (not floored) base-2 log — reference src/v2020/mod.rs:414-416."""
    return int(round(math.log2(value)))


@dataclass(frozen=True)
class ChunkerConfig:
    """Validated chunking parameters + derived masks and gear tables.

    Mirrors ``FastCDC::with_level_and_seed`` (src/v2020/mod.rs:543-576),
    but validates eagerly with ValueError (the reference only
    ``debug_assert!``s since 4.0.0).
    """

    min_size: int
    avg_size: int
    max_size: int
    level: int = 1  # Normalization level 0-3 (src/v2020/mod.rs:433-455)
    seed: int = 0

    # derived, filled in __post_init__
    mask_s: int = field(init=False)
    mask_l: int = field(init=False)
    mask_s_ls: int = field(init=False)
    mask_l_ls: int = field(init=False)

    def __post_init__(self) -> None:
        if not (MINIMUM_MIN <= self.min_size <= MINIMUM_MAX):
            raise ValueError(f"min_size {self.min_size} out of [{MINIMUM_MIN}, {MINIMUM_MAX}]")
        if not (AVERAGE_MIN <= self.avg_size <= AVERAGE_MAX):
            raise ValueError(f"avg_size {self.avg_size} out of [{AVERAGE_MIN}, {AVERAGE_MAX}]")
        if not (MAXIMUM_MIN <= self.max_size <= MAXIMUM_MAX):
            raise ValueError(f"max_size {self.max_size} out of [{MAXIMUM_MIN}, {MAXIMUM_MAX}]")
        if self.level not in (0, 1, 2, 3):
            raise ValueError(f"normalization level {self.level} not in 0..3")
        bits = logarithm2(self.avg_size)
        mask_s = int(MASKS[bits + self.level])
        mask_l = int(MASKS[bits - self.level])
        object.__setattr__(self, "mask_s", mask_s)
        object.__setattr__(self, "mask_l", mask_l)
        object.__setattr__(self, "mask_s_ls", (mask_s << 1) & 0xFFFFFFFFFFFFFFFF)
        object.__setattr__(self, "mask_l_ls", (mask_l << 1) & 0xFFFFFFFFFFFFFFFF)

    def gear_tables(self) -> tuple[np.ndarray, np.ndarray]:
        return gear_with_seed(self.seed)


def _gear_hash_array(contrib: np.ndarray) -> np.ndarray:
    """Per-position gear hash over a contribution array.

    ``contrib[i]`` is the table value added at scan position *i* (GEAR_LS at
    even positions, GEAR at odd); the recurrence is ``h = (h << 2) + c`` at
    even positions, ``h = h + c`` at odd. Returns ``h`` *after* each position.
    Position 0 must be an even (shift) step, matching the kernel scan start.
    """
    n = contrib.shape[0]
    nb = (n + 63) // 64
    padded = np.zeros(nb * 64, dtype=np.uint64)
    padded[:n] = contrib
    c = padded.reshape(nb, 64)

    # In-block prefix hashes (carry-free), vectorized across blocks.
    local = np.empty_like(c)
    acc = c[:, 0].copy()
    local[:, 0] = acc
    for t in range(1, 64):
        if t % 2 == 0:
            acc <<= _TWO
        acc += c[:, t]
        local[:, t] = acc

    # Carry-in for block b is block b-1's final hash; older history is gone
    # because its own carry was shifted 64 bits by then.
    if nb > 1:
        carry = local[:-1, 63]
        local[1:, _CARRY_LIVE] += carry[:, None] << _CARRY_SHIFTS_U64[None, :]
    return local.reshape(-1)[:n]


def cut(window: np.ndarray, cfg: ChunkerConfig,
        gear: np.ndarray | None = None, gear_ls: np.ndarray | None = None) -> tuple[int, int]:
    """One cut decision over ``window`` (uint8 array) — reference
    ``cut_gear_arr`` (src/v2020/mod.rs:350-409), bit-exact.

    Returns ``(hash, cutpoint)`` where ``cutpoint`` is the chunk length
    within the window (the reference's relative byte offset).
    """
    if gear is None or gear_ls is None:
        gear, gear_ls = cfg.gear_tables()
    remaining = window.shape[0]
    if remaining <= cfg.min_size:
        return 0, remaining
    center = cfg.avg_size
    if remaining > cfg.max_size:
        remaining = cfg.max_size
    elif remaining < center:
        center = remaining
    start = 2 * (cfg.min_size // 2)   # first hashed byte (pair-index * 2)
    end1 = 2 * (center // 2)          # strict-mask phase ends here (exclusive)
    end2 = 2 * (remaining // 2)       # scan ends here (exclusive)
    if end2 <= start:
        return 0, remaining
    s = window[start:end2]
    n = s.shape[0]
    even = np.arange(n) % 2 == 0      # local parity; start is even so this is scan parity
    contrib = np.where(even, gear_ls[s], gear[s])
    h = _gear_hash_array(contrib)

    masks = np.empty(n, dtype=np.uint64)
    n1 = end1 - start                 # strict-phase length in scan positions
    masks[:n1][even[:n1]] = _U64(cfg.mask_s_ls)
    masks[:n1][~even[:n1]] = _U64(cfg.mask_s)
    masks[n1:][even[n1:]] = _U64(cfg.mask_l_ls)
    masks[n1:][~even[n1:]] = _U64(cfg.mask_l)

    hit = (h & masks) == 0
    i = int(np.argmax(hit))
    if hit[i]:
        return int(h[i]), start + i
    return int(h[-1]), remaining


def chunk_bytes(data: bytes | bytearray | memoryview | np.ndarray,
                cfg: ChunkerConfig) -> list[tuple[int, int, int]]:
    """Chunk a byte buffer into ``[(hash, offset, length), ...]``.

    Mirrors the reference iterator (src/v2020/mod.rs:635-663): repeated
    ``cut`` over the unprocessed suffix; offsets/lengths tile the input
    exactly (invariant test src/v2020/mod.rs:1253-1274). Hashes are returned
    as Python ints of the u64 bit pattern.
    """
    buf = data if isinstance(data, np.ndarray) else np.frombuffer(data, dtype=np.uint8)
    gear, gear_ls = cfg.gear_tables()
    out: list[tuple[int, int, int]] = []
    processed = 0
    remaining = buf.shape[0]
    while remaining > 0:
        h, cutpoint = cut(buf[processed:processed + remaining], cfg, gear, gear_ls)
        if cutpoint == 0:
            break
        out.append((h, processed, cutpoint))
        processed += cutpoint
        remaining -= cutpoint
    return out

