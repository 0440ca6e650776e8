"""Bounded-memory streaming chunker — the StreamCDC twin.

The reference's streaming entry point exists to chunk inputs larger than
memory (fastcdc-rs src/v2020/mod.rs:741-915: fill_buffer / read_chunk /
drain_bytes over a ``max_size`` buffer). ``stream_chunks`` is that
machinery over any ``.read(n)`` source, with one Spark-era improvement:
the buffer may hold several ``max_size`` windows so each kernel call
amortizes over many cuts (the reference drains one chunk per call).

Exactness: a cut decision starting at ``s`` examines at most
``max_size`` bytes, so every chunk whose start satisfies
``s + max_size <= buffered`` saw exactly the window the in-memory
chunker would — those are emitted, the rest wait for the next fill.
At EOF the whole remainder is chunked. Hence stream output ==
``chunk_bytes`` output for any buffer size >= max_size, mirroring the
reference's stream-equals-memory test (src/v2020/mod.rs:1276-1329),
pinned by tests/test_blob_stream.py.

Like the reference, chunking ONE blob is inherently sequential (each cut
depends on the previous). Memory is O(buffer_size). No Spark operator
wraps it: web pages fit in a row, and huge binaries are out of scope
(docs/SCALE.md).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import BinaryIO

import numpy as np

from .batch import chunk_batch_columnar
from .fastcdc import ChunkerConfig

__all__ = ["stream_chunks"]


def stream_chunks(
    reader: BinaryIO,
    cfg: ChunkerConfig,
    buffer_size: int | None = None,
    variant: str = "v2020",
) -> Iterator[tuple[int, int, int]]:
    """Yield ``(hash, offset, length)`` for a byte stream, using at most
    ``buffer_size`` buffered bytes (default ``8 * max_size``; clamped up
    to ``max_size`` — below that no cut decision could ever complete).

    ``variant`` selects the cut kernel: ``"v2020"`` (default, batched
    production path) or ``"v2016"`` — the v2016 StreamCDC twin
    (src/v2016/mod.rs:481-628). Both kernels' cut decisions depend only
    on (min, avg, max) and at most ``max_size`` window bytes, so the
    same emission guard makes stream == memory for either.

    Offsets are absolute stream positions; hashes are u64 bit patterns as
    Python ints (same convention as ``chunk_bytes``).
    """
    if variant == "v2020":
        chunk_window = None  # batched kernel below
    elif variant == "v2016":
        from .v2016 import chunk_bytes_v2016

        def chunk_window(arr):
            return chunk_bytes_v2016(
                arr, cfg.min_size, cfg.avg_size, cfg.max_size, cfg.level
            )
    else:
        raise ValueError(f"unknown stream variant {variant!r}")
    buffer_size = max(buffer_size or 8 * cfg.max_size, cfg.max_size)
    buf = b""
    offset = 0
    eof = False
    while True:
        if not eof and len(buf) < buffer_size:
            parts = [buf]
            have = len(buf)
            while have < buffer_size:
                piece = reader.read(buffer_size - have)
                if not piece:
                    eof = True
                    break
                parts.append(piece)
                have += len(piece)
            buf = b"".join(parts)
        if not buf:
            return
        arr = np.frombuffer(buf, dtype=np.uint8)
        if chunk_window is None:
            counts, hashes, offs, lens = chunk_batch_columnar([arr], cfg)
            n = int(counts[0])
        else:
            triples = chunk_window(arr)
            hashes = [t[0] for t in triples]
            offs = [t[1] for t in triples]
            lens = [t[2] for t in triples]
            n = len(triples)
        if eof:
            for i in range(n):
                yield int(hashes[i]), offset + int(offs[i]), int(lens[i])
            return
        consumed = 0
        for i in range(n):
            # only chunks whose full max_size window was buffered are
            # final — the rest are re-decided after the next fill
            if int(offs[i]) + cfg.max_size <= len(buf):
                yield int(hashes[i]), offset + int(offs[i]), int(lens[i])
                consumed = int(offs[i]) + int(lens[i])
            else:
                break
        # progress is guaranteed: len(buf) >= buffer_size >= max_size, so
        # the chunk starting at 0 always qualifies
        buf = buf[consumed:]
        offset += consumed
