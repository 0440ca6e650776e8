"""Seeded synthetic stand-ins for the reference's jpg fixture.

The kernel parity tests (native vs numpy, batch vs scalar, stream vs
memory) need a large binary input but no reference values, so they run
over this set as well as the fixture and check parity on every host.
"""

from __future__ import annotations

import numpy as np

FIXTURE_SIZE = 109_466  # bytes in the reference's SekienAkashita.jpg

_TEXT = (b"Content-defined chunking cuts a byte stream where a rolling hash "
         b"matches a mask, so an edit moves only the nearby cut points. ")


def synthetic_blobs() -> dict[str, bytes]:
    """PRNG bytes of the fixture's size, their first 4,096 bytes (exactly
    min_size), all-zeros, and repeated English text."""
    prng = np.random.default_rng(2020).integers(
        0, 256, FIXTURE_SIZE, dtype=np.uint8).tobytes()
    return {
        "prng": prng,
        "prng_prefix": prng[:4096],
        "zeros": bytes(FIXTURE_SIZE),
        "text": (_TEXT * (FIXTURE_SIZE // len(_TEXT) + 1))[:FIXTURE_SIZE],
    }


def synthetic_arrays() -> list[np.ndarray]:
    return [np.frombuffer(b, dtype=np.uint8) for b in synthetic_blobs().values()]
