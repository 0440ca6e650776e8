"""Stream-equals-memory for the bounded-buffer blob chunker, mirroring
the reference's StreamCDC test (src/v2020/mod.rs:1276-1329): chunking a
byte stream through a small buffer must equal chunking the whole buffer
in memory — including at the reference's exact buffer size (max_size)."""

from __future__ import annotations

import io
from pathlib import Path

import numpy as np
import pytest

from fastcdc_rs_spark.kernel import ChunkerConfig, chunk_bytes
from fastcdc_rs_spark.kernel.stream import stream_chunks
from tests.synthetic import synthetic_blobs

FIXTURE = Path("/root/reference/test/fixtures/SekienAkashita.jpg")
CFG = ChunkerConfig(4096, 16384, 65535)
SYNTHETIC = synthetic_blobs()


class _DribbleReader(io.RawIOBase):
    """Returns fewer bytes than asked (exercises the fill loop)."""

    def __init__(self, data: bytes, trickle: int = 1000):
        self._b = io.BytesIO(data)
        self._trickle = trickle

    def read(self, n: int = -1) -> bytes:
        return self._b.read(min(n, self._trickle) if n > 0 else n)


@pytest.mark.parametrize("buffer_size", [None, 65535, 65535 * 2, 1])
def test_stream_equals_memory_random_blob(buffer_size):
    rng = np.random.default_rng(21)
    data = rng.integers(0, 256, 5_000_000, dtype=np.uint8).tobytes()
    expected = chunk_bytes(data, CFG)
    got = list(stream_chunks(io.BytesIO(data), CFG, buffer_size))
    assert got == expected


def test_stream_equals_memory_fixture_and_short_reads():
    data = FIXTURE.read_bytes()
    expected = chunk_bytes(data, CFG)
    # reference buffer size (exactly max_size) + a reader that dribbles
    got = list(stream_chunks(_DribbleReader(data), CFG, 65535))
    assert got == expected


@pytest.mark.parametrize("name", SYNTHETIC)
def test_stream_equals_memory_synthetic_and_short_reads(name):
    data = SYNTHETIC[name]
    expected = chunk_bytes(data, CFG)
    got = list(stream_chunks(_DribbleReader(data), CFG, 65535))
    assert got == expected


@pytest.mark.parametrize("buffer_size", [None, 65535])
def test_stream_equals_memory_v2016_variant(buffer_size):
    # v2016 StreamCDC twin (src/v2016/mod.rs:481-628): same bounded-buffer
    # machinery, v2016 cut kernel
    from fastcdc_rs_spark.kernel.v2016 import chunk_bytes_v2016

    data = FIXTURE.read_bytes()
    expected = chunk_bytes_v2016(data, 4096, 16384, 65535)
    got = list(stream_chunks(_DribbleReader(data), CFG, buffer_size, variant="v2016"))
    assert got == expected
    with pytest.raises(ValueError, match="variant"):
        next(stream_chunks(io.BytesIO(b"x"), CFG, variant="v9999"))


@pytest.mark.parametrize("buffer_size", [None, 65535])
@pytest.mark.parametrize("name", SYNTHETIC)
def test_stream_equals_memory_v2016_synthetic(name, buffer_size):
    from fastcdc_rs_spark.kernel.v2016 import chunk_bytes_v2016

    data = SYNTHETIC[name]
    expected = chunk_bytes_v2016(data, 4096, 16384, 65535)
    got = list(stream_chunks(_DribbleReader(data), CFG, buffer_size, variant="v2016"))
    assert got == expected


def test_stream_edge_cases():
    assert list(stream_chunks(io.BytesIO(b""), CFG)) == []
    small = b"x" * 100  # sub-min -> single chunk, hash 0
    assert list(stream_chunks(io.BytesIO(small), CFG)) == [(0, 0, 100)]
    zeros = bytes(200_000)  # mask never matches -> max_size chunks
    got = list(stream_chunks(io.BytesIO(zeros), CFG, 65535))
    assert got == chunk_bytes(zeros, CFG)
    with pytest.raises(ValueError, match="variant"):
        next(stream_chunks(io.BytesIO(b"x"), CFG, variant="v9999"))
