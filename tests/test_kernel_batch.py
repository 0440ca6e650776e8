"""Batched kernel must be bit-identical to the sequential golden kernel."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pytest

from fastcdc_rs_spark.kernel import ChunkerConfig, chunk_bytes
from fastcdc_rs_spark.kernel.batch import chunk_batch
from tests.synthetic import synthetic_arrays

FIXTURE = Path("/root/reference/test/fixtures/SekienAkashita.jpg")


_LEVEL_SEED = pytest.mark.parametrize(
    "level,seed", [(1, 0), (1, 666), (0, 0), (3, 0)])


def _assert_batch_parity(big, level, seed):
    rng = np.random.default_rng(7)
    docs = [
        np.array([], dtype=np.uint8),                       # empty
        np.zeros(10, dtype=np.uint8),                       # sub-min
        np.zeros(50_000, dtype=np.uint8),                   # zeros -> max chunks
        *big,                                               # large binary inputs
        rng.integers(0, 256, 200_000, dtype=np.uint8),      # big random
        rng.integers(0, 256, 5_000, dtype=np.uint8),        # small random
        rng.integers(0, 256, 16_385, dtype=np.uint8),       # odd length
    ]
    cfg = ChunkerConfig(4096, 16384, 65535, level, seed)
    batched = chunk_batch(docs, cfg)
    for d, got in zip(docs, batched):
        assert got == chunk_bytes(d, cfg)


@_LEVEL_SEED
def test_batch_parity_mixed_docs(level, seed):
    fixture = np.frombuffer(FIXTURE.read_bytes(), dtype=np.uint8)
    # golden fixture, and its first min_size bytes
    _assert_batch_parity([fixture, fixture[:4096]], level, seed)


@_LEVEL_SEED
def test_batch_parity_mixed_docs_synthetic(level, seed):
    _assert_batch_parity(synthetic_arrays(), level, seed)


def test_batch_parity_small_params():
    # The tiny-doc config used over the driver `documents` table.
    rng = np.random.default_rng(11)
    docs = [rng.integers(0, 256, int(n), dtype=np.uint8)
            for n in rng.integers(0, 2000, 200)]
    cfg = ChunkerConfig(64, 256, 1024)
    batched = chunk_batch(docs, cfg)
    for d, got in zip(docs, batched):
        assert got == chunk_bytes(d, cfg)
    # coverage invariant over the whole batch
    for d, got in zip(docs, batched):
        nxt = 0
        for _, off, ln in got:
            assert off == nxt and ln > 0
            nxt += ln
        assert nxt == len(d)


def test_columnar_matches_row_api():
    import numpy as np

    from fastcdc_rs_spark.kernel import ChunkerConfig
    from fastcdc_rs_spark.kernel.batch import chunk_batch, chunk_batch_columnar

    rng = np.random.default_rng(3)
    bufs = [
        np.frombuffer(rng.integers(0, 256, size=int(n), dtype=np.uint8).tobytes(), dtype=np.uint8)
        for n in list(rng.integers(0, 5000, 30)) + [0, 1, 64, 65, 1024, 4096]
    ]
    cfg = ChunkerConfig(64, 256, 1024)
    rows = chunk_batch(bufs, cfg)
    counts, hashes, offs, lns = chunk_batch_columnar(bufs, cfg)
    assert list(counts) == [len(r) for r in rows]
    flat = [t for r in rows for t in r]
    assert [int(h) for h in hashes] == [t[0] for t in flat]
    assert [int(o) for o in offs] == [t[1] for t in flat]
    assert [int(l) for l in lns] == [t[2] for t in flat]
    assert chunk_batch([], cfg) == []


def test_chunk_hashes_udf_parity(spark):
    import pyspark.sql.functions as F

    from fastcdc_rs_spark.kernel import ChunkerConfig
    from fastcdc_rs_spark.operators.chunk import chunk_documents, chunk_hashes_udf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = ChunkerConfig(64, 256, 1024)
    via_structs = (
        chunk_documents(docs, cfg, content_col="text", exploded=False)
        .select("doc_id", F.transform("chunks", lambda c: c["hash"]).alias("h"))
        .orderBy("doc_id")
        .collect()
    )
    via_fast = (
        docs.select("doc_id", chunk_hashes_udf(cfg)(F.col("text")).alias("h"))
        .orderBy("doc_id")
        .collect()
    )
    assert [(r.doc_id, list(r.h)) for r in via_structs] == [
        (r.doc_id, list(r.h)) for r in via_fast
    ]
