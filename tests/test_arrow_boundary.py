"""The Arrow ↔ ragged adapter at the kernel boundary, alone and through
every kernel UDF on hostile input: each UDF must agree with the list
kernels on the same bytes, NULL text counting as ``b""``."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from fastcdc_rs_spark.kernel.batch import chunk_batch_columnar
from fastcdc_rs_spark.kernel.signatures import signature_batch, simhash_batch
from fastcdc_rs_spark.operators.ragged import list_array, ragged
from fastcdc_rs_spark.pipeline import DedupConfig


def _check(arr, want_docs, dtype):
    values, counts = ragged(arr)
    assert values.dtype == dtype and counts.dtype == np.int64
    assert counts.tolist() == [len(d) for d in want_docs]
    assert values.tobytes() == b"".join(
        d if isinstance(d, bytes) else np.asarray(d, dtype=dtype).tobytes()
        for d in want_docs
    )


def test_sliced_text_and_list_arrays():
    text = pa.array(["skip", "ab", None, "é", "cut"]).slice(1, 3)
    assert text.offset == 1
    _check(text, [b"ab", b"", "é".encode()], np.uint8)
    lists = pa.array([[9], [1, -1], None, [], [3]], pa.list_(pa.int64())).slice(1, 4)
    _check(lists, [[1, 2**64 - 1], [], [], [3]], np.uint64)


def test_null_slot_whose_offsets_span_bytes():
    # Arrow lets a NULL slot's offsets cover bytes; they must not leak
    # into the neighbouring docs or the NULL doc
    offs = np.array([0, 2, 5, 8], dtype=np.int32)
    validity = np.packbits([1, 0, 1], bitorder="little")
    arr = pa.StringArray.from_buffers(
        3, pa.py_buffer(offs.tobytes()), pa.py_buffer(b"abXYZcde"),
        pa.py_buffer(validity.tobytes()), null_count=1,
    )
    _check(arr, [b"ab", b"", b"cde"], np.uint8)


@pytest.mark.parametrize("t, raw", [
    (pa.binary(), [b"\xff\xfe\x00", None, b"xyz"]),
    (pa.large_binary(), [b"\xff\xfe\x00", None, b"xyz"]),
    (pa.large_string(), ["ÿ", None, "xyz"]),
])
def test_binary_and_large_types(t, raw):
    want = [r.encode() if isinstance(r, str) else (r or b"") for r in raw]
    _check(pa.array(raw, t), want, np.uint8)
    _check(pa.array(raw, t).slice(1), want[1:], np.uint8)


@pytest.mark.parametrize("arr", [
    *(pa.array([], t) for t in (pa.string(), pa.binary(), pa.large_string(),
                                pa.list_(pa.int64()))),
    # as an IPC reader may hand it over: no offsets at all
    pa.Array.from_buffers(pa.large_binary(), 0, [None, pa.py_buffer(b""), pa.py_buffer(b"")]),
])
def test_zero_length_batch(arr):
    values, counts = ragged(arr)
    assert values.size == 0 and counts.size == 0


@pytest.mark.parametrize("arr", [pa.array([1, 2]), pa.array([[1.5]]),
                                 pa.array([True])])
def test_non_text_column_raises_type_error(arr):
    with pytest.raises(TypeError):
        ragged(arr)


def test_null_list_element_raises_value_error():
    with pytest.raises(ValueError):
        ragged(pa.array([[1, None]], pa.list_(pa.int64())))


def test_list_array_round_trip():
    t = pa.list_(pa.field("element", pa.int64(), nullable=False))
    out = list_array(np.array([5, -2, 7], dtype=np.int64), np.array([2, 0, 1]), t)
    assert out.type == t
    assert out.to_pylist() == [[5, -2], [], [7]]
    _check(out, [[5, 2**64 - 2], [], [7]], np.uint64)


# --- Spark: every kernel UDF on hostile input ------------------------------

CFG = DedupConfig()
HUGE = 100 * CFG.chunk_max + 17
_rng = np.random.default_rng(7)
_words = " ".join("w%d" % int(i) for i in _rng.integers(0, 500, HUGE // 4))
HOSTILE = {
    "text": [None, "", "   \n\t  ", _words[:HUGE], "same page text " * 40,
             "same page text " * 40, "same page text " * 40],
    "binary": [b"\xff\xfe\xc3\x28" * 300, None, b"\x80" * 5, b"",
               "plain ascii".encode() * 50],
}


def _docs(spark, kind):
    values = HOSTILE[kind]
    df = spark.createDataFrame(
        list(enumerate(values)),
        "doc_id long, body " + ("string" if kind == "text" else "binary"),
    )
    raw = [v.encode() if isinstance(v, str) else (v or b"") for v in values]
    return df, [np.frombuffer(b, dtype=np.uint8) for b in raw]


def _expected(bufs):
    counts, hashes, offs, lens = chunk_batch_columnar(bufs, CFG.chunker())
    splits = np.cumsum(counts)[:-1]
    units = np.split(hashes, splits)
    shingles, bands = signature_batch(
        units, k=CFG.shingle_k, n_perms=CFG.n_perms, bands=CFG.bands,
        rows=CFG.rows, seed=CFG.minhash_seed,
    )
    return {
        "chunks": [list(zip(h.view(np.int64).tolist(), o.tolist(), n.tolist()))
                   for h, o, n in zip(units, np.split(offs, splits), np.split(lens, splits))],
        "n_units": counts.tolist(),
        "shingles": [s.view(np.int64).tolist() for s in shingles],
        "bands": [b.view(np.int64).tolist() for b in bands],
        "simhash": simhash_batch(units).view(np.int64).tolist(),
    }


@pytest.mark.parametrize("kind", ["text", "binary"])
def test_kernel_udfs_match_list_kernels_on_hostile_input(spark, kind):
    from fastcdc_rs_spark.operators.chunk import chunk_documents
    from fastcdc_rs_spark.operators.minhash import (
        chunk_minhash_signatures,
        minhash_signatures,
    )
    from fastcdc_rs_spark.operators.simhash import chunk_simhash64
    from fastcdc_rs_spark.pipeline import unit_hashes

    assert len(HOSTILE["text"][3]) == HUGE
    docs, bufs = _docs(spark, kind)
    want = _expected(bufs)
    sig = dict(k=CFG.shingle_k, n_perms=CFG.n_perms, bands=CFG.bands,
               rows=CFG.rows, seed=CFG.minhash_seed)

    def rows(frame):  # one job each, sorted in Python: no exchange
        return sorted(frame.collect(), key=lambda r: r.doc_id)

    chunks = [[] for _ in bufs]
    for r in sorted(chunk_documents(docs, CFG.chunker(), content_col="body").collect(),
                    key=lambda r: (r.doc_id, r.chunk_idx)):
        assert r.chunk_idx == len(chunks[r.doc_id])
        chunks[r.doc_id].append((r.hash, r.offset, r.length))
    assert chunks == want["chunks"]

    fused = rows(chunk_minhash_signatures(docs, CFG.chunker(), text_col="body", **sig))
    unfused = rows(minhash_signatures(unit_hashes(docs, CFG, text_col="body"), **sig))
    for got in (fused, unfused):
        assert [list(r.shingles) for r in got] == want["shingles"]
        assert [list(r.bands) for r in got] == want["bands"]
    assert [r.n_units for r in fused] == want["n_units"]

    sim = rows(chunk_simhash64(docs, CFG.chunker(), seed=1, text_col="body"))
    assert [r.simhash for r in sim] == want["simhash"]
