"""Chunking stage: documents DataFrame → per-document FastCDC chunks.

Spark mapping of the reference's three entry points (SURVEY.md §3): the
in-memory chunker (fastcdc-rs src/v2020/mod.rs:522-663) becomes an Arrow
UDF over a string/binary column; streaming variants
(StreamCDC/AsyncStreamCDC, src/v2020/mod.rs:741-915) need no buffer
machinery because a web page fits in one row — incremental arrival is
handled at the *document* level by Structured Streaming (streaming/).

Config is computed once per executor (broadcast via UDF closure), the
analog of ``rechunk``'s amortization (src/v2020/mod.rs:627-632). Each
Arrow batch crosses the kernel boundary as one ragged batch (ragged.py):
the column's value buffer goes to ``chunk_ragged`` in place and the
chunk lists are built from the kernel's flat arrays.

Hashes are u64 bit patterns stored in Spark ``LongType`` via signed
reinterpretation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, IntegerType, LongType, StructField, StructType

from ..kernel import ChunkerConfig
from ..kernel.batch import chunk_ragged
from .ragged import list_array, ragged

__all__ = [
    "CHUNK_ARRAYS_SCHEMA",
    "cdc_dedup_stats",
    "chunk_documents",
    "chunk_arrays_udf",
    "chunk_hashes_udf",
]

CHUNK_ARRAYS_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType()), False),
        StructField("offsets", ArrayType(LongType()), False),
        StructField("lengths", ArrayType(IntegerType()), False),
    ]
)


def chunk_arrays_udf(cfg: ChunkerConfig):
    """Arrow UDF: text/binary column → struct-of-arrays
    ``(hashes array<long>, offsets array<long>, lengths array<int>)``.

    ``chunk_documents`` zips it JVM-side into the array-of-structs view.
    """
    fields = list(to_arrow_type(CHUNK_ARRAYS_SCHEMA))

    @F.arrow_udf(CHUNK_ARRAYS_SCHEMA)
    def _chunk(data: pa.Array) -> pa.Array:
        counts, hashes, offs, lns = chunk_ragged(*ragged(data), cfg)
        cols = (hashes.view(np.int64), offs, lns.astype(np.int32))
        return pa.StructArray.from_arrays(
            [list_array(c, counts, f.type) for c, f in zip(cols, fields)],
            fields=fields,
        )

    return _chunk


def chunk_hashes_udf(cfg: ChunkerConfig):
    """Arrow UDF: text/binary column → array<long> of chunk gear hashes.

    The pipeline hot path (unit_hashes → shingles → MinHash) needs only the
    hash sequence, so this skips the offsets and lengths lists entirely.
    """
    list_type = to_arrow_type(ArrayType(LongType()))

    @F.arrow_udf(ArrayType(LongType()))
    def _hashes(data: pa.Array) -> pa.Array:
        counts, hashes, _, _ = chunk_ragged(*ragged(data), cfg)
        return list_array(hashes.view(np.int64), counts, list_type)

    return _hashes


def chunk_documents(
    docs: DataFrame,
    cfg: ChunkerConfig,
    content_col: str = "text",
    id_cols: tuple[str, ...] = ("doc_id",),
    exploded: bool = True,
) -> DataFrame:
    """Chunk ``content_col``; return either a per-doc array column
    (``chunks``) or the exploded chunks table
    ``(id..., chunk_idx, hash, offset, length)``.
    """
    # one UDF evaluation (aliased column), array-of-structs built JVM-side
    with_sa = docs.select(
        *id_cols, chunk_arrays_udf(cfg)(F.col(content_col)).alias("ca")
    )
    with_arr = with_sa.select(*id_cols, F.arrays_zip(
        F.col("ca.hashes").alias("hash"),
        F.col("ca.offsets").alias("offset"),
        F.col("ca.lengths").alias("length"),
    ).alias("chunks"))
    if not exploded:
        return with_arr
    # posexplode_outer + post-filter instead of posexplode: the plain
    # generator makes Catalyst infer a `size(chunks) > 0` filter and push
    # it BELOW the projection, duplicating the kernel UDF evaluation
    # (two ArrowEvalPython nodes = 2x the chunking work). The outer form
    # needs no such filter; empty docs yield one null row dropped by the
    # cheap post-generate filter. Plan pinned by tests (1 ArrowEvalPython).
    return with_arr.select(
        *id_cols, F.posexplode_outer("chunks").alias("chunk_idx", "c")
    ).where(F.col("chunk_idx").isNotNull()).select(
        *id_cols,
        "chunk_idx",
        F.col("c.hash").alias("hash"),
        F.col("c.offset").alias("offset"),
        F.col("c.length").alias("length"),
    )


def cdc_dedup_stats(
    docs: DataFrame,
    cfg: ChunkerConfig,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """One-row CDC storage-dedup summary — the measure the reference
    chunker exists for (fastcdc-rs README: content-defined chunking for
    data deduplication): if every repeated chunk were stored once in a
    hash-addressed store, how many bytes survive?

    Columns: (n_docs, total_bytes, n_chunks, n_unique_chunks,
    unique_bytes, dedup_ratio) with dedup_ratio = 1 - unique/total
    (0 = nothing shared). Chunks are identified by (hash, length) —
    the content-addressed-store model. Rounded to 6 for comparisons.

    Scale shape: one groupBy on the chunk hash (map-side combined) and
    one global aggregate; no joins, no row-level Python beyond the
    Arrow chunk kernel.
    """
    chunks = chunk_documents(docs, cfg, content_col=content_col, id_cols=(id_col,))
    per_chunk = chunks.groupBy("hash", "length").agg(
        F.count(F.lit(1)).alias("copies")
    )
    uniq = per_chunk.agg(
        F.count(F.lit(1)).alias("n_unique_chunks"),
        F.sum("length").alias("unique_bytes"),
        F.sum(F.col("length") * F.col("copies")).alias("total_bytes"),
        F.sum("copies").alias("n_chunks"),
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    return n_docs.crossJoin(uniq).select(
        "n_docs",
        "total_bytes",
        "n_chunks",
        "n_unique_chunks",
        "unique_bytes",
        F.round(
            F.lit(1.0)
            - F.col("unique_bytes").cast("double") / F.col("total_bytes").cast("double"),
            6,
        ).alias("dedup_ratio"),
    )
