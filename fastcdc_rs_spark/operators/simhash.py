"""SimHash candidate generation (SURVEY.md §2.B B7).

64-bit bit-majority SimHash per doc (kernel/signatures.py), then bucketing
on 4 x 16-bit Hamming bands: two docs within Hamming distance 3 must agree
on at least one band (pigeonhole), so bucket equality guarantees recall for
distance <= 3. Band extraction is JVM-side bit arithmetic.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType

from ..kernel.batch import chunk_ragged
from ..kernel.signatures import simhash_ragged
from .ragged import ragged

__all__ = ["simhash64", "chunk_simhash64", "simhash_bands", "hamming_distance_expr"]


def simhash64(shingled: DataFrame, seed: int = 1,
              shingles_col: str = "shingles", out_col: str = "simhash") -> DataFrame:
    @F.arrow_udf(LongType())
    def _simhash(shingles: pa.Array) -> pa.Array:
        return pa.array(simhash_ragged(*ragged(shingles), seed=seed).view(np.int64))

    return shingled.withColumn(out_col, _simhash(F.col(shingles_col)))


def chunk_simhash64(docs: DataFrame, chunker_cfg, seed: int = 1,
                    text_col: str = "text", id_col: str = "doc_id",
                    out_col: str = "simhash") -> DataFrame:
    """(doc_id, simhash): FastCDC chunk hashes → 64-bit SimHash in ONE
    Arrow UDF — the fused twin of ``unit_hashes`` + ``simhash64`` (same
    kernels, bit-exact; see operators/minhash.chunk_minhash_signatures
    for what fusing saves)."""

    @F.arrow_udf(LongType())
    def _chunk_simhash(texts: pa.Array) -> pa.Array:
        counts, hashes, _, _ = chunk_ragged(*ragged(texts), chunker_cfg)
        return pa.array(simhash_ragged(hashes, counts, seed=seed).view(np.int64))

    return docs.select(F.col(id_col), _chunk_simhash(F.col(text_col)).alias(out_col))


def simhash_bands(df: DataFrame, n_bands: int = 4,
                  sim_col: str = "simhash", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, band_id, band_hash): 16-bit slices of the 64-bit simhash."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.shiftrightunsigned(F.col(sim_col), b * width).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]
    )
    return df.select(id_col, F.posexplode(band_arr).alias("band_id", "band_hash"))


def hamming_distance_expr(a, b):
    """bit_count(a XOR b) — JVM-side Hamming distance between two longs."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))
