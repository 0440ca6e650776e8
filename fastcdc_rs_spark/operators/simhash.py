"""Fused chunk → SimHash stage (SURVEY.md §2.B B7).

One Arrow UDF turns each doc's text into FastCDC chunk hashes and their
64-bit bit-majority SimHash (kernel/signatures.simhash_ragged), with no
intermediate chunk-hash column. The oracle-checked Hamming-band query
(``q_simhash_hamming_pairs`` in __spark_entry__.py) builds its bands and
distances inline over a SQL-expressible SimHash.
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

__all__ = ["chunk_simhash64"]


def chunk_simhash64(docs: DataFrame, chunker_cfg, seed: int = 1,
                    text_col: str = "text", id_col: str = "doc_id",
                    out_col: str = "simhash") -> DataFrame:
    """(doc_id, simhash): FastCDC chunk hashes → 64-bit SimHash in ONE
    Arrow UDF (see operators/minhash.chunk_minhash_signatures for what
    fusing saves)."""

    @F.arrow_udf(LongType())
    def _chunk_simhash(texts: pa.Array) -> pa.Array:
        counts, hashes, _, _ = chunk_ragged(*ragged(texts), chunker_cfg)
        return pa.array(simhash_ragged(hashes, counts, seed=seed).view(np.int64))

    return docs.select(F.col(id_col), _chunk_simhash(F.col(text_col)).alias(out_col))

