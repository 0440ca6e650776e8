"""MinHash signature stage (SURVEY.md §2.B B4/B5/B6 fused).

One Arrow UDF turns each doc's unit-hash sequence (its FastCDC chunk
hashes) into:

* ``shingles``: the deduplicated k-gram shingle-hash set (used again by
  exact-Jaccard verification), and
* ``bands``: the LSH band keys of the MinHash signature.

All three steps run in one kernel call per Arrow batch
(kernel/signatures.signature_ragged) on the column's buffers as one ragged
batch (ragged.py) — the same code the single-node recall oracle calls, so
Spark and oracle agree bit-for-bit under a given config. Values are u64 bit
patterns stored as LongType via signed reinterpretation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..kernel.batch import chunk_ragged
from ..kernel.signatures import signature_ragged
from .ragged import list_array, ragged

__all__ = [
    "minhash_signatures",
    "chunk_minhash_signatures",
    "SIGNATURE_SCHEMA",
    "CHUNK_SIGNATURE_SCHEMA",
]

SIGNATURE_SCHEMA = StructType(
    [
        StructField("shingles", ArrayType(LongType(), False), False),
        StructField("bands", ArrayType(LongType(), False), False),
    ]
)

CHUNK_SIGNATURE_SCHEMA = StructType(
    SIGNATURE_SCHEMA.fields + [StructField("n_units", LongType(), False)]
)


def _signature_struct(fields, flat, counts, params, *extra) -> pa.StructArray:
    """Ragged unit hashes → ``(shingles, bands, *extra)`` struct rows."""
    shingles, sh_counts, keys = signature_ragged(flat, counts, **params)
    cols = [
        list_array(shingles.view(np.int64), sh_counts, fields[0].type),
        list_array(keys.reshape(-1).view(np.int64),
                   np.full(len(counts), keys.shape[1]), fields[1].type),
        *extra,
    ]
    return pa.StructArray.from_arrays(cols, fields=fields)


def minhash_signatures(
    units: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 16,
    rows: int = 8,
    seed: int = 1,
    units_col: str = "unit_hashes",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingles array<long>, bands array<long>); any other
    column of ``units`` rides along after doc_id."""
    fields = list(to_arrow_type(SIGNATURE_SCHEMA))
    params = dict(k=k, n_perms=n_perms, bands=bands, rows=rows, seed=seed)

    @F.arrow_udf(SIGNATURE_SCHEMA)
    def _sig(unit_hashes: pa.Array) -> pa.Array:
        return _signature_struct(fields, *ragged(unit_hashes), params)

    keep = [id_col, *(c for c in units.columns if c not in (id_col, units_col))]
    return units.select(*keep, _sig(F.col(units_col)).alias("_sig")).select(*keep, "_sig.*")


def chunk_minhash_signatures(
    docs: DataFrame,
    chunker_cfg,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 16,
    rows: int = 8,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, shingles, bands, n_units): FastCDC chunk hashes → shingles
    → MinHash band keys in ONE Arrow UDF.

    The unfused shape (``unit_hashes`` then ``minhash_signatures``) is not
    a second JVM↔Python crossing: Spark chains the two UDFs inside one
    ``ArrowEvalPython`` node and one worker. What fusing saves is the
    intermediate chunk-hash column: the kernel's flat hash array feeds
    ``signature_ragged`` directly instead of being built into an Arrow
    list array and read back. ``n_units`` carries the per-doc chunk count
    so pipeline metrics (units_total) need no separate units frame.
    """
    fields = list(to_arrow_type(CHUNK_SIGNATURE_SCHEMA))
    params = dict(k=k, n_perms=n_perms, bands=bands, rows=rows, seed=seed)

    @F.arrow_udf(CHUNK_SIGNATURE_SCHEMA)
    def _chunk_sig(texts: pa.Array) -> pa.Array:
        counts, hashes, _, _ = chunk_ragged(*ragged(texts), chunker_cfg)
        return _signature_struct(fields, hashes, counts, params, pa.array(counts))

    return docs.select(id_col, _chunk_sig(F.col(text_col)).alias("_sig")).select(id_col, "_sig.*")
