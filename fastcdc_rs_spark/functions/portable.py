"""Column expressions with exact DuckDB SQL twins.

The driver's correctness gate runs each Spark query side-by-side with an
ANSI-SQL oracle in DuckDB and hashes the values, so every computed column
used in an oracle-checked query must be *bit-identical* across engines.
These helpers pin the portable constructions (and their SQL twins are
documented inline so __spark_entry__.oracle_sql stays in sync):

* ``md5_long(col)``  — 60-bit integer from the md5 hex prefix:
    Spark : conv(substr(md5(x), 1, 15), 16, 10)::bigint
    DuckDB: ('0x' || substr(md5(x), 1, 15))::bigint
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = ["md5_long"]


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_long(col: str | Column) -> Column:
    """Deterministic 60-bit non-negative integer hash, portable to DuckDB."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("bigint")
