"""fastcdc_rs_spark — a PySpark-native near-duplicate detection and
clustering engine built around the FastCDC v2020 content-defined chunking
algorithm (reference: nlfiedler/fastcdc-rs, studied read-only; this is a
from-scratch Spark-first design, not a port).

Layers:
  kernel/     numpy kernels (bit-exact FastCDC v2020, MinHash, SimHash)
  operators/  DataFrame-level pipeline stages (chunk, shingle, LSH, CC, ...)
  sources/    table IO + checkpoint/resume manifests
  streaming/  Structured Streaming incremental dedup
  functions/  reusable column expressions (portable Spark<->DuckDB hashing)
"""

__version__ = "0.1.0"
