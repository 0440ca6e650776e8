"""Cluster job: near-duplicate clustering with per-stage checkpoint/resume.

spark-submit entry point (scripts/submit_example.sh). Reads the documents
table (``doc_id`` or ``url`` id, ``text``), runs the pipeline's stage
sequence (``pipeline.run_stages``: signatures → candidate pairs →
verification → connected components) with every stage written through
``CheckpointedRun.stage``, so a killed run resumes idempotently from its
last completed stage (SURVEY.md §2.B B13), and publishes ``clusters``
plus a one-row metrics summary. The summary comes from the stages'
manifests and an observation on the clusters write: it costs no job of
its own.

Env / args:
  DEDUP_INPUT      input table path (parquet dir)
  DEDUP_OUTPUT     output root (stages + clusters written under it)
  DEDUP_CONFIG     optional JSON overriding DedupConfig fields
"""

from __future__ import annotations

# runnable both via spark-submit --py-files and as a plain script
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import hashlib
import json

import pyspark.sql.functions as F
from pyspark.sql import Observation

from fastcdc_rs_spark.pipeline import DedupConfig, run_stages
from fastcdc_rs_spark.session import spark_session
from fastcdc_rs_spark.sources.checkpoint import CheckpointedRun
from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog


def run_dedup_job(spark, inp: str, out: str, cfg: DedupConfig) -> dict:
    """Run the checkpointed dedup job; returns the summary dict."""
    docs = spark.read.parquet(inp)
    id_col = "doc_id" if "doc_id" in docs.columns else "url"

    fingerprint = hashlib.sha256(
        json.dumps({"cfg": cfg.__dict__, "input": inp}, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
    run = CheckpointedRun(spark, f"{out}/stages", fingerprint)
    clusters, _, buckets = run_stages(docs, cfg, run.stage, id_col=id_col)

    catalog = ParquetSnapshotCatalog(spark, f"{out}/lake")
    clustered = Observation("clustered")
    catalog.write(clusters.observe(
        clustered, F.count_if(F.col("cluster_id") != F.col(id_col)).alias("docs")
    ), "clusters")

    rows = {e["stage"]: e["rows"] for e in run.events}
    summary = {
        "fingerprint": fingerprint,
        "docs": rows["signatures"],
        "verified_pairs": rows["verified"],
        "docs_in_nontrivial_clusters": clustered.get["docs"],
        "bucket_metrics": buckets,
        "stages": run.events,
        "clusters_snapshots": len(catalog.snapshots("clusters")),
    }
    with open(f"{out}/summary.json", "w") as f:
        json.dump(summary, f, indent=2, default=str)
    return summary


def main() -> int:
    inp = os.environ.get("DEDUP_INPUT", "/root/testdata/sf0.01/documents.parquet")
    out = os.environ.get("DEDUP_OUTPUT", "/tmp/dedup_out")
    overrides = json.loads(os.environ.get("DEDUP_CONFIG", "{}"))
    cfg = DedupConfig(**overrides)
    spark = spark_session(app="fastcdc-dedup-job")
    summary = run_dedup_job(spark, inp, out, cfg)
    print(json.dumps(summary, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
