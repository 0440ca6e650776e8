"""Cluster job: near-duplicate clustering with per-stage checkpoint/resume.

spark-submit entry point (scripts/submit_example.sh). Reads the documents
table, runs extraction (if `text` is absent) → signatures → candidate
pairs → verification → connected components, checkpointing each stage so
a killed run resumes idempotently (SURVEY.md §2.B B13), and writes
`clusters` plus a one-row metrics summary.

Env / args:
  DEDUP_INPUT      input table path (parquet dir or Iceberg identifier)
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

from fastcdc_rs_spark.cache import scope
from fastcdc_rs_spark.operators.components import connected_components
from fastcdc_rs_spark.operators.lsh import candidate_pairs
from fastcdc_rs_spark.operators.minhash import minhash_signatures
from fastcdc_rs_spark.operators.verify import verify_pairs
from fastcdc_rs_spark.pipeline import DedupConfig, unit_hashes
from fastcdc_rs_spark.session import spark_session
from fastcdc_rs_spark.sources.checkpoint import CheckpointedRun
from fastcdc_rs_spark.sources.table import get_catalog


def run_dedup_job(spark, inp: str, out: str, cfg: DedupConfig,
                  catalog_kind: str = "parquet") -> dict:
    """Run the checkpointed dedup job; returns the summary dict."""
    if cfg.candidates != "minhash":
        raise ValueError(f"dedup job builds MinHash candidates only, not {cfg.candidates!r}")
    docs = spark.read.parquet(inp)
    id_col = "doc_id" if "doc_id" in docs.columns else "url"

    fingerprint = hashlib.sha256(
        json.dumps({"cfg": cfg.__dict__, "input": inp}, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]
    run = CheckpointedRun(spark, f"{out}/stages", fingerprint)

    signed = run.stage(
        "signatures",
        lambda: minhash_signatures(
            unit_hashes(docs, cfg, id_col=id_col),
            k=cfg.shingle_k, n_perms=cfg.n_perms,
            bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed, id_col=id_col,
        ),
    )
    bands_df = signed.select(
        id_col, F.posexplode("bands").alias("band_id", "band_hash"),
    )
    # each stage's persisted intermediates are released once run.stage
    # has written (materialized) its output
    with scope():
        pairs_df, metrics = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap, id_col=id_col)
        pairs = run.stage("pairs", lambda: pairs_df)
        m = metrics.first().asDict()
    with scope():
        verified = run.stage(
            "verified",
            lambda: verify_pairs(pairs, signed.select(id_col, "shingles"),
                                 threshold=cfg.threshold, id_col=id_col,
                                 hub_degree_cap=cfg.verify_hub_cap,
                                 hub_pair_bcast_max=cfg.verify_hub_pair_bcast_max,
                                 hub_bids_bcast_max=cfg.verify_hub_bids_bcast_max),
        )
    clusters = run.stage(
        "clusters",
        lambda: connected_components(verified, vertices=docs.select(id_col),
                                     id_col=id_col, edge_bound=m["pair_bound"]),
    )
    # publish through the abstract snapshot catalog (DEDUP_CATALOG=iceberg
    # swaps in the real Iceberg writer on a cluster; sources/table.py)
    catalog = get_catalog(spark, f"{out}/lake", kind=catalog_kind)
    catalog.write(clusters, "clusters")

    n_docs = docs.count()
    n_clustered = clusters.where(F.col("cluster_id") != F.col(id_col)).count()
    summary = {
        "fingerprint": fingerprint,
        "docs": n_docs,
        "verified_pairs": verified.count(),
        "docs_in_nontrivial_clusters": n_clustered,
        "bucket_metrics": m,
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
    summary = run_dedup_job(
        spark, inp, out, cfg,
        catalog_kind=os.environ.get("DEDUP_CATALOG", "parquet"),
    )
    print(json.dumps(summary, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
