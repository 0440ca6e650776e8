"""Per-stage checkpoint/resume (SURVEY.md §2.B B13).

Every pipeline stage can materialize its output to parquet with a manifest
recording (stage name, config fingerprint, row count, the stage's own
statistics, completion marker). A re-run with the same config fingerprint
reuses the completed stage instead of recomputing — so a killed pipeline
resumes idempotently from the last completed stage, and a config change
invalidates exactly the stages whose inputs changed. A resumed stage
reports its stored row count and statistics, so the run needs no job to
recover them.

The manifest also describes the stage's data, so nothing is read back to
learn it: ``rows`` is an ``Observation`` on the write itself,
``partitions`` (rows per committed part file) comes from the parquet
footers on the driver, and ``schema`` is the frame's schema, which the
stage is reopened with instead of inferring it. A manifest without a
schema is not a completed stage.

On a cluster the same layout maps to an Iceberg table per stage with
snapshot metadata as the manifest; the parquet+JSON form keeps the sandbox
dependency-free while exercising identical semantics (atomic completion
marker written after the data, resume by fingerprint match).
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StructType

from ..cache import scope

__all__ = ["StageCheckpoint", "CheckpointedRun"]


@dataclass
class StageCheckpoint:
    root: Path
    stage: str
    fingerprint: str

    @property
    def data_path(self) -> Path:
        return self.root / self.stage / "data"

    @property
    def manifest_path(self) -> Path:
        return self.root / self.stage / "_MANIFEST.json"

    def is_complete(self) -> dict | None:
        """The manifest of a completed stage under this fingerprint."""
        try:
            manifest = json.loads(self.manifest_path.read_text())
        except (OSError, json.JSONDecodeError):
            return None
        done = (manifest.get("complete") and "schema" in manifest
                and manifest.get("fingerprint") == self.fingerprint)
        return manifest if done else None

    def write(self, df: DataFrame, stats: dict | None = None) -> dict:
        """Materialize the stage; the manifest (with the completion marker)
        is written only after the parquet commit succeeds — a crash mid-write
        leaves an incomplete stage that re-runs."""
        self.data_path.parent.mkdir(parents=True, exist_ok=True)
        written = Observation()
        df.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite").parquet(str(self.data_path))
        rows = written.get["rows"]
        # per-file lineage: row count of every committed part file, so a
        # resumed/audited run can verify the stage file-by-file (and a
        # cluster deployment maps this 1:1 onto Iceberg manifest entries)
        per_file = {
            p.name: pq.read_metadata(p).num_rows
            for p in sorted(self.data_path.glob("*.parquet"))
        }
        if sum(per_file.values()) != rows:
            raise RuntimeError(
                f"stage {self.stage!r}: part files hold {sum(per_file.values())} "
                f"rows, the write produced {rows}"
            )
        manifest = {
            "stage": self.stage,
            "fingerprint": self.fingerprint,
            "rows": rows,
            "partitions": per_file,
            "schema": df.schema.json(),
            "stats": stats,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "complete": True,
        }
        self.manifest_path.write_text(json.dumps(manifest, indent=2))
        return manifest

    def read(self, spark: SparkSession, manifest: dict) -> DataFrame:
        schema = StructType.fromJson(json.loads(manifest["schema"]))
        return spark.read.schema(schema).parquet(str(self.data_path))


class CheckpointedRun:
    """Orchestrates a multi-stage run with resume.

    >>> run = CheckpointedRun(spark, "/tmp/ckpt", config_fingerprint)
    >>> chunks = run.stage("chunks", lambda: chunk_documents(docs, cfg))
    """

    def __init__(self, spark: SparkSession, root: str | Path, fingerprint: str):
        self.spark = spark
        self.root = Path(root)
        self.fingerprint = fingerprint
        self.events: list[dict] = []

    def stage(self, name: str, build, stats: dict | None = None) -> DataFrame:
        """The stage's output, read back from its checkpoint: resumed if
        complete, else ``build()`` and written. ``stats`` is a dict that
        ``build`` fills; it is stored in the manifest and refilled from it
        on resume."""
        ckpt = StageCheckpoint(self.root, name, self.fingerprint)
        manifest = ckpt.is_complete()
        if manifest:
            action = "resumed"
            if stats is not None:
                stats.update(manifest["stats"])
        else:
            action = "computed"
            # the build's persisted intermediates are released once the
            # stage is written
            with scope():
                manifest = ckpt.write(build(), stats)
        self.events.append({"stage": name, "action": action, "rows": manifest["rows"]})
        return ckpt.read(self.spark, manifest)
