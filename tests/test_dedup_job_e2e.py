"""Batch dedup job end-to-end: checkpointed run, idempotent resume
(every stage reused on re-run), catalog snapshot publishing."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo/jobs")


def test_dedup_job_runs_and_resumes(spark, tmp_path):
    from dedup_job import run_dedup_job

    from fastcdc_rs_spark.pipeline import DedupConfig
    from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog

    out = str(tmp_path / "out")
    cfg = DedupConfig()
    s1 = run_dedup_job(
        spark, "/root/testdata/sf0.001/documents.parquet", out, cfg
    )
    assert s1["docs"] == 500
    assert all(e["action"] == "computed" for e in s1["stages"])
    assert s1["clusters_snapshots"] == 1

    # re-run: every stage resumes from its checkpoint, results identical,
    # and the catalog gains a snapshot (append-only history)
    s2 = run_dedup_job(
        spark, "/root/testdata/sf0.001/documents.parquet", out, cfg
    )
    assert all(e["action"] == "resumed" for e in s2["stages"]), s2["stages"]
    assert s2["verified_pairs"] == s1["verified_pairs"]
    assert s2["docs_in_nontrivial_clusters"] == s1["docs_in_nontrivial_clusters"]
    assert s2["clusters_snapshots"] == 2

    cat = ParquetSnapshotCatalog(spark, f"{out}/lake")
    c1 = {(r.doc_id, r.cluster_id) for r in cat.read("clusters", 1).collect()}
    c2 = {(r.doc_id, r.cluster_id) for r in cat.read("clusters", 2).collect()}
    assert c1 == c2 and len(c1) == 500

    # a config change invalidates the fingerprint: stages recompute
    s3 = run_dedup_job(
        spark, "/root/testdata/sf0.001/documents.parquet", out,
        DedupConfig(threshold=0.7),
    )
    assert all(e["action"] == "computed" for e in s3["stages"])


def _small_docs(spark, tmp_path) -> str:
    path = str(tmp_path / "docs")
    spark.createDataFrame([(1, "same words here"), (2, "same words here"), (3, "other")],
                          "doc_id long, text string").write.parquet(path)
    return path


def test_dedup_job_passes_verify_ladder_config(spark, tmp_path, monkeypatch):
    # the job runs the pipeline's stage sequence, whose verify stage must
    # hand every ladder field to verify_pairs
    import dedup_job

    from fastcdc_rs_spark import pipeline
    from fastcdc_rs_spark.pipeline import DedupConfig

    class Reached(Exception):
        pass

    seen = {}

    def verify_pairs(*args, **kwargs):
        seen.update(kwargs)
        raise Reached

    monkeypatch.setattr(pipeline, "verify_pairs", verify_pairs)
    cfg = DedupConfig(verify_hub_cap=5, verify_hub_pair_bcast_max=7,
                      verify_hub_bids_bcast_max=11)
    with pytest.raises(Reached):
        dedup_job.run_dedup_job(spark, _small_docs(spark, tmp_path), str(tmp_path / "out"), cfg)
    assert (seen["hub_degree_cap"], seen["hub_pair_bcast_max"],
            seen["hub_bids_bcast_max"]) == (5, 7, 11)


class Killed(Exception):
    pass


def _kill(*args, **kwargs):
    raise Killed


def _patch_everywhere(monkeypatch, fn, replacement):
    """Replace ``fn`` under its name in every project module holding it,
    so the replacement is reached whichever module calls it."""
    for name, mod in list(sys.modules.items()):
        if ((name.startswith("fastcdc_rs_spark") or name == "dedup_job")
                and getattr(mod, fn.__name__, None) is fn):
            monkeypatch.setattr(mod, fn.__name__, replacement)


def _corpus_docs(spark, tmp_path, n_docs=36) -> str:
    from fastcdc_rs_spark.corpus import corpus_pandas

    pdf = corpus_pandas(n_docs=n_docs, seed=3).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    path = str(tmp_path / "corpus")
    spark.createDataFrame(pdf[["doc_id", "text"]]).write.parquet(path)
    return path


def test_resumed_job_builds_no_candidates(spark, tmp_path, monkeypatch):
    # a fully resumed run reads the pairs stage and its bucket row back
    # from the checkpoint: it never refills the band window
    from dedup_job import run_dedup_job

    from fastcdc_rs_spark.operators.lsh import candidate_pairs
    from fastcdc_rs_spark.pipeline import DedupConfig

    inp, out = _corpus_docs(spark, tmp_path), str(tmp_path / "out")
    s1 = run_dedup_job(spark, inp, out, DedupConfig())
    _patch_everywhere(monkeypatch, candidate_pairs, _kill)
    s2 = run_dedup_job(spark, inp, out, DedupConfig())
    assert all(e["action"] == "resumed" for e in s2["stages"]), s2["stages"]
    assert s2["bucket_metrics"] == s1["bucket_metrics"]
    assert s1["bucket_metrics"]["buckets"] > 0


def test_dedup_job_resumes_after_a_kill_in_each_stage(spark, tmp_path, monkeypatch):
    # kill a run inside pairs, then verified, then clusters, then finish:
    # each run resumes exactly the stages before the one it computes, and
    # the finished clusters and summary equal a clean run's
    import dedup_job

    from fastcdc_rs_spark.operators.components import connected_components
    from fastcdc_rs_spark.operators.lsh import candidate_pairs
    from fastcdc_rs_spark.operators.verify import verify_pairs
    from fastcdc_rs_spark.pipeline import DedupConfig
    from fastcdc_rs_spark.sources.checkpoint import CheckpointedRun
    from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog

    runs = []

    class Run(CheckpointedRun):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            runs.append(self)

    monkeypatch.setattr(dedup_job, "CheckpointedRun", Run)
    inp, out = _corpus_docs(spark, tmp_path), str(tmp_path / "out")
    for done, op in enumerate([candidate_pairs, verify_pairs, connected_components]):
        with monkeypatch.context() as m:
            _patch_everywhere(m, op, _kill)
            with pytest.raises(Killed):
                dedup_job.run_dedup_job(spark, inp, out, DedupConfig())
        # the stage before the killed one was computed, all earlier resumed
        assert [e["action"] for e in runs[-1].events] == ["resumed"] * done + ["computed"]
    final = dedup_job.run_dedup_job(spark, inp, out, DedupConfig())
    assert [e["action"] for e in final["stages"]] == ["resumed"] * 3 + ["computed"]

    clean = dedup_job.run_dedup_job(spark, inp, str(tmp_path / "clean"), DedupConfig())
    keys = ("docs", "verified_pairs", "docs_in_nontrivial_clusters", "bucket_metrics")
    assert {k: final[k] for k in keys} == {k: clean[k] for k in keys}
    assert clean["docs_in_nontrivial_clusters"] > 0

    def clusters(root):
        cat = ParquetSnapshotCatalog(spark, f"{root}/lake")
        return {(r.doc_id, r.cluster_id) for r in cat.read("clusters", 1).collect()}

    assert clusters(out) == clusters(tmp_path / "clean")


def test_job_and_stream_sign_with_one_fused_udf(spark, tmp_path, monkeypatch):
    # the job's signatures stage and the streaming band keys sign with
    # near_dup_clusters' plan: one ArrowEvalPython calling the fused
    # chunk→signature UDF, never the chunk-hash UDF feeding a signature UDF
    import re

    from dedup_job import run_dedup_job

    from fastcdc_rs_spark.pipeline import DedupConfig
    from fastcdc_rs_spark.plans import executed_plan
    from fastcdc_rs_spark.sources.checkpoint import StageCheckpoint
    from fastcdc_rs_spark.streaming.dedup_stream import stream_band_keys

    plans = {}

    def write(self, df, *args, **kwargs):
        plans["job"] = executed_plan(df)
        raise Killed

    src = _small_docs(spark, tmp_path)
    with monkeypatch.context() as m:
        m.setattr(StageCheckpoint, "write", write)
        with pytest.raises(Killed):
            run_dedup_job(spark, src, str(tmp_path / "out"), DedupConfig())

    q = (
        stream_band_keys(spark.readStream.schema("doc_id long, text string").parquet(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plans["stream"] = q._jsq.streamingQuery().lastExecution().executedPlan().toString()

    for name, plan in plans.items():
        assert plan.count("ArrowEvalPython") == 1, (name, plan)
        assert "_chunk_sig(" in plan, (name, plan)
        assert "_hashes(" not in plan and not re.search(r"\b_sig\(", plan), (name, plan)


def test_incremental_from_catalog_snapshot_diff(spark, tmp_path):
    import numpy as np

    from incremental_dedup_job import run_incremental_from_catalog

    from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog

    rng = np.random.default_rng(31)

    def _text(seed):
        r = np.random.default_rng(seed)
        return " ".join(
            "".join(chr(97 + c) for c in r.integers(0, 26, 8)) for _ in range(120)
        )

    T, U = _text(1), _text(2)
    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    work = str(tmp_path / "work")
    era1 = spark.createDataFrame(
        [(1, T, 0), (2, T, 0), (3, U, 1)], "doc_id long, text string, shard int"
    )
    cat.write(era1, "docs", partition_by="shard")

    s1 = run_incremental_from_catalog(spark, cat, "docs", work)
    assert s1 == {"processed_snapshots": 1, "docs": 3, "snapshot_id": 1}
    pairs1 = {
        (r.a, r.b)
        for r in spark.read.parquet(f"{work}/pairs").select("a", "b").collect()
    }
    assert pairs1 == {(1, 2)}  # within-era duplicate

    # no new snapshot -> no-op
    assert run_incremental_from_catalog(spark, cat, "docs", work)[
        "processed_snapshots"
    ] == 0

    # era 2: shard 1 rewritten with a new near-dup of T -> only the
    # changed partition is processed; cross-era pairs hit the index
    era2 = spark.createDataFrame(
        [(4, T, 1)], "doc_id long, text string, shard int"
    )
    cat.overwrite_partitions(era2, "docs", "shard")
    s2 = run_incremental_from_catalog(spark, cat, "docs", work)
    assert s2 == {"processed_snapshots": 1, "docs": 1, "snapshot_id": 2}
    pairs2 = {
        (r.a, r.b)
        for r in spark.read.parquet(f"{work}/pairs").select("a", "b").collect()
    }
    assert pairs2 == {(1, 2), (1, 4), (2, 4)}


def test_incremental_catalog_pending_state_pins_crashed_range(spark, tmp_path):
    # a crash after the write-ahead intent must finish the PINNED range on
    # retry, even when newer snapshots were committed meanwhile
    import json

    from incremental_dedup_job import run_incremental_from_catalog

    from fastcdc_rs_spark.sources.table import ParquetSnapshotCatalog

    def _text(seed):
        import numpy as np

        r = np.random.default_rng(seed)
        return " ".join(
            "".join(chr(97 + c) for c in r.integers(0, 26, 8)) for _ in range(120)
        )

    cat = ParquetSnapshotCatalog(spark, tmp_path / "lake")
    work = tmp_path / "work"
    era1 = spark.createDataFrame(
        [(1, _text(1), 0)], "doc_id long, text string, shard int"
    )
    cat.write(era1, "docs", partition_by="shard")
    s1 = run_incremental_from_catalog(spark, cat, "docs", str(work))
    assert s1["snapshot_id"] == 1

    # snapshots 2 and 3 land; simulate a crash mid-way through processing 2
    cat.overwrite_partitions(
        spark.createDataFrame([(2, _text(2), 1)], "doc_id long, text string, shard int"),
        "docs", "shard",
    )
    cat.overwrite_partitions(
        spark.createDataFrame([(3, _text(3), 2)], "doc_id long, text string, shard int"),
        "docs", "shard",
    )
    state = work / "_snapshot_state.json"
    state.write_text(json.dumps({"snapshot_id": 1, "pending": 2}))

    s2 = run_incremental_from_catalog(spark, cat, "docs", str(work))
    assert s2 == {"processed_snapshots": 1, "docs": 1, "snapshot_id": 2}
    assert json.loads(state.read_text()) == {"snapshot_id": 2}
    # the next tick picks up snapshot 3's range separately
    s3 = run_incremental_from_catalog(spark, cat, "docs", str(work))
    assert s3 == {"processed_snapshots": 1, "docs": 1, "snapshot_id": 3}
