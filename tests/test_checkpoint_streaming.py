"""Checkpoint/resume (B13) and Structured Streaming dedup tests."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from fastcdc_rs_spark.kernel import ChunkerConfig
from fastcdc_rs_spark.operators.chunk import chunk_documents
from fastcdc_rs_spark.sources.checkpoint import CheckpointedRun

CFG = ChunkerConfig(64, 256, 1024)


def test_checkpoint_resume(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"doc number {i} " * 40) for i in range(20)], "doc_id long, text string"
    )
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return chunk_documents(docs, CFG)

    run1 = CheckpointedRun(spark, tmp_path / "ckpt", "cfg-v1")
    out1 = run1.stage("chunks", build)
    n1 = out1.count()
    assert calls["n"] == 1
    assert run1.events[-1]["action"] == "computed"

    # per-partition lineage recorded in the manifest
    import json

    manifest = json.loads((tmp_path / "ckpt" / "chunks" / "_MANIFEST.json").read_text())
    assert manifest["complete"] and manifest["rows"] == n1
    assert sum(manifest["partitions"].values()) == n1
    assert all(f.endswith(".parquet") for f in manifest["partitions"])

    # resume: same fingerprint → stage reused, build not called
    run2 = CheckpointedRun(spark, tmp_path / "ckpt", "cfg-v1")
    out2 = run2.stage("chunks", build)
    assert calls["n"] == 1
    assert run2.events[-1]["action"] == "resumed"
    assert out2.count() == n1

    # config change → recompute
    run3 = CheckpointedRun(spark, tmp_path / "ckpt", "cfg-v2")
    run3.stage("chunks", build)
    assert calls["n"] == 2
    assert run3.events[-1]["action"] == "computed"


def test_streaming_exact_dedup_state_across_restarts(spark, tmp_path):
    """Wave 2 duplicates of wave-1 texts are suppressed by checkpoint state
    even though the query restarted between waves."""
    import pyspark.sql.functions as F

    from fastcdc_rs_spark.streaming.dedup_stream import start_exact_dedup_stream

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    wave1 = spark.createDataFrame(
        [(0, "alpha text"), (1, "beta text"), (2, "alpha text")],
        "doc_id long, text string",
    )
    wave1.write.mode("append").parquet(src)
    schema = wave1.schema
    q = start_exact_dedup_stream(spark, src, sink, ckpt, schema)
    q.awaitTermination()

    out1 = spark.read.parquet(sink)
    assert out1.count() == 2  # one of the two alphas survives

    wave2 = spark.createDataFrame(
        [(3, "alpha text"), (4, "gamma text")], "doc_id long, text string"
    )
    wave2.write.mode("append").parquet(src)
    q = start_exact_dedup_stream(spark, src, sink, ckpt, schema)
    q.awaitTermination()

    out2 = spark.read.parquet(sink).orderBy("doc_id").collect()
    ids = [r.doc_id for r in out2]
    assert 4 in ids, "new unique text must pass"
    assert 3 not in ids, "cross-restart duplicate must be suppressed by state"
    assert len(out2) == 3


def test_streaming_exact_dedup_hostile_input_matches_batch(spark, tmp_path):
    """NULL, empty and whitespace-only texts, a ~600 KB page and 200 copies
    of one page split across two waves: the stream keeps exactly the
    hashes that batch ``dedup_flags`` marks as not duplicate."""
    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.functions.portable import md5_long
    from fastcdc_rs_spark.operators.dedup import dedup_flags
    from fastcdc_rs_spark.streaming.dedup_stream import start_exact_dedup_stream

    pages = list(dict.fromkeys(corpus_pandas(n_docs=60, seed=11).text))
    huge = (" ".join(pages) * 4)[:600_000]
    wave1 = [None, "", "   ", "\t\n", huge] + [pages[0]] * 120 + pages[1:40]
    wave2 = [None, "", " \n ", huge] + [pages[0]] * 80 + pages[30:]
    schema = "doc_id long, text string"
    src, sink, ckpt = (str(tmp_path / d) for d in ("src", "sink", "ckpt"))
    rows = list(enumerate(wave1 + wave2))
    waves = [spark.createDataFrame(w, schema)
             for w in (rows[:len(wave1)], rows[len(wave1):])]
    for wave in waves:
        wave.write.mode("append").parquet(src)
        start_exact_dedup_stream(spark, src, sink, ckpt, wave.schema
                                 ).awaitTermination()

    got = [r.text_hash for r in spark.read.parquet(sink).collect()]
    docs = waves[0].unionByName(waves[1])
    want = [r.text_hash for r in dedup_flags(docs)
            .join(docs.select("doc_id", md5_long("text").alias("text_hash")),
                  "doc_id")
            .where(~F.col("is_duplicate")).collect()]
    assert len(got) == len(set(got)) and len(want) == len(set(want))
    assert set(got) == set(want)
    assert None in set(got)  # NULL texts keep one row, as in batch


def test_streaming_band_keys_match_batch(spark, tmp_path):
    """Streaming band keys == batch band keys for the same docs."""
    from fastcdc_rs_spark.pipeline import DedupConfig, unit_hashes
    from fastcdc_rs_spark.operators.minhash import minhash_signatures
    from fastcdc_rs_spark.streaming.dedup_stream import stream_band_keys
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    src = str(tmp_path / "src2")
    docs.select("doc_id", "text").write.parquet(src)
    cfg = DedupConfig()

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    sink = str(tmp_path / "bands")
    q = (
        stream_band_keys(stream, cfg)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r.doc_id, r.band_id, r.band_hash)
        for r in spark.read.parquet(sink).collect()
    }
    signed = minhash_signatures(
        unit_hashes(docs.select("doc_id", "text"), cfg),
        k=cfg.shingle_k, n_perms=cfg.n_perms, bands=cfg.bands,
        rows=cfg.rows, seed=cfg.minhash_seed,
    )
    want = {
        (r.doc_id, r.band_id, r.band_hash)
        for r in signed.select(
            "doc_id", F.posexplode("bands").alias("band_id", "band_hash")
        ).collect()
    }
    assert got == want and len(got) == 50 * cfg.bands


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Within-horizon duplicates are suppressed; the operator runs as a
    real streaming query with watermark-evicted state."""
    import datetime as dt

    from fastcdc_rs_spark.streaming.dedup_stream import (
        stream_exact_dedup_within_watermark,
    )

    src = str(tmp_path / "wsrc")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, "alpha"),
        (1, t0 + dt.timedelta(minutes=5), "alpha"),   # dup within horizon
        (2, t0 + dt.timedelta(minutes=10), "beta"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, warc_ts timestamp, text string"
    ).write.parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, warc_ts timestamp, text string"
    ).parquet(src)
    sink = str(tmp_path / "wsink")
    q = (
        stream_exact_dedup_within_watermark(stream, horizon="1 hour")
        .select("doc_id", "text_hash")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "wckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = sorted(r.doc_id for r in spark.read.parquet(sink).collect())
    # one survivor per text within the horizon (which of the two "alpha"
    # docs survives is not defined within a micro-batch), plus "beta"
    assert len(out) == 2 and 2 in out and (0 in out) != (1 in out), (
        f"exactly one alpha + beta expected: {out}"
    )


def test_incremental_dedup_job_cross_era_pairs(spark, tmp_path):
    """Wave-2 near-dup of a wave-1 doc is found by joining new band keys
    against the accumulated index; re-running with no new files adds
    nothing (checkpoint + idempotent index)."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from incremental_dedup_job import run_incremental_candidates

    from fastcdc_rs_spark.corpus import corpus_pandas

    src = str(tmp_path / "isrc")
    work = str(tmp_path / "iwork")

    pdf = corpus_pandas(n_docs=10, seed=21, mean_words=120)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    texts = list(pdf["text"])
    w1 = spark.createDataFrame(
        list(zip(range(10), texts)), "doc_id long, text string"
    )
    w1.write.mode("append").parquet(src)
    run_incremental_candidates(spark, src, work)

    # wave 2: doc 100 is an exact near-dup of doc 3 (same text → same bands)
    w2 = spark.createDataFrame([(100, texts[3])], "doc_id long, text string")
    w2.write.mode("append").parquet(src)
    run_incremental_candidates(spark, src, work)

    pairs = {
        (r.a, r.b)
        for r in spark.read.parquet(f"{work}/pairs").dropDuplicates().collect()
    }
    assert (3, 100) in pairs, f"cross-era pair missing: {pairs}"

    # no-op rerun: nothing new appended
    n_before = spark.read.parquet(f"{work}/pairs").count()
    run_incremental_candidates(spark, src, work)
    assert spark.read.parquet(f"{work}/pairs").count() == n_before


def test_streaming_contamination_matches_batch(spark, tmp_path):
    # Streaming decontamination (round-5): stateless broadcast-gram map,
    # emitted append-mode across micro-batches, must equal the batch
    # operator row-for-row — including zero-hit docs, short docs (the
    # whole-sequence n-gram rule), and docs arriving in a later batch.
    from fastcdc_rs_spark.operators.dedup import contamination_flags
    from fastcdc_rs_spark.streaming.dedup_stream import (
        stream_contamination_flags,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"), (101, "epsilon zeta eta")],
        "doc_id long, text string",
    )
    batch1 = [
        (1, "alpha beta gamma delta rest of page text here"),  # hit
        (2, "totally clean document with no overlap at all"),  # clean
        (3, "eta"),  # short doc: whole sequence as one gram, no hit
    ]
    batch2 = [
        (4, "zz alpha beta gamma delta yy epsilon zeta eta xx"),  # 2 hits
        (5, "epsilon zeta eta"),  # short benchmark doc, exact match
    ]
    n = 4  # 4-gram rule at test scale
    schema = "doc_id long, text string"
    src = str(tmp_path / "cont_src")
    sink = str(tmp_path / "cont_sink")
    ckpt = str(tmp_path / "cont_ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream_contamination_flags(stream, bench, n=n)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    for i, b in enumerate((batch1, batch2)):
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        run_once()

    got = {
        (r.doc_id, r.n_hits, r.contaminated)
        for r in spark.read.parquet(sink).collect()
    }
    all_docs = spark.createDataFrame(batch1 + batch2, schema)
    want = {
        (r.doc_id, r.n_hits, r.contaminated)
        for r in contamination_flags(all_docs, bench, n=n).collect()
    }
    assert got == want, (got, want)
    assert (5, 1, True) in got and (2, 0, False) in got
