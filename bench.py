"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; the FINAL stdout line is one compact JSON
dict (the driver contract), full raw samples go to a sidecar file.

Timing uses a noop-format write so every output column is computed (a bare
count() would let Catalyst prune the expensive ones). A warmup action runs
first so JVM/Python-worker startup and the first-touch page-fault cost of
the numpy arenas (see session.py) are not billed to the first query.

``pipeline_synthetic`` is the flagship: the full near-dup pipeline over a
deterministic synthetic CC-style corpus (corpus.py) with realistic page
sizes — the driver tables' ~300-char docs exercise correctness, not scale.
"""

from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SYNTH_DOCS = int(os.environ.get("SPARK_GRAFT_SYNTH_DOCS", "100000"))


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# Frozen-code burst probe (round-5 verdict: the headline total drifted
# 29->39 s across driver windows while code-changed queries improved, and
# the "hot window" attribution lived in BENCH.md prose instead of the
# artifact). This is a pure-JVM job with NO project code — range ->
# xxhash64 -> max, whole-stage codegen, fixed 128 partitions — so its
# runtime moves ONLY with the host's burst state. It runs right after
# warmup and again after the last query; the artifact carries
# burst_index = measured / quiet-window best, so any window's numbers are
# deflatable from the artifact alone (1.0 = quiet, 2.0 = this window ran
# the frozen job 2x slower than a quiet host).
_PROBE_ROWS = 10_000_000_000
# min of repeated runs on an otherwise-idle host at local[32]
# (2026-08-17, five reps 1.30-1.76 s); only comparable at 32 cores
_PROBE_QUIET_BEST_S = 1.30


def _burst_probe(spark) -> float | None:
    if int(CPUS) != 32:
        return None  # the pinned constant is a 32-core number
    import pyspark.sql.functions as F

    def one() -> float:
        t0 = time.perf_counter()
        spark.range(0, _PROBE_ROWS, 1, 128).select(
            F.max(F.xxhash64("id"))
        ).collect()
        return time.perf_counter() - t0

    one()  # JIT warm rep, untimed
    return round(min(one() for _ in range(3)), 3)


# The round driver captures only the last ~2 KB of stdout and parses the
# final line as JSON. Round 4's line outgrew that window (scale2 samples)
# and the artifact landed as parsed:null — so the final line is now a
# COMPACT projection (headline timings for BOTH scale points + metric
# counts; per-rep samples and the bucket histogram live in the sidecar),
# with a hard length guard (tests/test_bench_counts.py pins it).
MAX_FINAL_LINE = 1900
DETAIL_OUT = os.environ.get(
    "SPARK_GRAFT_DETAIL_OUT", "/tmp/fastcdc_bench_detail.json"
)


def compact_payload(payload: dict) -> dict:
    """Strip per-rep samples and the bucket histogram; keep every
    headline number (both scale points, pipeline metric counts)."""
    out = {k: v for k, v in payload.items() if k != "samples"}
    pm = out.get("pipeline_metrics")
    if isinstance(pm, dict):
        out["pipeline_metrics"] = {
            k: v for k, v in pm.items() if k != "bucket_hist"
        }
    s2 = out.get("scale2")
    if isinstance(s2, dict):
        out["scale2"] = {k: v for k, v in s2.items() if k != "samples"}
    return out


def final_line(payload: dict) -> str:
    """The one line the driver parses; guaranteed < MAX_FINAL_LINE."""
    slim = compact_payload(payload)
    line = json.dumps(slim)
    # last-resort ladder (should never trigger at current query counts):
    # pipeline_metrics and scale2 survive in the sidecar either way
    for key in ("pipeline_metrics", "scale2", "queries"):
        if len(line) <= MAX_FINAL_LINE:
            break
        slim.pop(key, None)
        line = json.dumps(slim)
    return line


def _stage_scaled_tables(spark, factor: int):
    """Second scale point for the headline queries: the driver tables
    replicated ``factor``x with DETERMINISTIC per-replica perturbation.
    Every word gets a replica suffix (and embeddings a per-coordinate
    hash jitter), so replicas are NOT near-duplicates of each other —
    the seeded dup structure inside each replica is preserved and pair
    counts scale ~linearly with ``factor`` instead of quadratically.
    All JVM expressions; staged as parquet once per factor."""
    import pyspark.sql.functions as F

    # keyed by source dir too: the same factor over sf0.01 and sf0.1
    # must not share a staging cache
    src_key = os.path.basename(SF_DIR.rstrip("/"))
    path = f"/tmp/fastcdc_bench_sfx{factor}_{src_key}"
    if not (os.path.exists(f"{path}/documents.parquet/_SUCCESS")
            and os.path.exists(f"{path}/embeddings.parquet/_SUCCESS")):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_docs = docs.count()
        reps = spark.range(factor).select(F.col("id").alias("_rep"))
        (
            docs.crossJoin(reps)
            .select(
                (F.col("doc_id") + F.col("_rep") * n_docs).alias("doc_id"),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(w, F.lit("r"), F.col("_rep").cast("string")),
                    ),
                ).alias("text"),
                "lang", "source", "n_chars",
            )
            .repartition(16)
            .write.mode("overwrite").parquet(f"{path}/documents.parquet")
        )
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        n_emb = emb.count()
        (
            emb.crossJoin(reps)
            .select(
                (F.col("vec_id") + F.col("_rep") * n_emb).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x
                    + (
                        F.pmod(
                            F.xxhash64(F.col("vec_id"), F.col("_rep"), i),
                            F.lit(1000),
                        ).cast("float")
                        / 1000.0
                        - 0.5
                    )
                    * 0.3,
                ).alias("embedding"),
                "label",
            )
            .repartition(8)
            .write.mode("overwrite").parquet(f"{path}/embeddings.parquet")
        )
    n = spark.read.parquet(f"{path}/documents.parquet").count()
    return path, n


def _stage_corpus(spark, n_docs: int, cpus: int):
    """Materialize the synthetic corpus as parquet once (cached per size) so
    benched reads are parallel scans, not driver-side serialization."""
    from fastcdc_rs_spark.corpus import corpus_pandas

    path = f"/tmp/fastcdc_bench_corpus_{n_docs}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        pdf = corpus_pandas(n_docs=n_docs, seed=42, mean_words=400)
        pdf = pdf.reset_index(drop=True)
        pdf["doc_id"] = pdf.index.astype("int64")
        spark.createDataFrame(pdf[["doc_id", "text"]]).repartition(64).write.mode(
            "overwrite"
        ).parquet(path)
    sdocs = spark.read.parquet(path)
    n_bytes = int(sdocs.selectExpr("sum(octet_length(text)) b").first()["b"])
    # Partitions sized by DATA (~16 MB each), bounded by 2x cores — the
    # shape a cluster reader produces under maxPartitionBytes. Tiny
    # partitions (the old cores*2 regardless of volume) oversubscribe the
    # Arrow workers past the host's memory bandwidth: measured 2x
    # pipeline slowdown at local[32] with 4 MB partitions vs 15 MB.
    parts = max(8, min(cpus * 2, n_bytes // (16 << 20) + 1))
    sdocs = sdocs.repartition(parts).persist()
    n = sdocs.count()
    return sdocs, n, n_bytes


def main() -> None:
    from fastcdc_rs_spark.session import spark_session

    spark = spark_session(app="fastcdc-rs-spark-bench", cores=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    # -------- warmup (not timed): spin up workers, fault numpy arenas
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _noop_write(entrymod.q_chunks(spark, SF_DIR).limit(2000))

    if os.environ.get("SPARK_GRAFT_BENCH_ONLY") in ("pipeline", "sig"):
        # scaling-evidence mode (scripts/scaling.py): the baseline metric is
        # docs/sec chunk+signature throughput; the full pipeline is timed too.
        from fastcdc_rs_spark.pipeline import signatures

        sdocs, n, n_bytes = _stage_corpus(spark, SYNTH_DOCS, int(CPUS))
        cfg = DedupConfig()

        # Warm EVERY python worker with one full untimed pass: this VM
        # first-touches fresh pages at ~16-50 MB/s, so each of the N workers
        # pays a one-time ~150 MB numpy-arena fault cost. Steady-state
        # throughput (what a long-running cluster job sees) is the honest
        # number; the warmup cost is one-time per executor lifetime.
        sig = signatures(sdocs, cfg)
        _noop_write(sig)

        t0 = time.perf_counter()
        _noop_write(sig)
        dt_sig = time.perf_counter() - t0

        if os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "sig":
            dt_pipe = float("nan")
        else:
            t0 = time.perf_counter()
            clusters, _, _ = near_dup_clusters(sdocs, cfg)
            _noop_write(clusters)
            dt_pipe = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "metric": "chunk_signature_docs_per_sec",
                    "value": round(n / dt_sig, 1),
                    "unit": "docs/sec",
                    "queries": {
                        "chunk_signature": round(dt_sig, 3),
                        "pipeline_synthetic": round(dt_pipe, 3),
                        "pipeline_docs_per_sec": round(n / dt_pipe, 1) if dt_pipe == dt_pipe else None,
                        "docs": n,
                        "input_mb": round(n_bytes / 1048576, 1),
                        "cores": int(CPUS),
                    },
                    "sf": None,
                }
            )
        )
        spark.stop()
        return

    burst_start = _burst_probe(spark)

    qnames = [
        "chunks",
        "minhash_bands",
        "simhash",
        "token_stats",
        "bpe_token_stats",
        "quality_scores",
        "doc_fingerprint",
        "exact_dedup_flags",
        "ngram_jaccard",
        "ngram_jaccard_capped",
        "substring_pairs",
        "embedding_topk_ivf",
        "dedup_clusters",
        "dedup_clusters_sql",
    ]
    from fastcdc_rs_spark.cache import release_all

    # Variance protocol for this burstable-CPU host: every query runs
    # REPS times; the headline per-query number is the MIN (disclosed
    # best-of) and ALL raw samples ride in the JSON so driver-visible
    # numbers and quiet-window claims are reconcilable.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}

    def _timed(name, thunk):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            thunk()
            ts.append(round(time.perf_counter() - t0, 3))
            release_all()  # drain operator-registered caches between runs
        samples[name] = ts
        timings[name] = min(ts)

    qs = entrymod.queries()
    for name in qnames:
        _timed(name, lambda name=name: _noop_write(qs[name](spark, SF_DIR)))

    # embedding near-dups via the banded-RHP (scale) path
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    # 8 bands x 10 sign bits: ~2^10 keys/band so random (non-dup) vectors
    # rarely collide, while cosine>=0.8 pairs collide in >=1 band w.p.
    # ~0.97 — the config the SQL-expr key builder makes affordable
    _timed(
        "embedding_near_dups_banded",
        lambda: _noop_write(
            cosine_near_duplicates_banded(
                emb, threshold=0.8, dim=dim, bands=8, rows_per_band=10,
                bucket_cap=64,
            )
        ),
    )

    # flagship: synthetic CC-style corpus at realistic page sizes, with
    # the B14 pipeline metrics riding the run's own actions (Observation
    # nodes — no extra passes)
    sdocs, n, _ = _stage_corpus(spark, SYNTH_DOCS, int(CPUS))
    pmetrics_box = {}

    def _run_pipeline():
        clusters, verified, pmetrics = near_dup_clusters(
            sdocs, DedupConfig(), collect_metrics=True
        )
        _noop_write(clusters)
        pmetrics_box["m"] = pmetrics.first().asDict()
        # drop the verified-pairs cache between reps: Spark's cache
        # manager matches identical plans, so a later rep would read
        # this rep's cached edges and report a fake warm time
        verified.unpersist()

    _timed("pipeline_synthetic", _run_pipeline)
    timings["pipeline_synthetic_docs_per_sec"] = round(
        n / timings["pipeline_synthetic"], 1
    )

    # -------- second scale point (plan differences at sf0.1 drown in
    # per-stage setup; 10x tables + an 8x pipeline corpus make per-query
    # scaling visible — "no query worse than ~linear in rows")
    scale2 = None
    if os.environ.get("SPARK_GRAFT_SCALE2", "1") == "1":
        s2_factor = int(os.environ.get("SPARK_GRAFT_SCALE2_FACTOR", "10"))
        s2_dir, s2_docs = _stage_scaled_tables(spark, s2_factor)
        s2_timings: dict[str, float] = {}
        s2_samples: dict[str, list[float]] = {}

        def _timed2(name, thunk):
            ts = []
            for _ in range(reps):
                t0 = time.perf_counter()
                thunk()
                ts.append(round(time.perf_counter() - t0, 3))
                release_all()
            s2_samples[name] = ts
            s2_timings[name] = min(ts)

        # the uncapped ngram_jaccard and the decimal-SQL portability twin
        # are excluded by design: the former's boilerplate fan-out is
        # quadratic in data (not a plan property), the latter pays for
        # DuckDB portability, not scale
        s2_qnames = [
            q for q in qnames
            if q not in ("ngram_jaccard", "dedup_clusters_sql")
        ]
        for name in s2_qnames:
            _timed2(name, lambda name=name: _noop_write(qs[name](spark, s2_dir)))
        emb2 = spark.read.parquet(f"{s2_dir}/embeddings.parquet")
        _timed2(
            "embedding_near_dups_banded",
            lambda: _noop_write(
                cosine_near_duplicates_banded(
                    emb2, threshold=0.8, dim=dim, bands=8, rows_per_band=10,
                    bucket_cap=64,
                )
            ),
        )
        pipe_factor = int(os.environ.get("SPARK_GRAFT_SCALE2_PIPE", "8"))
        sdocs2, n2, _ = _stage_corpus(
            spark, SYNTH_DOCS * pipe_factor, int(CPUS)
        )
        def _run_pipeline2():
            clusters, verified, _ = near_dup_clusters(sdocs2, DedupConfig())
            _noop_write(clusters)
            verified.unpersist()  # see _run_pipeline
        _timed2("pipeline_synthetic", _run_pipeline2)
        s2_timings["pipeline_synthetic_docs_per_sec"] = round(
            n2 / s2_timings["pipeline_synthetic"], 1
        )
        sdocs2.unpersist()
        scale2 = {
            "factor": s2_factor,
            "docs": s2_docs,
            "pipeline_docs": n2,
            "queries": s2_timings,
            "samples": s2_samples,
        }

    burst_end = _burst_probe(spark)
    burst = None
    if burst_start is not None and burst_end is not None:
        burst = {
            "probe_s": [burst_start, burst_end],
            "index": [
                round(burst_start / _PROBE_QUIET_BEST_S, 2),
                round(burst_end / _PROBE_QUIET_BEST_S, 2),
            ],
        }
    # worst per-query rep spread (max/min across this run's own reps):
    # >1.5 means the window was unstable mid-query, independent of the
    # probe's start/end snapshots
    spread_name, spread = None, 1.0
    for name, ts in samples.items():
        if min(ts) > 0 and max(ts) / min(ts) > spread:
            spread_name, spread = name, max(ts) / min(ts)

    total = sum(v for k, v in timings.items() if not k.endswith("docs_per_sec"))
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "samples": samples,
        "reps": reps,
        "burst": burst,
        "rep_spread_max": [spread_name, round(spread, 2)],
        "pipeline_metrics": pmetrics_box.get("m"),
        "scale2": scale2,
        "sf": float(sf) if sf else None,
    }
    try:
        with open(DETAIL_OUT, "w") as f:
            json.dump(payload, f)
        print(f"full per-rep samples -> {DETAIL_OUT}", file=sys.stderr)
    except OSError:
        pass
    print(final_line(payload))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
