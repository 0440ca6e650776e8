"""The benchmark's workloads, driven from one process as a closed loop.

Each workload is a class with ``setup`` (session start, kernel load,
input scan/persist), ``rep`` (one untraced, output-checked run) and
``traced_rep`` (the same work driven layer by layer under spans). Spark
is imported lazily: importing this module starts nothing.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

from checks import pair_recall

# One driver query per operator family the pipeline never calls:
# textstats, dedup, substring, simhash, knn. (ngram_jaccard_capped is
# left out: its time follows the seed's n-gram overlap, ±20% between
# seeds, more than the bound allows.)
QUERIES = (
    "token_stats", "exact_dedup_flags", "substring_pairs", "simhash",
    "embedding_near_dups_banded",
)

# Spark layers whose spans report jobs, stages and core busy share.
SPARK_LAYERS = ("minhash", "lsh", "verify", "components", "pipeline")


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_columns():
    """Spark twin of checks.cluster_digest, exact in decimal(38,0)."""
    import pyspark.sql.functions as F

    dec = "decimal(38,0)"
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("cluster_id").cast(dec)).alias("s1"),
        F.sum(F.col("doc_id").cast(dec) * F.col("cluster_id").cast(dec)).alias("s2"),
    ]


def observed_digest(obs) -> list[int]:
    got = obs.get
    return [int(got["rows"]), int(got["s1"] or 0), int(got["s2"] or 0)]


def persisted_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


class Workload:
    """Shared session handling; subclasses define the work."""

    name = ""
    docs_file = ""  # the input table whose ``text`` the kernel metrics use

    def __init__(self, data_dir: str, expected: dict, work_dir: str):
        self.data_dir = data_dir
        self.expected = expected
        self.work_dir = work_dir
        self.spark = None
        self.baseline_rdds: set[int] = set()

    # -- set-up -----------------------------------------------------------
    def start_session(self):
        from fastcdc_rs_spark.session import spark_session

        spark = spark_session(app=f"perfbench-{self.name}", cores=4, extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # no hsperfdata files in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')} -XX:-UsePerfData",
        })
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        """Start the session, load the kernel, scan/persist the input."""
        from fastcdc_rs_spark.kernel import native

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.start_session()
        self.session_s = time.perf_counter() - t0
        if not native.available():
            raise RuntimeError("native kernel unavailable: numpy-fallback "
                               "figures are not comparable with native ones")
        self.load_inputs()
        self.baseline_rdds = persisted_rdds(self.spark)

    def load_inputs(self) -> None:
        raise NotImplementedError

    def texts(self) -> list[str]:
        import pyarrow.parquet as pq

        return pq.read_table(os.path.join(self.data_dir, self.docs_file),
                             columns=["text"]).column("text").to_pylist()

    def assert_isolated(self) -> None:
        """Nothing the previous run persisted may survive into the next:
        Spark's cache manager would serve an identical plan from it."""
        left = persisted_rdds(self.spark) - self.baseline_rdds
        if left:
            raise RuntimeError(f"persisted RDDs survived a run: {sorted(left)}")

    def release(self) -> None:
        from fastcdc_rs_spark.cache import release_all

        release_all()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # -- run context --------------------------------------------------------
    def context(self) -> dict:
        from fastcdc_rs_spark.kernel import native

        conf = self.spark._jsparkSession.sessionState().conf()
        return {
            "ctx.native": 1.0 if native.available() else 0.0,
            "ctx.shuffle_partitions": float(conf.numShufflePartitions()),
            "ctx.arrow_batch": float(conf.arrowMaxRecordsPerBatch()),
            "ctx.broadcast_mb": conf.autoBroadcastJoinThreshold() / 2**20,
            "ctx.aqe": 1.0 if conf.adaptiveExecutionEnabled() else 0.0,
        }

    def calibrate(self, rows: int = 200_000_000, reps: int = 3) -> float:
        """Frozen job with no project code (range -> xxhash64 -> max):
        it moves only with the host, so it dates every run's figures."""
        import pyspark.sql.functions as F

        def one() -> float:
            t0 = time.perf_counter()
            self.spark.range(0, rows, 1, 8).select(F.max(F.xxhash64("id"))).collect()
            return time.perf_counter() - t0

        one()
        return float(np.median([one() for _ in range(reps)]))

    def task_seconds(self, stage_ids) -> float:
        """Executor run time of the given stages, from the status store."""
        sc = self.spark.sparkContext
        store, gw = sc._jsc.sc().statusStore(), sc._gateway
        total_ms = 0
        for s in stage_ids:
            data = store.stageData(int(s), False, gw.jvm.java.util.ArrayList(),
                                   False, gw.new_array(gw.jvm.double, 0))
            total_ms += sum(data.apply(i).executorRunTime() for i in range(data.size()))
        return total_ms / 1000.0

    def kernel_metrics(self, texts: list[str]) -> dict:
        """The chunk and signature kernels alone, without Spark, on the
        workload's own text (median of three passes)."""
        from fastcdc_rs_spark.kernel.native import chunk_batch_columnar_native
        from fastcdc_rs_spark.kernel.signatures import signature_batch
        from fastcdc_rs_spark.pipeline import DedupConfig

        cfg = DedupConfig()
        bufs = [np.frombuffer(t.encode("utf-8"), dtype=np.uint8) for t in texts]
        n_bytes = sum(len(b) for b in bufs)
        chunk_t, sig_t = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            counts, hashes, _, _ = chunk_batch_columnar_native(bufs, cfg.chunker())
            chunk_t.append(time.perf_counter() - t0)
            lists = np.split(hashes, np.cumsum(counts)[:-1])
            t0 = time.perf_counter()
            signature_batch(lists, k=cfg.shingle_k, n_perms=cfg.n_perms,
                            bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed)
            sig_t.append(time.perf_counter() - t0)
        return {
            "kernel.chunk_mb_per_s": n_bytes / 2**20 / float(np.median(chunk_t)),
            "kernel.chunks_per_doc": float(counts.sum()) / len(bufs),
            "kernel.signature_docs_per_s": len(bufs) / float(np.median(sig_t)),
        }

    def arrow_batches(self, df) -> float:
        """Arrow batches the signature UDF sees over ``df``: each
        partition is cut into batches of maxRecordsPerBatch rows."""
        import pyspark.sql.functions as F

        batch = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        rows = df.groupBy(F.spark_partition_id()).count().collect()
        return float(sum(-(-r["count"] // batch) for r in rows))

    def layer_metrics(self, tracer, names=SPARK_LAYERS) -> dict:
        """Jobs, stages, busy seconds and core busy share per layer, from
        the layer's spans (summed when a layer has several)."""
        out = {}
        cores = int(self.spark.sparkContext.defaultParallelism)
        for layer in names:
            spans = tracer.find(layer)
            jobs = [j for s in spans for j in tracer.total_jobs(s)]
            stages = sorted({x for s in spans for x in tracer.total_stages(s)})
            busy = sum(s["end"] - s["start"] for s in spans)
            out[f"{layer}.jobs"] = float(len(jobs))
            out[f"{layer}.stages"] = float(len(stages))
            out[f"{layer}.busy_s"] = busy
            task_s = self.task_seconds(stages) if stages else 0.0
            out[f"{layer}.core_busy_share"] = task_s / (busy * cores) if busy else 0.0
        return out


class Pipeline(Workload):
    """``near_dup_clusters`` over corpus pages, plus a noop write of the
    clusters; checked against tests/oracle.py."""

    name = "pipeline"
    docs_file = "docs.parquet"

    def load_inputs(self) -> None:
        docs = self.spark.read.parquet(os.path.join(self.data_dir, self.docs_file))
        self.docs = docs.repartition(2 * 4).persist()
        self.n_docs = self.docs.count()
        want = np.load(os.path.join(self.data_dir, "verified.npy"))
        self.want_pairs = {(int(a), int(b)) for a, b in want}

    def check(self, cand: int, got_pairs: set, digest: list[int]) -> tuple[bool, float]:
        exp = self.expected
        recall = pair_recall(got_pairs, self.want_pairs)
        ok = (cand == exp["candidate_pairs"] and got_pairs == self.want_pairs
              and digest == exp["cluster_digest"])
        return ok, recall

    def rep(self) -> tuple[float, bool, float]:
        from pyspark.sql import Observation

        from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

        self.assert_isolated()
        t0 = time.perf_counter()
        clusters, verified, metrics = near_dup_clusters(
            self.docs, DedupConfig(), collect_metrics=True)
        obs = Observation("digest")
        noop_write(clusters.observe(obs, *digest_columns()))
        wall = time.perf_counter() - t0
        cand = int(metrics.first()["candidate_pairs"])
        got = {(int(a), int(b)) for a, b in
               verified.select("a", "b").toPandas().itertuples(index=False)}
        verified.unpersist()
        self.release()
        ok, recall = self.check(cand, got, observed_digest(obs))
        return self.n_docs / wall, ok, recall

    def traced_rep(self, tracer) -> tuple[float, bool, float, dict]:
        """``near_dup_clusters``'s fused path, stage by stage, each stage's
        output materialized inside its span."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        from fastcdc_rs_spark.cache import release_caches
        from fastcdc_rs_spark.operators.components import connected_components
        from fastcdc_rs_spark.operators.lsh import candidate_pairs
        from fastcdc_rs_spark.operators.minhash import chunk_minhash_signatures
        from fastcdc_rs_spark.operators.verify import verify_pairs
        from fastcdc_rs_spark.pipeline import DedupConfig

        cfg = DedupConfig()
        self.assert_isolated()
        t0 = time.perf_counter()
        with tracer.span("pipeline"):
            with tracer.span("minhash"):
                signed = chunk_minhash_signatures(
                    self.docs, cfg.chunker(), k=cfg.shingle_k, n_perms=cfg.n_perms,
                    bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
                ).drop("n_units").persist()
                signed.count()
            with tracer.span("lsh"):
                bands_df = signed.select(
                    "doc_id", F.posexplode("bands").alias("band_id", "band_hash"))
                pairs, bucket_stats = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap)
                pairs = pairs.persist()
                n_cand = pairs.count()
                buckets = bucket_stats.first().asDict()
            with tracer.span("verify"):
                raw = verify_pairs(
                    pairs, signed.select("doc_id", "shingles"), threshold=cfg.threshold,
                    hub_degree_cap=cfg.verify_hub_cap,
                    hub_pair_bcast_max=cfg.verify_hub_pair_bcast_max,
                    hub_bids_bcast_max=cfg.verify_hub_bids_bcast_max,
                )
                verified = raw.persist()
                n_ver = verified.count()
            with tracer.span("components"):
                clusters = connected_components(
                    verified, vertices=self.docs.select("doc_id"))
                obs = Observation("digest")
                noop_write(clusters.observe(obs, *digest_columns()))
        wall = time.perf_counter() - t0

        hub_pairs = sum(
            c.where(F.col("_deg") > cfg.verify_hub_cap).count()
            for c in getattr(raw, "_graft_caches", []) if "_deg" in c.columns)
        got = {(int(a), int(b)) for a, b in
               verified.select("a", "b").toPandas().itertuples(index=False)}
        release_caches(pairs, signed, raw)
        verified.unpersist()
        self.release()
        ok, recall = self.check(n_cand, got, observed_digest(obs))

        mh = tracer.find("minhash")[-1]
        cc = getattr(clusters, "_graft_cc_stats", {})
        out = {
            "minhash.docs_per_s": self.n_docs / (mh["end"] - mh["start"]),
            "minhash.arrow_batches": self.arrow_batches(self.docs),
            "lsh.band_rows": float(self.n_docs * cfg.bands),
            "lsh.candidate_pairs": float(n_cand),
            "lsh.max_bucket": float(buckets["max_bucket"]),
            "lsh.capped_buckets": float(buckets["capped_buckets"]),
            "verify.hub_pairs": float(hub_pairs),
            "verify.pass_ratio": n_ver / n_cand if n_cand else 0.0,
            "components.edges": float(n_ver),
            "components.rounds": float(cc.get("cc_rounds", 0)),
            "pipeline.self_s": tracer.self_time(tracer.find("pipeline")[-1]),
        }
        return self.n_docs / wall, ok, recall, out

    def traced_job(self, tracer) -> tuple[bool, dict]:
        """The checkpoint layer, on the same pages: ``run_dedup_job``'s
        stages in its order, each layer materialized in its own span
        before ``CheckpointedRun.stage`` writes it, so the checkpoint spans
        time the parquet write, per-file manifest and reopen alone. Then a
        simulated kill (the ``verified`` and ``clusters`` manifests are
        deleted) and a traced resume."""
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        from fastcdc_rs_spark.cache import release_caches
        from fastcdc_rs_spark.operators.components import connected_components
        from fastcdc_rs_spark.operators.lsh import candidate_pairs
        from fastcdc_rs_spark.operators.minhash import minhash_signatures
        from fastcdc_rs_spark.operators.verify import verify_pairs
        from fastcdc_rs_spark.pipeline import DedupConfig, unit_hashes
        from fastcdc_rs_spark.sources.checkpoint import CheckpointedRun, StageCheckpoint

        cfg = DedupConfig()
        inp = os.path.join(self.data_dir, self.docs_file)
        stages = os.path.join(self.work_dir, "job-out", "stages")
        fingerprint = "perfbench"

        def verify_and_cluster(run, docs, signed, pairs):
            with tracer.span("verify"):
                v = verify_pairs(pairs, signed.select("doc_id", "shingles"),
                                 threshold=cfg.threshold,
                                 hub_degree_cap=cfg.verify_hub_cap).persist()
                v.count()
            with tracer.span("checkpoint.write"):
                verified = run.stage("verified", lambda: v)
            release_caches(v)
            with tracer.span("components"):
                c = connected_components(verified, vertices=docs.select("doc_id")).persist()
                c.count()
            with tracer.span("checkpoint.write"):
                run.stage("clusters", lambda: c)
            c.unpersist()

        self.assert_isolated()
        shutil.rmtree(stages, ignore_errors=True)
        with tracer.span("job"):
            docs = self.spark.read.parquet(inp)
            run = CheckpointedRun(self.spark, stages, fingerprint)
            with tracer.span("minhash"):
                s = minhash_signatures(
                    unit_hashes(docs, cfg), k=cfg.shingle_k, n_perms=cfg.n_perms,
                    bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
                ).persist()
                s.count()
            with tracer.span("checkpoint.write"):
                signed = run.stage("signatures", lambda: s)
            s.unpersist()
            with tracer.span("lsh"):
                bands_df = signed.select(
                    "doc_id", F.posexplode("bands").alias("band_id", "band_hash"))
                p, _ = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap)
                p = p.persist()
                p.count()
            with tracer.span("checkpoint.write"):
                pairs = run.stage("pairs", lambda: p)
            release_caches(p)
            verify_and_cluster(run, docs, signed, pairs)
        self.release()

        t0 = time.perf_counter()
        for st in ("signatures", "pairs", "verified", "clusters"):
            StageCheckpoint(run.root, st, fingerprint).is_complete()
        manifest_s = time.perf_counter() - t0
        written = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(stages) for f in fs)
        for st in ("verified", "clusters"):
            os.remove(os.path.join(stages, st, "_MANIFEST.json"))

        self.assert_isolated()
        with tracer.span("job.resume") as resume:
            run = CheckpointedRun(self.spark, stages, fingerprint)
            with tracer.span("checkpoint.read"):
                signed = run.stage("signatures", None)
                pairs = run.stage("pairs", None)
            verify_and_cluster(run, self.spark.read.parquet(inp), signed, pairs)
        self.release()

        with open(os.path.join(stages, "pairs", "_MANIFEST.json")) as f:
            cand = int(json.load(f)["rows"])
        got = {(int(a), int(b)) for a, b in
               self.spark.read.parquet(os.path.join(stages, "verified", "data"))
               .select("a", "b").toPandas().itertuples(index=False)}
        obs = Observation("digest")
        noop_write(self.spark.read.parquet(os.path.join(stages, "clusters", "data"))
                   .observe(obs, *digest_columns()))
        ok, _ = self.check(cand, got, observed_digest(obs))

        def span_s(name):
            return sum(s["end"] - s["start"] for s in tracer.find(name))

        return ok, {
            "checkpoint.write_s": span_s("checkpoint.write"),
            "checkpoint.bytes_written": float(written),
            "checkpoint.manifest_s": manifest_s,
            "checkpoint.read_s": span_s("checkpoint.read"),
            "job.resume_s": resume["end"] - resume["start"],
        }



class Queries(Workload):
    """Driver queries plus banded embedding near-dups, back to back, each
    a noop write whose row count is checked."""

    name = "queries"
    docs_file = "documents.parquet"

    def load_inputs(self) -> None:
        import __spark_entry__ as entry

        self.qs = entry.queries()
        docs = self.spark.read.parquet(os.path.join(self.data_dir, self.docs_file))
        emb = self.spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
        self.n_docs = docs.count()
        emb.count()
        self.dim = len(emb.select("embedding").first()[0])

    def query(self, name: str):
        if name == "embedding_near_dups_banded":
            from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded

            emb = self.spark.read.parquet(os.path.join(self.data_dir, "embeddings.parquet"))
            return cosine_near_duplicates_banded(
                emb, threshold=0.8, dim=self.dim, bands=8, rows_per_band=10,
                bucket_cap=64)
        return self.qs[name](self.spark, self.data_dir)

    def run_one(self, name: str) -> tuple[float, bool]:
        import pyspark.sql.functions as F
        from pyspark.sql import Observation

        self.assert_isolated()
        obs = Observation(f"rows_{name}")
        t0 = time.perf_counter()
        noop_write(self.query(name).observe(obs, F.count(F.lit(1)).alias("n")))
        dt = time.perf_counter() - t0
        self.release()
        return dt, int(obs.get["n"]) == self.expected["rows"][name]

    def rep(self) -> tuple[dict, bool, float]:
        times, good = {}, 0
        for name in QUERIES:
            times[name], ok = self.run_one(name)
            good += ok
        return times, good == len(QUERIES), good / len(QUERIES)

    def traced_rep(self, tracer) -> tuple[dict, bool, float, dict]:
        times, good = {}, 0
        with tracer.span("queries"):
            for name in QUERIES:
                with tracer.span(f"query.{name}"):
                    times[name], ok = self.run_one(name)
                good += ok
        out = {f"query.{n}_s": t for n, t in times.items()}
        out["query.jobs"] = float(len(tracer.total_jobs(tracer.find("queries")[-1])))
        return times, good == len(QUERIES), good / len(QUERIES), out
