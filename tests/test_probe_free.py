"""The pipeline takes its physical choices from statistics it already
has, not from probe jobs: bucket stats ride the band-window fill, the
verify hub split runs only when the shingle table cannot broadcast, and
CC skips its count probe under a fitting edge bound."""

from __future__ import annotations

import itertools
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from fastcdc_rs_spark.cache import release_caches
from fastcdc_rs_spark.operators.components import connected_components
from fastcdc_rs_spark.operators.lsh import candidate_pairs
from fastcdc_rs_spark.operators.verify import verify_pairs

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn's result, names of the Spark jobs it ran, in id order)."""
    sc = spark.sparkContext
    group = f"probe-free-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
    return out, [store.job(j).name() for j in ids]


def _skewed_bands(spark):
    """Four bands over 300 docs: buckets of 50 and one of 200 (over the
    cap of 8), buckets of ~3, and a mostly-singleton random band."""
    rng = np.random.default_rng(11)
    ids = np.arange(300)
    hashes = [ids // 50, ids % 97, rng.integers(0, 400, 300),
              np.where(ids < 200, 0, ids)]
    pdf = pd.DataFrame({
        "doc_id": np.tile(ids, 4),
        "band_id": np.repeat(np.arange(4), 300).astype("int32"),
        "band_hash": np.concatenate(hashes).astype("int64"),
    })
    return spark.createDataFrame(pdf), pdf


def test_observed_bucket_stats_match_groupby(spark):
    cap = 8
    bands, pdf = _skewed_bands(spark)
    pairs, metrics = candidate_pairs(bands, bucket_cap=cap)
    got = metrics.first().asDict()

    n = F.col("n")
    sizes = (bands.groupBy("band_id", "band_hash").agg(F.count("*").alias("n"))
             .where(n > 1))
    want = sizes.agg(
        F.count("*").alias("buckets"),
        F.max(n).alias("max_bucket"),
        F.sum((n > cap).cast("long")).alias("capped_buckets"),
        F.sum(F.when(n > cap, n).otherwise(0)).alias("capped_docs"),
    ).first().asDict()
    want["bucket_hist"] = {
        r.k: r.c for r in sizes.groupBy(F.ceil(F.log2(n)).cast("int").alias("k"))
        .agg(F.count("*").alias("c")).collect()
    }
    assert want["capped_buckets"] > 0
    assert {k: got[k] for k in want} == want
    # the pre-Observation frame's column types, unchanged
    assert metrics.dtypes[:5] == [
        ("buckets", "bigint"), ("max_bucket", "bigint"),
        ("capped_buckets", "bigint"), ("capped_docs", "bigint"),
        ("bucket_hist", "map<int,bigint>"),
    ]

    # all pairs in buckets <= cap, star pairs on the min member above;
    # pair_bound: C(n,2) per small bucket, n-1 per capped star bucket
    want_pairs, bound = set(), 0
    for _, ids in pdf.groupby(["band_id", "band_hash"])["doc_id"]:
        ids = sorted(ids)
        if len(ids) <= cap:
            want_pairs |= set(itertools.combinations(ids, 2))
            bound += len(ids) * (len(ids) - 1) // 2
        else:
            want_pairs |= {(ids[0], b) for b in ids[1:]}
            bound += len(ids) - 1
    got_pairs = {(r.a, r.b) for r in pairs.collect()}
    assert got_pairs == want_pairs
    assert got["pair_bound"] == bound >= len(got_pairs)
    release_caches(pairs)


def test_bucket_stats_zero_without_collisions(spark):
    bands = spark.createDataFrame(pd.DataFrame({
        "doc_id": np.arange(20), "band_id": np.zeros(20, dtype="int32"),
        "band_hash": np.arange(20),
    }))
    pairs, metrics = candidate_pairs(bands, bucket_cap=4)
    got, names = _jobs(spark, lambda: metrics.first().asDict())
    assert names == []  # a local frame: reading it runs no job
    assert got == {"buckets": 0, "max_bucket": 0, "capped_buckets": 0,
                   "capped_docs": 0, "bucket_hist": {}, "pair_bound": 0}
    assert pairs.count() == 0
    release_caches(pairs)


def _star_fixture(spark):
    rng = np.random.default_rng(5)
    base = list(range(1000, 1040))
    sets = {0: base}
    rows = []
    for i in range(1, 30):  # 29 star pairs on hub a=0
        drop = rng.choice(40, size=4, replace=False)
        sets[i] = [v for j, v in enumerate(base) if j not in drop]
        rows.append((0, i))
    rows += [(1, 2), (3, 4)]
    # from pandas: a LocalRelation, whose plan size the planner knows
    shingled = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(sets), "shingles": list(sets.values())}))
    pairs = spark.createDataFrame(rows, "a long, b long")
    return pairs, shingled


def test_verify_skips_hub_split_when_shingles_broadcast(spark):
    pairs, shingled = _star_fixture(spark)
    out = verify_pairs(pairs, shingled, threshold=0.6, hub_degree_cap=4)
    assert out._graft_caches == []  # no persisted _deg table
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and "_deg" not in plan
    assert "BroadcastHashJoin" in plan
    plain = verify_pairs(pairs, shingled, threshold=0.6, hub_degree_cap=None)
    got = {(r.a, r.b): round(r.jaccard, 9) for r in out.collect()}
    assert got == {(r.a, r.b): round(r.jaccard, 9) for r in plain.collect()}
    assert len(got) > 20


def test_cc_edge_bound_skips_count_probe(spark):
    rows = [(i, i + 1) for i in range(10)] + [(20, 21), (20, 22)]
    edges = spark.createDataFrame(rows, "a long, b long")
    verts = spark.range(0, 30).selectExpr("id as doc_id")
    want = {(r.doc_id, r.cluster_id) for r in
            connected_components(edges, vertices=verts,
                                 driver_max_edges=0).collect()}

    def run(bound):
        def go():
            cc = connected_components(edges, vertices=verts, driver_max_edges=20,
                                      edge_bound=bound)
            return cc._graft_cc_stats["cc_mode"], {
                (r.doc_id, r.cluster_id) for r in cc.collect()}
        return _jobs(spark, go)

    (mode, got), names = run(15)  # bound fits: straight to the pull
    assert mode == "driver" and got == want
    assert not any(n.startswith("count at") for n in names), names
    (mode, got), names = run(25)  # bound too loose: the count decides
    assert mode == "driver" and got == want
    assert any(n.startswith("count at") for n in names), names


def test_near_dup_clusters_job_budget(spark):
    # The whole run's jobs: two eager cache fills (signatures, band
    # window), CC's pull and the clusters action. A probe that comes
    # back (bucket-metrics aggregate, verify hub count, CC edge count,
    # a LogicalRDD summary frame) adds jobs and fails here.
    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    pdf = corpus_pandas(n_docs=150, seed=9).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])

    def run():
        clusters, verified, metrics = near_dup_clusters(
            docs, DedupConfig(), collect_metrics=True)
        clusters.write.format("noop").mode("overwrite").save()
        return verified, metrics.first().asDict()

    (verified, summary), names = _jobs(spark, run)
    assert summary["cc_mode"] == "driver" and summary["candidate_pairs"] > 0
    assert sum(n.startswith("count at") for n in names) == 2, names
    assert not any(n.startswith("first at") for n in names), names
    # 16 here; the probing shape (bucket-stats aggregate, hub count, CC
    # edge count, LogicalRDD summary) ran 27 on this corpus
    assert len(names) <= 16, names
    release_caches(verified)


def test_dedup_job_job_budget(spark, tmp_path):
    # The checkpointed job's summary comes from its stages' manifests and
    # an observation on the clusters write, and a resumed run reads the
    # pairs stage's bucket row back instead of refilling the band window.
    # A summary count job or a rebuilt window that comes back fails here.
    from fastcdc_rs_spark.pipeline import DedupConfig
    from tests.test_relational import SF

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "jobs"))
    from dedup_job import run_dedup_job

    def run():
        return run_dedup_job(spark, f"{SF}/documents.parquet", str(tmp_path / "out"),
                             DedupConfig())

    cold, cold_names = _jobs(spark, run)
    resumed, resumed_names = _jobs(spark, run)
    assert all(e["action"] == "resumed" for e in resumed["stages"])
    assert resumed["docs"] == cold["docs"] == 500
    # 38 and 16 when the summary counted docs, clusters and verified
    # pairs, and a resume refilled the band window; 32 and 6 when every
    # stage was read back to infer its schema and count its part files
    assert len(cold_names) <= 16, cold_names
    assert len(resumed_names) <= 2, resumed_names
