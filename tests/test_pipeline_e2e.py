"""End-to-end pipeline correctness: Spark vs the single-node oracle.

The baseline metric (BASELINE.json): dup-pair recall >= 0.99 vs the
reference clusters under the same shingle/signature/band config. Our oracle
(tests/oracle.py) runs the identical kernels single-node, so we assert
exact pair parity (recall 1.0) plus cluster-assignment equality, and then
semantic properties of the seeded corpus (exact dups cluster, boilerplate
controls don't, the giant skew cluster is recovered whole).
"""

from __future__ import annotations

import pytest

from fastcdc_rs_spark.corpus import corpus_pandas
from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters
from tests.oracle import oracle_pipeline

CFG = DedupConfig()  # k=1, 128 perms, b=32 r=4, tau=0.6


@pytest.fixture(scope="module")
def corpus():
    pdf = corpus_pandas(n_docs=400, seed=42, mean_words=400)
    pdf = pdf.reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    return pdf


@pytest.fixture(scope="module")
def spark_results(spark, corpus):
    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    clusters, verified, metrics = near_dup_clusters(docs, CFG)
    cl = {r.doc_id: r.cluster_id for r in clusters.collect()}
    pairs = {(r.a, r.b) for r in verified.collect()}
    m = metrics.collect()[0].asDict()
    return cl, pairs, m


@pytest.fixture(scope="module")
def oracle_results(corpus):
    return oracle_pipeline(
        list(corpus.doc_id), list(corpus.text), CFG
    )


def test_dup_pair_recall_vs_oracle(spark_results, oracle_results):
    _, spark_pairs, _ = spark_results
    _, oracle_pairs, _ = oracle_results
    assert oracle_pairs, "oracle found no dup pairs — corpus misconfigured"
    recall = len(spark_pairs & oracle_pairs) / len(oracle_pairs)
    assert recall >= 0.99, f"recall {recall} < 0.99"
    # shared kernels should give exact parity, not just recall
    assert spark_pairs == oracle_pairs


def test_cluster_assignment_matches_oracle(spark_results, oracle_results):
    spark_clusters, _, _ = spark_results
    _, _, oracle_clusters = oracle_results
    assert spark_clusters == oracle_clusters


def test_semantic_cluster_properties(spark_results, corpus):
    spark_clusters, _, metrics = spark_results
    by_kind = corpus.groupby("dup_kind")

    # every seeded exact-dup cluster is recovered whole
    for tc, grp in corpus[corpus.dup_kind == "exact"].groupby("true_cluster"):
        labels = {spark_clusters[d] for d in grp.doc_id}
        assert len(labels) == 1, f"exact cluster {tc} split: {labels}"

    # the giant cluster (skew stress) is recovered whole
    giant = corpus[corpus.dup_kind == "giant"]
    labels = {spark_clusters[d] for d in giant.doc_id}
    assert len(labels) == 1, f"giant cluster split into {len(labels)}"

    # boilerplate-only overlap must NOT merge distinct bodies
    boiler = corpus[corpus.dup_kind == "boiler"]
    boiler_labels = [spark_clusters[d] for d in boiler.doc_id]
    assert len(set(boiler_labels)) == len(boiler_labels), "boiler docs merged"

    # unique docs stay singletons
    uniq = corpus[corpus.dup_kind == "unique"]
    for d in uniq.doc_id:
        assert spark_clusters[d] == d

    # skew handling engaged: bucket stats observable; the giant cluster's
    # exact core must form a hot bucket (variants may miss single bands)
    assert metrics["buckets"] > 0
    assert metrics["max_bucket"] >= len(giant) // 2


def test_near_clusters_recovered(spark_results, corpus):
    # localized-edit near dups: recovery is bounded by chunk granularity
    # (a 1-2 chunk edit on a 7-10 chunk doc sits near the 0.6 Jaccard
    # threshold), so the floor is 0.75
    spark_clusters, _, _ = spark_results
    near = corpus[corpus.dup_kind == "near"]
    whole = sum(
        1 for _, grp in near.groupby("true_cluster")
        if len({spark_clusters[d] for d in grp.doc_id}) == 1
    )
    total = near.true_cluster.nunique()
    assert whole / total >= 0.75, f"only {whole}/{total} near clusters recovered"


def test_pipeline_metrics_collection(spark):
    import json as _json

    from fastcdc_rs_spark.corpus import corpus_pandas
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    pdf = corpus_pandas(n_docs=150, seed=9).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    clusters, verified, metrics = near_dup_clusters(
        docs, DedupConfig(), collect_metrics=True
    )
    s = metrics.first().asDict()
    assert s["docs"] == 150
    assert s["units_total"] > 0 and s["units_per_doc"] > 0
    assert s["candidate_pairs"] >= s["verified_pairs"] >= 0
    # size-adaptive CC: a tiny edge set takes the driver union-find
    # (0 rounds); the loop reports its round count
    assert s["cc_mode"] in ("driver", "loop")
    assert s["cc_rounds"] >= (1 if s["cc_mode"] == "loop" else 0)
    assert s["cc_sym_edges"] >= 0
    hist = _json.loads(s["bucket_hist"])  # JSON log2-histogram
    assert sum(hist.values()) == s["buckets"]
    # observation count equals the actual frame
    assert verified.count() == s["verified_pairs"]


@pytest.mark.parametrize("shingle_k", [1, 3])
def test_hostile_input_through_near_dup_clusters(spark, shingle_k):
    # NULL, empty and whitespace-only texts, one page over 500x chunk_max
    # and 200 copies of one page (above bucket_cap, so its buckets emit
    # star pairs) run through the whole engine; candidates, verified
    # pairs and clusters equal the oracle's on the same bytes (NULL is
    # the empty text there), at the default k=1 and at 3-gram shingles
    import numpy as np

    cfg = DedupConfig(shingle_k=shingle_k)
    pdf = corpus_pandas(n_docs=150, seed=9).reset_index(drop=True)
    rng = np.random.default_rng(7)
    words = ["".join(chr(97 + c) for c in rng.integers(0, 26, n))
             for n in rng.integers(2, 10, 3000)]
    long_page = " ".join(rng.choice(words, 100_000))
    assert len(long_page) > 500 * cfg.chunk_max
    texts = (list(pdf.text) + [None, None, "", "", "   ", "\t\n "]
             + [long_page] + [pdf.text[0]] * (4 * cfg.bucket_cap))
    ids = list(range(len(texts)))
    docs = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")

    clusters, verified, metrics = near_dup_clusters(docs, cfg, collect_metrics=True)
    got_clusters = {r.doc_id: r.cluster_id for r in clusters.collect()}
    got_pairs = {(r.a, r.b) for r in verified.collect()}
    m = metrics.first().asDict()

    candidates, pairs, want_clusters = oracle_pipeline(
        ids, [t if t is not None else "" for t in texts], cfg)
    assert m["capped_buckets"] > 0
    assert m["candidate_pairs"] == len(candidates)
    assert got_pairs == pairs
    assert got_clusters == want_clusters
