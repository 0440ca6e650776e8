"""Operator tests: knn buckets, dedup semantics, and physical-plan
quality (pushdown, broadcast, codegen)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from fastcdc_rs_spark.corpus import corpus_pandas
from fastcdc_rs_spark.operators.dedup import dedup_flags, exact_duplicates
from fastcdc_rs_spark.operators.knn import (
    cosine_near_duplicates,
    cosine_topk_bruteforce,
    rhp_buckets,
)


def test_exact_dedup_on_corpus(spark):
    pdf = corpus_pandas(n_docs=200, seed=42).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    groups = {r.text_hash: r for r in exact_duplicates(docs).collect()}
    giant_n = (pdf.dup_kind == "giant").sum()
    assert max(r.n_docs for r in groups.values()) >= giant_n
    flags = {r.doc_id: r for r in dedup_flags(docs).collect()}
    n_dups = sum(1 for r in flags.values() if r.is_duplicate)
    expected_dups = len(pdf) - pdf.text.nunique()
    assert n_dups == expected_dups
    # canonical = min doc_id of each text group
    for r in flags.values():
        assert r.canonical_id <= r.doc_id


def test_cosine_ridden_norms_bit_identical(spark):
    # round 7: pair scoring rides per-vector norms through the join
    # (_cosine_ridden) instead of recomputing them per pair
    # (cosine_expr). The values must be BIT-identical — same
    # sqrt(aggregate(zip_with)) tree on the same arrays, evaluated once
    # per vector instead of once per pair — including the zero-vector
    # guard branch. Compared UNROUNDED so even a 1-ulp drift fails.
    from fastcdc_rs_spark.operators.knn import _cosine_ridden, _norm, cosine_expr

    rng = np.random.default_rng(23)
    rows = [(0, [0.0] * 8)]                                   # zero vector
    base = rng.standard_normal(8)
    for i in range(1, 20):
        v = base + rng.standard_normal(8) * (0.01 if i < 10 else 1.0)
        rows.append((i, [float(x) for x in v.astype(np.float32)]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(20) for b in range(a + 1, 20)], "a long, b long"
    )
    va = vecs.select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("_va"),
        _norm(F.col("embedding")).alias("_na"),
    )
    vb = vecs.select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("_vb"),
        _norm(F.col("embedding")).alias("_nb"),
    )
    joined = pairs.join(va, "a").join(vb, "b")
    got = joined.select(
        "a", "b",
        cosine_expr(F.col("_va"), F.col("_vb")).alias("per_pair"),
        _cosine_ridden(
            F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
        ).alias("ridden"),
    ).collect()
    assert len(got) == 190
    for r in got:
        assert r.per_pair == r.ridden, (r.a, r.b, r.per_pair, r.ridden)
    # the zero-vector pairs exercise the otherwise(0.0) branch
    assert all(r.ridden == 0.0 for r in got if r.a == 0)


def test_rhp_bucket_collision_property(spark):
    rng = np.random.default_rng(9)
    base = rng.standard_normal(64).astype(np.float32)
    rows = []
    for i in range(30):
        noise = rng.standard_normal(64).astype(np.float32) * 0.01
        rows.append((i, [float(x) for x in base + noise]))           # near-dups of base
    for i in range(30, 60):
        rows.append((i, [float(x) for x in rng.standard_normal(64)]))  # random
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bk = {r.vec_id: r.bucket for r in rhp_buckets(vecs, dim=64, n_planes=8).collect()}
    near_buckets = {bk[i] for i in range(30)}
    assert len(near_buckets) <= 3  # near-identical vectors collide
    pairs = cosine_near_duplicates(vecs, threshold=0.95, dim=64, n_planes=8).collect()
    found = {(r.a, r.b) for r in pairs}
    # all near-dup pairs of the base cluster found through the bucketed path
    n_base_pairs = sum(1 for a in range(30) for b in range(a + 1, 30))
    assert len([p for p in found if p[0] < 30 and p[1] < 30]) >= 0.95 * n_base_pairs


def test_banded_rhp_near_dups_recall_and_subset(spark):
    # banded RHP (OR over bands) must beat the single-bucket path's recall
    # on a planted near-dup cluster, and its output must be a subset of
    # the exact brute-force pairs at the same threshold.
    from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded

    rng = np.random.default_rng(17)
    base = rng.standard_normal(64).astype(np.float32)
    rows = []
    for i in range(20):
        noise = rng.standard_normal(64).astype(np.float32) * 0.05
        rows.append((i, [float(x) for x in base + noise]))
    for i in range(20, 80):
        rows.append((i, [float(x) for x in rng.standard_normal(64)]))
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r.a, r.b)
        for r in cosine_near_duplicates(vecs, threshold=0.9).collect()
    }
    banded = {
        (r.a, r.b)
        for r in cosine_near_duplicates_banded(
            vecs, threshold=0.9, dim=64, bands=4, rows_per_band=2, seed=3
        ).collect()
    }
    assert banded <= exact
    assert len(banded) >= 0.95 * len(exact), (len(banded), len(exact))

    # plan: candidate generation is an equi-join on band keys, not a
    # cartesian product
    plan = (
        cosine_near_duplicates_banded(
            vecs, threshold=0.9, dim=64, bands=4, rows_per_band=2, seed=3
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, plan


def test_banded_rhp_bucket_cap_star_pairs(spark):
    # a duplicate-heavy bucket (20 identical vectors) degrades to star
    # pairs under the cap: fan-out linear, connectivity preserved
    from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded

    rng = np.random.default_rng(41)
    base = rng.standard_normal(64).astype(np.float32)
    rows = [(i, [float(x) for x in base]) for i in range(20)]
    rows += [
        (i, [float(x) for x in rng.standard_normal(64)]) for i in range(20, 40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = {
        (r.a, r.b)
        for r in cosine_near_duplicates_banded(
            vecs, threshold=0.99, dim=64, bands=4, rows_per_band=4,
            seed=5, bucket_cap=8,
        ).collect()
    }
    # star pairs only: every identical vector pairs with the minimum (0)
    star = {(0, b) for b in range(1, 20)}
    assert capped == star
    # uncapped: full quadratic set within the duplicate cluster
    exact = {
        (r.a, r.b)
        for r in cosine_near_duplicates_banded(
            vecs, threshold=0.99, dim=64, bands=4, rows_per_band=4, seed=5
        ).collect()
    }
    assert exact == {(a, b) for a in range(20) for b in range(a + 1, 20)}


def test_plan_quality_pushdown(spark, tmp_path):
    # predicate + projection pushdown must reach the parquet scan
    pdf = corpus_pandas(n_docs=100, seed=1).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    path = str(tmp_path / "docs")
    spark.createDataFrame(pdf[["doc_id", "text", "lang"]]).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("lang") == "en").select("doc_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, plan


def test_plan_quality_broadcast_topk(spark):
    rng = np.random.default_rng(2)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(100)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = cosine_topk_bruteforce(vecs, q, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_ivf_topk_recall_on_clustered_vectors(spark):
    # IVF's recall story applies to data with neighbor structure (near-dup
    # embeddings — the pipeline's use case). Plant 12 clusters of unit
    # vectors with small perturbations; nprobe=4/16 must recover >=0.9 of
    # the exact top-10.
    import numpy as np
    import pyspark.sql.functions as F

    from fastcdc_rs_spark.operators.knn import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((12, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[rng.integers(0, 12, 600)] + 0.15 * rng.standard_normal((600, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    queries = emb.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_bruteforce(emb, queries, k=10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in cosine_topk_ivf(emb, queries, k=10, n_lists=16, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.3f} < 0.9"


def test_ivf_assignment_and_self_retrieval_on_driver_embeddings(spark):
    # the driver embeddings are isotropic noise (no neighbor structure —
    # max non-self cosine ~0.5), the worst case for any ANN index; assert
    # the structural invariants there: total single-assignment, id range,
    # determinism, and rank-1 self-retrieval (a query's own vector is by
    # construction in its nearest list).
    import numpy as np
    import pyspark.sql.functions as F

    from fastcdc_rs_spark.operators.knn import (
        cosine_topk_ivf,
        ivf_assign,
        kmeans_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = kmeans_centroids(emb, k=16, seed=7)
    lists = ivf_assign(emb, cents)
    n = emb.count()
    assert lists.count() == n
    stats = lists.agg(
        F.min("list_id").alias("lo"), F.max("list_id").alias("hi")
    ).first()
    assert stats.lo >= 0 and stats.hi < 16

    cents2 = kmeans_centroids(emb, k=16, seed=7)
    assert np.allclose(cents, cents2)

    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top1 = (
        cosine_topk_ivf(emb, queries, k=1, n_lists=16, nprobe=4)
        .where(F.col("rank") == 1)
        .collect()
    )
    assert len(top1) == 20
    assert all(r.query_id == r.vec_id for r in top1), "self-match must rank 1"


def test_plan_quality_substring_pairs_pruning(spark, tmp_path):
    # the substring-pair query must scan only (doc_id, text) from parquet
    from fastcdc_rs_spark.operators.dedup import substring_pairs

    pdf = corpus_pandas(n_docs=50, seed=3).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    path = str(tmp_path / "docs_sp")
    spark.createDataFrame(pdf[["doc_id", "text", "lang"]]).write.parquet(path)
    docs = spark.read.parquet(path)
    plan = (
        substring_pairs(docs, min_len=40)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, plan
    assert "lang" not in plan.split("ReadSchema")[1][:120], plan


def test_plan_quality_ivf_broadcast_probes(spark):
    # the IVF probe side must broadcast (queries are tiny by construction)
    from fastcdc_rs_spark.operators.knn import cosine_topk_ivf

    rng = np.random.default_rng(4)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = vecs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = (
        cosine_topk_ivf(vecs, q, k=5, n_lists=4, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_chunk_documents_single_arrow_udf_no_row_python(spark):
    # the exploded chunks table must evaluate the kernel UDF exactly once
    # and never fall back to row-at-a-time Python (BatchEvalPython)
    from fastcdc_rs_spark.kernel import ChunkerConfig
    from fastcdc_rs_spark.operators.chunk import chunk_documents
    from fastcdc_rs_spark.plans import assert_no_python_row_udf, executed_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = chunk_documents(docs, ChunkerConfig(64, 256, 1024), content_col="text")
    assert_no_python_row_udf(df)
    plan = executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_minhash_bands_single_arrow_udf(spark):
    # the exploded band table must evaluate the signature UDF once
    # (posexplode_once in the driver query / streaming path)
    import __spark_entry__ as em
    from fastcdc_rs_spark.plans import executed_plan

    df = em.q_minhash_bands(spark, "/root/testdata/sf0.001")
    plan = executed_plan(df)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan


def test_release_caches_helper(spark):
    from fastcdc_rs_spark import cache

    a = cache.register_cache(spark.range(10).persist())
    b = spark.range(5).persist()
    a.count(), b.count()
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    cache.release_caches(b)
    assert not b.storageLevel.useMemory  # directly-persisted frame released
    assert a.storageLevel.useMemory  # a registered frame waits for its owner
    cache.release_all()
    assert not a.storageLevel.useMemory  # registered cache released
    assert not cache._REGISTRY


def test_pipeline_leaves_only_verified_cached(spark):
    # near_dup_clusters must release units/signed/annotated after CC;
    # the returned verified frame stays cached (documented contract)
    from fastcdc_rs_spark.cache import release_caches
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    pdf = corpus_pandas(n_docs=120, seed=5).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    clusters, verified, metrics = near_dup_clusters(docs, DedupConfig())
    clusters.count()
    assert verified.storageLevel.useMemory
    release_caches(verified)
    assert not verified.storageLevel.useMemory


def test_bpe_pattern_portable_on_vertical_tab(spark):
    # Java \s includes \x0B, RE2's does not — the explicit whitespace
    # class must make both engines tokenize a VT-containing text alike
    import duckdb

    from fastcdc_rs_spark.operators.textstats import bpe_token_stats

    text = "hello\x0bworld 42\x0b\x0b!"
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    srow = bpe_token_stats(docs).collect()[0]
    from fastcdc_rs_spark.operators.textstats import BPE_SPLIT_PATTERN

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    orow = duckdb.sql(
        f"SELECT len(regexp_extract_all('{text}', '{pat}')) AS n"
    ).fetchone()
    assert srow.n_bpe_tokens == orow[0]


def test_ngram_jaccard_df_cap_kills_boilerplate_fanout(spark):
    # 12 docs share one boilerplate sentence (hot grams, df=12) plus a
    # unique tail; docs 100/101 are true near-dups through rare grams.
    # Uncapped: the boilerplate connects all 12 docs pairwise (66 pairs).
    # Capped below 12: boilerplate grams leave the gram universe, only
    # the rare-gram near-dup pair survives.
    from fastcdc_rs_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved terms of service apply here"
    rows = [(i, f"{boiler} unique{i}") for i in range(12)]
    near = "quick brown foxes jump over lazy dogs daily at dawn"
    rows += [(100, near + " alpha"), (101, near + " omega")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.a, r.b) for r in
                ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5).collect()}
    capped = {(r.a, r.b) for r in
              ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5, df_cap=8).collect()}
    assert len(uncapped) >= 66  # quadratic boilerplate fan-out
    assert capped == {(100, 101)}


def test_sessionize_gap_boundary(spark):
    # gap strictly less than the horizon continues a session; a gap of
    # exactly the horizon starts a new one; single-event users get one
    # 1-event session
    import datetime as dt

    from fastcdc_rs_spark.operators.events import sessionize

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (0, 1, t0),
        (1, 1, t0 + dt.timedelta(seconds=1799)),
        (2, 1, t0 + dt.timedelta(seconds=1799 + 1800)),
        (3, 2, t0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = sessionize(ev, gap_minutes=30).orderBy("user_id", "session_id").collect()
    assert [(r.user_id, r.session_id, r.n_events) for r in out] == [
        (1, 1, 2),
        (1, 2, 1),
        (2, 1, 1),
    ]


def test_cc_reliable_checkpoint_dir(spark, tmp_path):
    # with a reliable checkpoint dir configured, CC uses df.checkpoint()
    # (cluster-survivable) and produces identical results
    from fastcdc_rs_spark.operators.components import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    base = {(r.doc_id, r.cluster_id)
            for r in connected_components(edges, driver_max_edges=0).collect()}
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ccdir"))
    try:
        rel = {(r.doc_id, r.cluster_id)
               for r in connected_components(edges, driver_max_edges=0).collect()}
    finally:
        # session-scoped fixture: clear so later tests use localCheckpoint
        spark.sparkContext.setCheckpointDir(None)
    assert rel == base == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_cc_long_path_graph_stale_jump_map(spark):
    # Worst case for pointer jumping — a long path — under the round-3
    # jump-through-START-of-round-map design: labels must still converge
    # to the path minimum, and the loop must terminate well under
    # max_iter (jump keeps O(log n)-ish rounds even with the stale map).
    from fastcdc_rs_spark.operators.components import connected_components

    n = 60
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(1000, 1001)], "a long, b long"
    )
    got = {(r.doc_id, r.cluster_id)
           for r in connected_components(edges, driver_max_edges=0).collect()}
    want = {(i, 0) for i in range(n)} | {(1000, 1000), (1001, 1000)}
    assert got == want


def test_ngram_jaccard_plan_uncached_no_row_python(spark):
    # round-3 regression pin: the default (uncached) gram path must not
    # plan an InMemoryTableScan (the r2 persist that regressed the bench)
    # and must stay JVM-side; since round 7 the set sizes ride the gram
    # explode (map-side distinct arrays), so the documented cost is
    # exactly 2 FileScans of the documents table (the two join sides --
    # the two size-lookup scans and the corpus-wide distinct exchanges
    # are gone).
    from fastcdc_rs_spark.operators.dedup import ngram_jaccard_pairs
    from fastcdc_rs_spark.plans import executed_plan

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = executed_plan(ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5))
    assert "InMemoryTableScan" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert plan.count("FileScan parquet") == 2, plan


def test_verify_pairs_prefilter_semantics(spark):
    # The size-ratio prune is EXACT: results equal brute-force Jaccard on
    # every edge case — both-empty (J=1), one-empty (pruned), borderline
    # subset pair with min/max == J == threshold exactly, and a hub pair
    # whose sizes differ 10x (pruned before arrays would ship).
    from fastcdc_rs_spark.operators.verify import verify_pairs

    sets = {
        1: [10, 11, 12], 2: [10, 11, 12],          # identical
        3: [1, 2, 3], 4: [7, 8, 9],                # disjoint, same size
        5: [1], 6: list(range(100, 110)),          # 1 vs 10 -> prune
        7: [], 8: [],                              # both empty -> J=1
        9: [1, 2, 3, 4], 10: [1, 2, 3, 4, 5],     # subset: J = 4/5 = 0.8
    }
    shingled = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], "doc_id long, shingles array<long>"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8), (9, 10)], "a long, b long"
    )
    got = {
        (r.a, r.b): r.jaccard
        for r in verify_pairs(pairs, shingled, threshold=0.8).collect()
    }
    assert set(got) == {(1, 2), (7, 8), (9, 10)}
    assert got[(1, 2)] == 1.0 and got[(7, 8)] == 1.0
    assert abs(got[(9, 10)] - 0.8) < 1e-12


def test_contamination_flags(spark):
    from fastcdc_rs_spark.operators.dedup import contamination_flags
    from fastcdc_rs_spark.plans import executed_plan

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "a totally different sentence with no overlap here"),
            (2, "quick brown fox jumps over something else entirely"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = docs.where(F.col("doc_id") == 0)
    out = {r.doc_id: (r.n_hits, r.contaminated)
           for r in contamination_flags(docs, bench, n=5).collect()}
    assert out[0][1] and out[0][0] == 5        # benchmark doc: all 5 5-grams hit
    assert out[1] == (0, False)
    # doc 2 shares exactly "quick brown fox jumps over" with doc 0
    assert out[2] == (1, True)
    assert out[3] == (0, False)                # whole-seq gram, no match
    # the benchmark gram set must be broadcast (never shuffles the corpus
    # on the gram key)
    plan = executed_plan(contamination_flags(docs, bench, n=5))
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan


def test_remove_duplicate_lines(spark):
    from fastcdc_rs_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [
            (0, "alpha\nshared line\nbeta"),
            (1, "shared line\ngamma\nshared line"),   # cross-doc + in-doc dup
            (2, "delta\ndelta\nepsilon"),             # in-doc dup only
            (3, "shared line"),                       # fully duplicate doc
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_lines, r.n_kept, r.cleaned_text)
           for r in remove_duplicate_lines(docs).collect()}
    assert out[0] == (3, 3, "alpha\nshared line\nbeta")   # first occurrences win
    assert out[1] == (3, 1, "gamma")                      # both copies dropped
    assert out[2] == (3, 2, "delta\nepsilon")             # in-doc dedup, order kept
    assert out[3] == (1, 0, "")                           # everything was boilerplate
    # total survivors == number of distinct lines in the corpus
    assert sum(k for _, k, _ in out.values()) == 6


def test_stratified_sample_deterministic_and_rates(spark):
    from fastcdc_rs_spark.operators.mixing import stratified_sample
    from fastcdc_rs_spark.plans import assert_broadcast_join

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "zh", f"t{i}") for i in range(4000)],
        "doc_id long, lang string, text string",
    )
    rates = {"en": 0.5, "zh": 0.1}
    kept = stratified_sample(docs, rates, seed=3, strata_col="lang")
    ids1 = {r.doc_id for r in kept.collect()}
    ids2 = {r.doc_id for r in stratified_sample(
        docs, rates, seed=3, strata_col="lang").collect()}
    assert ids1 == ids2  # deterministic: identical redraw
    n_en = sum(1 for i in ids1 if i % 2 == 0)
    n_zh = len(ids1) - n_en
    assert abs(n_en / 2000 - 0.5) < 0.05 and abs(n_zh / 2000 - 0.1) < 0.03
    # different seed -> different sample; unlisted stratum -> default rate
    ids3 = {r.doc_id for r in stratified_sample(
        docs, rates, seed=4, strata_col="lang").collect()}
    assert ids3 != ids1
    all_kept = stratified_sample(docs, {}, default_rate=1.0, strata_col="lang")
    assert all_kept.count() == 4000
    assert_broadcast_join(kept)  # rate table never shuffles the corpus


def test_repetition_scores_known_values(spark):
    from fastcdc_rs_spark.operators.mixing import repetition_scores

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),      # 2-grams: ab,ba,ab,ba,ab -> top 3/5, dup 3/5
            (1, "w x y z"),          # wx,xy,yz all unique -> top 1/3, dup 0
            (2, "solo"),             # < 2 tokens: whole-seq gram
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_grams, r.top_gram_frac, r.dup_gram_frac)
           for r in repetition_scores(docs, n=2).collect()}
    assert out[0] == (5, 0.6, 0.6)
    assert out[1] == (3, round(1 / 3, 6), 0.0)
    assert out[2] == (1, 1.0, 0.0)


def test_stratified_sample_integer_cutoff_boundary(spark):
    from fastcdc_rs_spark.operators.mixing import _BUCKETS, stratified_sample

    # integer-cutoff boundary: a doc whose bucket == cut must be DROPPED
    # on both engines (bucket < cut, exact integers — no float fuzz)
    from fastcdc_rs_spark.functions.portable import md5_long
    docs = spark.createDataFrame(
        [(i, "xx", "t") for i in range(500)], "doc_id long, lang string, text string"
    )
    bucketed = docs.select(
        "doc_id",
        (md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(":0")))
         % F.lit(_BUCKETS)).alias("bucket"),
    ).collect()
    probe = min(bucketed, key=lambda r: r.bucket)  # smallest bucket value
    rate = probe.bucket / _BUCKETS
    kept = {r.doc_id for r in stratified_sample(
        docs, {"xx": rate}, seed=0, strata_col="lang").collect()}
    assert probe.doc_id not in kept  # bucket == cut -> excluded exactly


def test_cdc_dedup_stats_vs_single_node(spark):
    # the storage-dedup summary must equal a single-node computation with
    # the same kernel: duplicated docs share every chunk, so unique bytes
    # collapse to the distinct texts' chunks
    from collections import Counter

    from fastcdc_rs_spark.kernel import ChunkerConfig, chunk_bytes
    from fastcdc_rs_spark.operators.chunk import cdc_dedup_stats

    cfg = ChunkerConfig(64, 256, 1024)
    texts = [
        "alpha " * 200,
        "alpha " * 200,          # exact dup of doc 0
        "beta " * 300,
        ("alpha " * 200) + ("beta " * 300),  # concatenation shares chunks
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    row = cdc_dedup_stats(docs, cfg).first()

    counts: Counter = Counter()
    total = 0
    n_chunks = 0
    for t in texts:
        for h, off, ln in chunk_bytes(t.encode(), cfg):
            counts[(h, ln)] += 1
            total += ln
            n_chunks += 1
    unique_bytes = sum(ln for (_, ln) in counts)
    assert row.n_docs == 4
    assert row.total_bytes == total == sum(len(t) for t in texts)
    assert row.n_chunks == n_chunks
    assert row.n_unique_chunks == len(counts)
    assert row.unique_bytes == unique_bytes
    assert abs(row.dedup_ratio - round(1 - unique_bytes / total, 6)) < 1e-9
    assert row.dedup_ratio > 0.3  # the dup structure must actually dedup


def test_remove_duplicate_lines_literal_separator(spark):
    # sep is LITERAL in both split sites (ADVICE r3): '.' or '|' must not
    # be treated as regex metacharacters by F.split while concat_ws
    # re-inserts them literally
    from fastcdc_rs_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [(0, "a.b.a"), (1, "b.c")], "doc_id long, text string"
    )
    out = {r.doc_id: (r.n_lines, r.n_kept, r.cleaned_text)
           for r in remove_duplicate_lines(docs, sep=".").collect()}
    assert out[0] == (3, 2, "a.b")   # in-doc dup 'a' dropped, sep intact
    assert out[1] == (2, 1, "c")     # cross-doc dup 'b' dropped

    pipes = spark.createDataFrame([(0, "x|y|x|z")], "doc_id long, text string")
    r = remove_duplicate_lines(pipes, sep="|").first()
    assert (r.n_lines, r.n_kept, r.cleaned_text) == (4, 3, "x|y|z")


def test_stratified_sample_user_cut_column_survives(spark):
    # internal cutoff column is collision-safe (ADVICE r3): a user column
    # named _cut passes through untouched
    from fastcdc_rs_spark.operators.mixing import stratified_sample

    docs = spark.createDataFrame(
        [(i, "en", f"t{i}", i * 10) for i in range(100)],
        "doc_id long, lang string, text string, _cut long",
    )
    kept = stratified_sample(docs, {"en": 0.5}, seed=1, strata_col="lang")
    assert "_cut" in kept.columns
    rows = kept.collect()
    assert 0 < len(rows) < 100
    assert all(r._cut == r.doc_id * 10 for r in rows)


@pytest.fixture
def no_auto_broadcast(spark):
    """autoBroadcastJoinThreshold=-1 for one test, then restored."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, before)


def test_verify_pairs_hub_split_plan_and_equivalence(spark, no_auto_broadcast):
    # Degree-aware verify: star pairs sharing a hub `a` take a broadcast
    # path above hub_degree_cap. Pure physical-plan choice — results must
    # be IDENTICAL to the unsplit wide join, the hub branch must plan a
    # broadcast join, and the narrow persisted table must be registered
    # and released by the caller's cache scope. The split runs only when
    # the shingle table is too big to broadcast, hence auto-broadcast off
    # for the test.
    import numpy as np

    from fastcdc_rs_spark import cache
    from fastcdc_rs_spark.operators.verify import verify_pairs

    rng = np.random.default_rng(5)
    base = list(range(1000, 1040))
    sets = {0: base}                       # hub doc
    pairs_rows = []
    for i in range(1, 30):                 # 29 star pairs on hub a=0
        drop = rng.choice(40, size=4, replace=False)
        sets[i] = [v for j, v in enumerate(base) if j not in drop]
        pairs_rows.append((0, i))
    pairs_rows += [(1, 2), (3, 4)]         # a few normal pairs
    shingled = spark.createDataFrame(
        [(k, v) for k, v in sets.items()], "doc_id long, shingles array<long>"
    )
    pairs = spark.createDataFrame(pairs_rows, "a long, b long")

    with cache.scope():
        split = verify_pairs(pairs, shingled, threshold=0.6, hub_degree_cap=4)
        plan = split._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        got_split = {(r.a, r.b): round(r.jaccard, 9) for r in split.collect()}
        caches = [c for c in cache._REGISTRY if "_deg" in c.columns]
        assert len(caches) == 1 and caches[0].storageLevel.useMemory
    assert not caches[0].storageLevel.useMemory
    assert not cache._REGISTRY
    plain = verify_pairs(pairs, shingled, threshold=0.6, hub_degree_cap=None)
    got_plain = {(r.a, r.b): round(r.jaccard, 9) for r in plain.collect()}
    assert got_split == got_plain and len(got_split) > 20

    # Round-5 ADVICE: the hub PAIR broadcast is bounded — above
    # hub_pair_bcast_max the narrow hub pairs must take a shuffle join
    # instead (the broadcast grew linearly with hub degree). Forcing the
    # bounds down exercises the b-id-filtered shuffle rung and the
    # unfiltered rung; rows stay identical on every rung.
    shuffled = verify_pairs(pairs, shingled, threshold=0.6,
                            hub_degree_cap=4, hub_pair_bcast_max=0)
    got_shuffled = {(r.a, r.b): round(r.jaccard, 9)
                    for r in shuffled.collect()}
    assert got_shuffled == got_plain
    cache.release_all()

    unfiltered = verify_pairs(pairs, shingled, threshold=0.6,
                              hub_degree_cap=4, hub_pair_bcast_max=0,
                              hub_bids_bcast_max=0)
    got_unfiltered = {(r.a, r.b): round(r.jaccard, 9)
                      for r in unfiltered.collect()}
    assert got_unfiltered == got_plain
    cache.release_all()

    # zero hub pairs: the split collapses to the plain wide join (no
    # union branch, no broadcast barriers) — rows still identical
    nohub = verify_pairs(pairs, shingled, threshold=0.6,
                         hub_degree_cap=10_000)
    got_nohub = {(r.a, r.b): round(r.jaccard, 9) for r in nohub.collect()}
    assert got_nohub == got_plain
    plan_nohub = nohub._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan_nohub
    cache.release_all()


def test_cc_driver_path_equals_loop(spark):
    # the size-adaptive driver union-find must produce EXACTLY the loop's
    # labeling (min doc_id per component) on an adversarial mix: long
    # path, star, cliques, isolated vertices; threshold boundary picks
    # the right mode and stats expose it
    import numpy as np

    from fastcdc_rs_spark.operators.components import connected_components

    rng = np.random.default_rng(3)
    rows = [(i, i + 1) for i in range(50)]              # path
    rows += [(100, 100 + i) for i in range(1, 20)]      # star
    for base in (200, 300):                             # cliques
        ids = [base + i for i in range(6)]
        rows += [(a, b) for a in ids for b in ids if a < b]
    rows += [(int(a), int(b)) for a, b in rng.integers(400, 450, (40, 2))
             if a != b]
    edges = spark.createDataFrame(rows, "a long, b long")
    verts = spark.range(0, 460).selectExpr("id as doc_id")

    drv = connected_components(edges, vertices=verts)
    loop = connected_components(edges, vertices=verts, driver_max_edges=0)
    assert drv._graft_cc_stats["cc_mode"] == "driver"
    assert loop._graft_cc_stats["cc_mode"] == "loop"
    got_d = {(r.doc_id, r.cluster_id) for r in drv.collect()}
    got_l = {(r.doc_id, r.cluster_id) for r in loop.collect()}
    assert got_d == got_l and len(got_d) == 460

    # threshold boundary: edge count above driver_max_edges -> loop mode
    forced = connected_components(edges, vertices=verts,
                                  driver_max_edges=len(rows) - 1)
    assert forced._graft_cc_stats["cc_mode"] == "loop"
    assert {(r.doc_id, r.cluster_id) for r in forced.collect()} == got_d

    # empty edge set: every vertex is a singleton, driver path
    empty = spark.createDataFrame([], "a long, b long")
    got_e = connected_components(empty, vertices=verts)
    assert got_e._graft_cc_stats["cc_mode"] == "driver"
    assert all(r.doc_id == r.cluster_id for r in got_e.collect())


