"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship near-duplicate pipeline on sf0.001;
``queries()`` exposes the implemented operators from SURVEY.md §2 over the
driver parquet tables; ``oracle_sql()`` gives DuckDB twins. Conventions:

* every computed column is aliased identically on both sides;
* cross-engine hashing uses the portable md5-based 60-bit hash
  (fastcdc_rs_spark/functions/portable.py);
* doubles are rounded explicitly before comparison;
* kernel-backed queries (FastCDC chunk hashes, MinHash bands, SimHash,
  suffix-array matches, CC over kernel pairs) have no SQL twin → the
  driver records rows-only checks; their value-level correctness is
  pinned by tests/ (golden vectors + single-node oracle parity).
  ``chunk_coverage`` is the bridge: it checks the kernel's tiling
  invariant (sum of chunk lengths == byte length) *through* SQL.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from fastcdc_rs_spark.kernel import ChunkerConfig
from fastcdc_rs_spark.operators.chunk import chunk_documents
from fastcdc_rs_spark.operators.components import connected_components
from fastcdc_rs_spark.operators.dedup import (
    contamination_flags,
    dedup_flags,
    exact_duplicates,
    ngram_jaccard_pairs,
    substring_pairs,
    token_ngrams,
)
from fastcdc_rs_spark.operators.knn import (
    cosine_near_duplicates,
    cosine_topk_bruteforce,
    cosine_topk_ivf,
)
from fastcdc_rs_spark.operators.textstats import (
    bpe_token_stats,
    doc_fingerprint,
    langid_heuristic,
    language_stats,
    quality_scores,
    token_stats,
)
from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

# Tiny-doc chunker params for the ~300-char driver documents
# (reference convention min=avg/4, max=avg*4; avg floor is 256).
TINY = ChunkerConfig(64, 256, 1024)
CFG = DedupConfig()

_STOP = "(?i)\\b(the|of|and|to|in|is|for|with|on|that)\\b"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup pipeline on sf0.001 documents → clusters."""
    docs = _docs(spark, "/root/testdata/sf0.001")
    clusters, _, _ = near_dup_clusters(docs, CFG)
    return clusters.orderBy("doc_id")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_exact_dedup_flags(spark, sf):
    return dedup_flags(_docs(spark, sf)).orderBy("doc_id")


def q_exact_dup_groups(spark, sf):
    return exact_duplicates(_docs(spark, sf)).orderBy("text_hash")


def q_token_stats(spark, sf):
    return token_stats(_docs(spark, sf)).orderBy("doc_id")


def q_bpe_token_stats(spark, sf):
    return bpe_token_stats(_docs(spark, sf)).orderBy("doc_id")


def q_quality_scores(spark, sf):
    return quality_scores(_docs(spark, sf)).orderBy("doc_id")


def q_language_stats(spark, sf):
    return language_stats(_docs(spark, sf)).orderBy("lang")


def q_doc_fingerprint(spark, sf):
    return doc_fingerprint(_docs(spark, sf)).orderBy("doc_id")


def q_langid(spark, sf):
    return langid_heuristic(_docs(spark, sf)).orderBy("doc_id")


def q_corpus_keep_mask(spark, sf):
    # C4-style cleaning decision: quality x language x exact-dup in one
    # composed pass (operators/textstats.corpus_keep_mask)
    from fastcdc_rs_spark.operators.textstats import corpus_keep_mask

    return corpus_keep_mask(_docs(spark, sf)).orderBy("doc_id")


def q_vocabulary_topk(spark, sf):
    # wordcount-at-scale: token explode -> hash aggregate -> top-k window
    from fastcdc_rs_spark.operators.textstats import vocabulary_topk

    return vocabulary_topk(_docs(spark, sf), k=20).orderBy("rank")


def q_token_ngrams(spark, sf):
    return token_ngrams(_docs(spark, sf), n=3).orderBy("doc_id", "ngram_hash")


def q_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(_docs(spark, sf), n=3, min_jaccard=0.5).orderBy("a", "b")


def q_ngram_jaccard_capped(spark, sf):
    # production default: document-frequency cap bounds the self-join
    # fan-out to Σ min(df, cap)² (stopword-filtered Jaccard; the oracle
    # twin applies the identical cap)
    return ngram_jaccard_pairs(
        _docs(spark, sf), n=3, min_jaccard=0.5, df_cap=8
    ).orderBy("a", "b")


def q_benchmark_contamination(spark, sf):
    # GPT-3/C4-style decontamination: docs sharing any token n-gram with
    # the "benchmark" set (here: doc_id < 20 stands in for an eval set).
    # n=5 because the driver docs are 10-99 tokens; production uses 13.
    docs = _docs(spark, sf)
    bench = docs.where(F.col("doc_id") < 20)
    return contamination_flags(docs, bench, n=5).orderBy("doc_id")


def q_stratified_sample(spark, sf):
    # data-mixing step: per-language keep rates, deterministic
    # hash-Bernoulli draw (reproducible across runs/engines — rand()
    # could never oracle-check)
    from fastcdc_rs_spark.operators.mixing import stratified_sample

    docs = _docs(spark, sf)
    return (
        stratified_sample(
            docs,
            {"en": 1.0, "de": 0.5, "fr": 0.25, "es": 0.75, "zh": 0.1},
            seed=7,
        )
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def q_repetition_scores(spark, sf):
    # Gopher-style repetition quality signals over token 2-gram
    # occurrences (2-grams because driver docs are 10-99 tokens)
    from fastcdc_rs_spark.operators.mixing import repetition_scores

    return repetition_scores(_docs(spark, sf), n=2).orderBy("doc_id")


def q_duplicate_line_removal(spark, sf):
    # corpus-wide duplicate-line removal (C4/Gopher boilerplate rule).
    # The driver corpus has no newline/sentence structure, so the "lines"
    # are whitespace-delimited tokens (sep=" ") — a degenerate but fully
    # valid record structure that exercises the operator's whole
    # semantics: first occurrence in (doc_id, pos) order wins corpus-wide,
    # in-doc repeats drop, cleaned_text rebuilds survivors in order.
    from fastcdc_rs_spark.operators.dedup import remove_duplicate_lines

    out = remove_duplicate_lines(_docs(spark, sf), sep=" ")
    return out.select(
        "doc_id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "cleaned_text",
    ).orderBy("doc_id")


def q_substring_pairs_capped(spark, sf):
    # production default for B10: hot boilerplate grams (df > cap) are
    # dropped before bucket pair expansion; drops are logged via metrics
    return substring_pairs(_docs(spark, sf), min_len=40, df_cap=8).orderBy("a", "b")


def q_ngram_cc(spark, sf):
    docs = _docs(spark, sf)
    edges = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5).select("a", "b")
    return connected_components(edges, vertices=docs.select("doc_id")).orderBy("doc_id")


def q_event_sessions(spark, sf):
    # gap-based sessionization of the events log (window lag + cumsum,
    # shuffle key = user_id); epoch-second bounds for cross-engine compare
    from fastcdc_rs_spark.operators.events import sessionize

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return sessionize(ev, gap_minutes=30).orderBy("user_id", "session_id")


def q_event_type_stats(spark, sf):
    from fastcdc_rs_spark.operators.events import event_type_stats

    ev = spark.read.parquet(f"{sf}/events.parquet")
    return event_type_stats(ev).orderBy("event_type")


def q_substring_pairs(spark, sf):
    # B10 (exact substring dedup), scalable inverted-index form: pairs of
    # docs sharing an exact common substring of >= 40 chars via positional
    # char-40-gram buckets — exact by the gram<->substring equivalence.
    return substring_pairs(_docs(spark, sf), min_len=40).orderBy("a", "b")


def q_suffix_substring_pairs(spark, sf):
    # B10, suffix-array form (kernel-backed): the same pair set computed by
    # per-group suffix arrays + Kasai LCP + interval enumeration inside
    # applyInPandas. Groups = connected components of the gram-bucket pair
    # graph (so no cross-group pair can share a >=40-char substring);
    # singleton-component docs are skipped (they cannot pair). Tests and
    # the shared oracle assert equality with q_substring_pairs.
    from fastcdc_rs_spark.operators.suffix import substring_pairs_exact

    docs = _docs(spark, sf)
    edges = substring_pairs(docs, min_len=40).select("a", "b")
    comp = connected_components(edges)  # edge endpoints only
    grouped = docs.join(
        comp.select(F.col("doc_id"), F.col("cluster_id").alias("group_id")),
        "doc_id",
    )
    return (
        substring_pairs_exact(grouped, min_len=40)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .orderBy("a", "b")
    )


def _tbl(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")


def q_pricing_summary(spark, sf):
    # TPC-H Q1 shape over the lineitem fact table; decimal-exact sums
    from fastcdc_rs_spark.operators.relational import pricing_summary

    return pricing_summary(_tbl(spark, sf, "lineitem")).orderBy(
        "l_returnflag", "l_linestatus"
    )


def q_revenue_by_nation(spark, sf):
    # TPC-H Q5 shape: fact⨝fact shuffle join + broadcast dimension
    from fastcdc_rs_spark.operators.relational import revenue_by_nation

    return revenue_by_nation(
        _tbl(spark, sf, "customer"),
        _tbl(spark, sf, "orders"),
        _tbl(spark, sf, "lineitem"),
        _tbl(spark, sf, "nation"),
    ).orderBy("n_name")


def q_top_customers_per_nation(spark, sf):
    # window top-N per group over the customer-grain aggregate
    from fastcdc_rs_spark.operators.relational import top_customers_per_nation

    return top_customers_per_nation(
        _tbl(spark, sf, "customer"),
        _tbl(spark, sf, "orders"),
        _tbl(spark, sf, "nation"),
        k=3,
    ).orderBy("n_name", "rank")


def q_late_order_priority(spark, sf):
    # TPC-H Q4 shape: EXISTS (left-semi join) + aggregate
    from fastcdc_rs_spark.operators.relational import late_order_priority

    return late_order_priority(
        _tbl(spark, sf, "orders"), _tbl(spark, sf, "lineitem")
    ).orderBy("o_orderpriority")


def q_customers_without_urgent_orders(spark, sf):
    # NOT EXISTS / left-anti join (the complement of late_order_priority's
    # semi join). Restricted to URGENT orders so the anti-set is non-empty
    # (~14% of customers) — a value-bearing oracle comparison; every
    # customer has SOME order in this data.
    from fastcdc_rs_spark.operators.relational import customers_without_orders

    orders = _tbl(spark, sf, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customers_without_orders(
        _tbl(spark, sf, "customer"), orders
    ).orderBy("c_custkey")


def q_orders_rollup(spark, sf):
    # grouping sets: ROLLUP(year, priority) with decimal-exact sums
    from fastcdc_rs_spark.operators.relational import orders_rollup

    return orders_rollup(_tbl(spark, sf, "orders")).orderBy(
        F.col("order_year").asc_nulls_first(),
        F.col("o_orderpriority").asc_nulls_first(),
    )


def q_customer_balance_quartiles(spark, sf):
    # ntile window over the customer dimension, nation broadcast
    from fastcdc_rs_spark.operators.relational import customer_balance_quartiles

    return customer_balance_quartiles(
        _tbl(spark, sf, "customer"), _tbl(spark, sf, "nation")
    ).orderBy("n_name", "quartile")


def q_embedding_topk(spark, sf):
    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_bruteforce(
        emb, queries, k=10, round_scale=4
    ).orderBy("query_id", "rank")


def q_embedding_topk_ivf(spark, sf):
    # ANN scale path (kernel-backed config: deterministic spherical-k-means
    # centroids; rows-only check — recall >= 0.9 vs exact brute force is
    # asserted in tests/test_operators_misc.py on clustered vectors, plus
    # structural invariants on this driver table)
    emb = _emb(spark, sf)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(
        emb, queries, k=10, n_lists=16, nprobe=4, round_scale=4
    ).orderBy("query_id", "rank")


def q_embedding_topk_ivf_sql(spark, sf):
    # IVF with PINNED deterministic centroids (the unit-normalized
    # embeddings of vec_id 0..15) instead of the k-means fit — every
    # stage (list assignment, probe selection, scoring, ranking) becomes
    # SQL-expressible, so the full IVF path is oracle-checked. Selection
    # dots are rounded to 6 decimals in both engines (deterministic
    # argmax/top-n with index tiebreaks).
    import numpy as np

    emb = _emb(spark, sf)
    rows = emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()
    cents = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_ivf(
        emb, queries, k=10, centroids=cents, nprobe=4, round_scale=4
    ).orderBy("query_id", "rank")


def q_embedding_near_dups(spark, sf):
    # threshold 0.45 sits just under the driver embeddings' max non-self
    # cosine (~0.49, isotropic vectors) so the oracle comparison is
    # value-bearing rather than trivially empty
    return cosine_near_duplicates(
        _emb(spark, sf), threshold=0.45, round_scale=4
    ).orderBy("a", "b")


def q_embedding_near_dups_rhp(spark, sf):
    # the SCALE path for embedding near-dups, oracle-checked end-to-end:
    # banded random-hyperplane LSH (4 bands x 2 sign bits) restricts the
    # self-join to band-key collisions instead of all pairs. Planes are
    # PINNED to the embeddings of vec_id 0..7 (same trick as the pinned
    # IVF centroids) so bucketing, candidate generation, and scoring are
    # all SQL-expressible; projections rounded to 6 decimals in both
    # engines before the sign test.
    import numpy as np

    from fastcdc_rs_spark.operators.knn import cosine_near_duplicates_banded

    emb = _emb(spark, sf)
    rows = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    planes = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    return cosine_near_duplicates_banded(
        emb, threshold=0.45, planes=planes, bands=4, rows_per_band=2,
        round_scale=4,
    ).orderBy("a", "b")


def q_extracted_text(spark, sf):
    # B2 extraction through SQL identity: wrap text in the corpus html
    # template JVM-side, extract with the real pandas-UDF extractor, and
    # the oracle asserts byte-identity with the original text.
    from fastcdc_rs_spark.operators.extract import extract_text

    docs = _docs(spark, sf)
    wrapped = docs.select(
        "doc_id",
        F.concat(
            F.lit(b"<html><head></head><nav>boilerplate</nav><body>"),
            F.encode(F.col("text"), "utf-8"),
            F.lit(b"</body><footer>footer</footer></html>"),
        ).alias("html"),
    )
    return extract_text(wrapped).select(
        "doc_id", F.col("text").alias("extracted")
    ).orderBy("doc_id")


def q_chunk_coverage(spark, sf):
    # kernel tiling invariant checked through SQL: per doc, chunk lengths
    # sum to the utf-8 byte length and offsets tile [0, n)
    chunks = chunk_documents(_docs(spark, sf), TINY, content_col="text")
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks_ge1"),
            F.sum("length").alias("n_bytes"),
            F.min("offset").alias("first_offset"),
            F.max(F.col("offset") + F.col("length")).alias("end_offset"),
        )
        .select("doc_id", "n_bytes", "first_offset", "end_offset")
        .orderBy("doc_id")
    )


def q_chunks(spark, sf):
    # kernel-backed: chunk fingerprints (rows-only check; values golden-pinned in tests)
    return chunk_documents(_docs(spark, sf), TINY, content_col="text").orderBy(
        "doc_id", "chunk_idx"
    )


def q_minhash_bands(spark, sf):
    # kernel-backed: banded MinHash of chunk shingles (rows-only check).
    # Round 7: chunk → shingle → MinHash fused into ONE Arrow UDF
    # (operators/minhash.chunk_minhash_signatures — bit-exact vs the
    # unfused composition, pinned in tests/test_signatures.py); fusing
    # skips the intermediate chunk-hash list column inside the worker.
    from fastcdc_rs_spark.operators.minhash import chunk_minhash_signatures

    signed = chunk_minhash_signatures(
        _docs(spark, sf), CFG.chunker(), k=CFG.shingle_k,
        n_perms=CFG.n_perms, bands=CFG.bands, rows=CFG.rows,
        seed=CFG.minhash_seed,
    )
    # posexplode_once: avoids the inferred size()>0 filter re-running the
    # signature UDF (fastcdc_rs_spark/functions/plan_safe.py)
    from fastcdc_rs_spark.functions.plan_safe import posexplode_once

    return posexplode_once(
        signed, "bands", "band_id", "band_hash", keep=["doc_id"]
    ).select("doc_id", "band_id", "band_hash").orderBy("doc_id", "band_id")


def q_simhash(spark, sf):
    # kernel-backed: 64-bit SimHash over chunk-unit hashes (rows-only
    # check); chunk → SimHash fused into one Arrow pass (round 7)
    from fastcdc_rs_spark.operators.simhash import chunk_simhash64

    return chunk_simhash64(_docs(spark, sf), CFG.chunker()).orderBy("doc_id")


def q_cdc_dedup_stats(spark, sf):
    # kernel-backed one-row CDC storage-dedup summary (rows-only check;
    # value parity vs the single-node kernel pinned in tests) — the
    # reference chunker's own use case: bytes saved by storing every
    # repeated content-defined chunk once
    from fastcdc_rs_spark.operators.chunk import cdc_dedup_stats

    return cdc_dedup_stats(_docs(spark, sf), TINY)


def q_dedup_clusters(spark, sf):
    # full pipeline; driver corpus has near-dup structure → non-trivial
    clusters, _, _ = near_dup_clusters(_docs(spark, sf), CFG)
    return clusters.orderBy("doc_id")


# Linear-permutation MinHash with EXACT cross-engine arithmetic: Spark
# decimal(38,0) / DuckDB HUGEINT mulmod with p = 2^61-1. 8 perms, 2 bands
# of 4 rows; the whole LSH candidate stage becomes oracle-checked (the
# production pipeline uses the faster splitmix64 family — same structure).
_P61 = 2305843009213693951
_PERMS = [
    (1099511628211, 104729),
    (2862933555777941757, 12345),
    (6364136223846793005, 1442695040888963407 % _P61),
    (3935559000370003845, 2691343689449507681 % _P61),
    (2685821657736338717, 97531),
    (1181783497276652981, 8191),
    (7046029254386353087, 131071),
    (9219741426852112993 % _P61, 524287),
]


def _lsh_sql_candidates(arrs):
    """(a, b) distinct LSH candidate pairs from the decimal-exact linear-
    permutation MinHash over a (doc_id, _gh array<long>) per-doc gram-hash
    frame (operators.dedup.token_ngram_hash_arrays) — the SQL-expressible
    twin of the production splitmix64 banding (same structure: signature →
    2×4 bands → bucket equi-join). Since round 7 the 8 per-perm minima are
    computed MAP-SIDE (``array_min`` over a per-doc transform) instead of
    a groupBy over the exploded gram table: identical values — min of the
    same mulmod image of the same distinct hash set — with the signature
    stage's corpus-wide exchange deleted (guide §2.4)."""
    dec = "decimal(38,0)"
    mins = [
        F.array_min(
            F.transform(
                "_gh",
                lambda h: (
                    (F.lit(a).cast(dec) * h.cast(dec) + F.lit(b).cast(dec))
                    % F.lit(_P61).cast(dec)
                ),
            )
        ).cast("long").alias(f"m{j}")
        for j, (a, b) in enumerate(_PERMS)
    ]
    sigs = arrs.select("doc_id", *mins)
    band0 = F.md5(F.concat_ws("_", *[F.col(f"m{j}").cast("string") for j in range(4)]))
    band1 = F.md5(F.concat_ws("_", *[F.col(f"m{j}").cast("string") for j in range(4, 8)]))
    from fastcdc_rs_spark.cache import register_cache

    # persist before the self-join: the aliased sides would otherwise
    # re-run the whole signature aggregation twice (no exchange reuse)
    bands = register_cache(
        sigs.select(
            "doc_id",
            F.posexplode(F.array(band0, band1)).alias("band_id", "band_hash"),
        ).persist()
    )
    left = bands.select(F.col("doc_id").alias("a"), "band_id", "band_hash")
    right = bands.select(F.col("doc_id").alias("b"), "band_id", "band_hash")
    return (
        left.join(right, ["band_id", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def q_minhash_lsh_sql(spark, sf):
    from fastcdc_rs_spark.operators.dedup import token_ngram_hash_arrays

    arrs = token_ngram_hash_arrays(_docs(spark, sf), n=3)
    return _lsh_sql_candidates(arrs).orderBy("a", "b")


def q_dedup_clusters_sql(spark, sf):
    # Flagship pipeline SHAPE end-to-end under a value-level oracle:
    # units → MinHash → LSH bands → candidate pairs → exact-Jaccard
    # verification → connected components, with every stage in the
    # SQL-expressible config (token-3-gram units, the decimal _PERMS
    # family, 2×4 bands, Jaccard >= 0.5, min-label CC). This is the
    # same operator chain as pipeline.near_dup_clusters — the production
    # path swaps in the C splitmix64 kernels — so the rows-only
    # `dedup_clusters` check now has a green end-to-end twin.
    # Verification mirrors operators/verify.py at scale: gram-set arrays
    # ship through the join only for candidate pairs, not all pairs.
    # Round 7: the per-doc gram-hash ARRAY frame feeds everything — the
    # signature minima are map-side array_min (no groupBy exchange), and
    # `sets` is the array frame itself (the old collect_list groupBy —
    # a full shuffle of the exploded gram table — reassembled per doc
    # what the map side already had as an array). The arrays frame is
    # NOT persisted (3 map-only evaluations; recompute of the
    # explode+hash measured cheaper than cache materialization — same
    # finding as ngram_jaccard_pairs); the banded-signature table inside
    # _lsh_sql_candidates IS (it feeds both self-join sides).
    from fastcdc_rs_spark.operators.dedup import token_ngram_hash_arrays

    docs = _docs(spark, sf)
    arrs = token_ngram_hash_arrays(docs, n=3)
    cand = _lsh_sql_candidates(arrs)
    sets = arrs.select(
        "doc_id",
        F.col("_gh").alias("gset"),
        F.size("_gh").alias("set_size"),
    )
    sa = sets.select(
        F.col("doc_id").alias("a"), F.col("gset").alias("gset_a"),
        F.col("set_size").alias("size_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("b"), F.col("gset").alias("gset_b"),
        F.col("set_size").alias("size_b"),
    )
    inter = F.size(F.array_intersect("gset_a", "gset_b"))
    edges = (
        cand.join(sa, "a").join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                inter.cast("double")
                / (F.col("size_a") + F.col("size_b") - inter).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("a", "b")
    )
    return connected_components(edges, vertices=docs.select("doc_id")).orderBy(
        "doc_id"
    )


def _simhash_sql_df(spark, sf):
    # SQL-expressible SimHash: bit-majority over md5-hashed token 3-grams
    # with exact integer bitwise ops (no float pow). The production kernel
    # (q_simhash) uses splitmix64 over chunk hashes — same structure.
    # Round 7: computed MAP-SIDE per doc from the distinct gram-hash array
    # (ones(b) = |{h : h & 2^b != 0}|, total = |set| — exactly the counts
    # the old grams×60-bit crossJoin aggregated after a 60x row blow-up
    # and two corpus-wide exchanges; guide §2.4). Identical values.
    from fastcdc_rs_spark.operators.dedup import token_ngram_hash_arrays

    arrs = token_ngram_hash_arrays(_docs(spark, sf), n=3)
    majority = F.expr(
        """aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, b) ->
             acc + IF(2 * size(filter(_gh,
                         h -> (h & shiftleft(CAST(1 AS BIGINT), b)) != 0))
                      > size(_gh),
                      shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT)))"""
    )
    return arrs.select("doc_id", majority.alias("simhash_sql"))


def q_simhash_sql(spark, sf):
    return _simhash_sql_df(spark, sf).orderBy("doc_id")


def q_simhash_hamming_pairs(spark, sf):
    # B7 end-to-end, oracle-checked: 4 x 15-bit Hamming bands over the
    # 60-bit SQL simhash (pigeonhole: distance <= 3 docs agree on >= 1
    # band), bucket equi-join for candidates, exact bit_count(XOR)
    # verification <= 3. Bands and distance are inline JVM expressions,
    # twinned in DuckDB.
    from fastcdc_rs_spark.cache import register_cache

    sigs = _simhash_sql_df(spark, sf)
    mask15 = (1 << 15) - 1
    bands = sigs.select(
        "doc_id",
        "simhash_sql",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash_sql"), b * 15).bitwiseAND(
                        F.lit(mask15)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    # persist: the Hamming self-join's aliased sides would re-run the
    # 60-bit per-bit majority aggregation twice otherwise
    bands = register_cache(bands.persist())
    left = bands.select(
        F.col("doc_id").alias("a"), F.col("simhash_sql").alias("sim_a"),
        "band_id", "band_val",
    )
    right = bands.select(
        F.col("doc_id").alias("b"), F.col("simhash_sql").alias("sim_b"),
        "band_id", "band_val",
    )
    return (
        left.join(right, ["band_id", "band_val"])
        .where(F.col("a") < F.col("b"))
        .select(
            "a", "b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= 3)
        .orderBy("a", "b")
    )


def _drain_then(fn):
    """Release the previous query's operator-registered persisted frames
    (cache.register_cache) before building the next plan: long-lived
    harnesses (the correctness driver, notebooks) call queries back-to-back
    and would otherwise accumulate cached band/gram tables for the whole
    session. Safe here: by the time query N+1 is *constructed*, query N's
    result has been collected."""
    import functools

    from fastcdc_rs_spark.cache import release_all

    @functools.wraps(fn)
    def wrapped(spark, sf):
        release_all()
        return fn(spark, sf)

    return wrapped


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _drain_then(fn) for name, fn in _QUERIES.items()}


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "exact_dedup_flags": q_exact_dedup_flags,
        "exact_dup_groups": q_exact_dup_groups,
        "token_stats": q_token_stats,
        "bpe_token_stats": q_bpe_token_stats,
        "quality_scores": q_quality_scores,
        "language_stats": q_language_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "langid": q_langid,
        "corpus_keep_mask": q_corpus_keep_mask,
        "vocabulary_topk": q_vocabulary_topk,
        "token_ngrams": q_token_ngrams,
        "ngram_jaccard": q_ngram_jaccard,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "ngram_cc": q_ngram_cc,
        "benchmark_contamination": q_benchmark_contamination,
        "stratified_sample": q_stratified_sample,
        "repetition_scores": q_repetition_scores,
        "duplicate_line_removal": q_duplicate_line_removal,
        "substring_pairs": q_substring_pairs,
        "substring_pairs_capped": q_substring_pairs_capped,
        "suffix_substring_pairs": q_suffix_substring_pairs,
        "event_sessions": q_event_sessions,
        "event_type_stats": q_event_type_stats,
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_customers_per_nation": q_top_customers_per_nation,
        "late_order_priority": q_late_order_priority,
        "customers_without_urgent_orders": q_customers_without_urgent_orders,
        "orders_rollup": q_orders_rollup,
        "customer_balance_quartiles": q_customer_balance_quartiles,
        "embedding_topk": q_embedding_topk,
        "embedding_topk_ivf": q_embedding_topk_ivf,
        "embedding_topk_ivf_sql": q_embedding_topk_ivf_sql,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_rhp": q_embedding_near_dups_rhp,
        "extracted_text": q_extracted_text,
        "chunk_coverage": q_chunk_coverage,
        "chunks": q_chunks,
        "minhash_bands": q_minhash_bands,
        "minhash_lsh_sql": q_minhash_lsh_sql,
        "simhash": q_simhash,
        "simhash_sql": q_simhash_sql,
        "simhash_hamming_pairs": q_simhash_hamming_pairs,
        "dedup_clusters": q_dedup_clusters,
        "cdc_dedup_stats": q_cdc_dedup_stats,
        "dedup_clusters_sql": q_dedup_clusters_sql,
}


# --------------------------------------------------------------------------
# DuckDB oracles
# --------------------------------------------------------------------------

_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

def _grams_sql(n: int, name: str = "grams") -> str:
    """DuckDB CTE for the distinct md5-hashed token ``n``-grams of the
    documents table — the oracle twin of operators.dedup.token_ngrams
    (docs with fewer than n tokens contribute their whole sequence)."""
    return f"""
{name} AS (
  SELECT DISTINCT doc_id, {_H.format(x='g')} AS ngram_hash
  FROM (
    SELECT doc_id,
           CASE WHEN len(toks) < {n} THEN array_to_string(toks, ' ')
                ELSE array_to_string(toks[i:i+{n - 1}], ' ') END AS g
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-{n - 1}, 1))) AS i)
  )
)"""


_GRAMS = _grams_sql(3)

_JACCARD_PAIRS = f"""
WITH {_GRAMS},
sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
inter AS (
  SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_common
  FROM grams ga JOIN grams gb USING (ngram_hash)
  WHERE ga.doc_id < gb.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT a, b,
         round(n_common::DOUBLE / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.a = sa.doc_id
  JOIN sizes sb ON inter.b = sb.doc_id
)
"""


def oracle_sql() -> dict[str, str]:
    h_text = _H.format(x="text")
    sql = {}

    sql["exact_dedup_flags"] = f"""
        WITH hashed AS (SELECT doc_id, {h_text} AS text_hash FROM documents),
        canon AS (SELECT text_hash, min(doc_id) AS canonical_id FROM hashed GROUP BY 1)
        SELECT h.doc_id, c.canonical_id, h.doc_id != c.canonical_id AS is_duplicate
        FROM hashed h JOIN canon c USING (text_hash)
        ORDER BY h.doc_id
    """

    sql["exact_dup_groups"] = f"""
        SELECT {h_text} AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_id
        FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY text_hash
    """

    sql["token_stats"] = """
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
               length(text) AS n_chars,
               round(CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
                 (length(text) - (length(text) - length(regexp_replace(text, '\\s', '', 'g'))))::DOUBLE
                 / len(string_split_regex(trim(text), '\\s+')) END, 6) AS avg_token_len
        FROM documents ORDER BY doc_id
    """

    from fastcdc_rs_spark.operators.textstats import BPE_SPLIT_PATTERN

    bpe_pat = BPE_SPLIT_PATTERN.replace("'", "''")  # SQL-literal escaping
    sql["bpe_token_stats"] = f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{bpe_pat}'))::INT AS n_bpe_tokens,
               len(regexp_extract_all(text, ' ?[A-Za-z]+'))::INT AS n_word_tokens,
               len(regexp_extract_all(text, ' ?[0-9]+'))::INT AS n_number_tokens
        FROM documents ORDER BY doc_id
    """

    sql["quality_scores"] = f"""
        SELECT doc_id,
          round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 6) AS punct_ratio,
          round(CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END, 6) AS digit_ratio,
          round(CASE WHEN n_chars > 0 THEN n_upper / n_chars ELSE 0.0 END, 6) AS upper_ratio,
          round(CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END, 6) AS stopword_ratio,
          round((
            (CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 1.0 ELSE 0.0 END) * 0.4
            + CASE WHEN (CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) >= 0.05 THEN 0.3 ELSE 0.0 END
            + CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.2 THEN 0.15 ELSE 0.0 END
            + CASE WHEN (CASE WHEN n_chars > 0 THEN n_digit / n_chars ELSE 0.0 END) <= 0.3 THEN 0.15 ELSE 0.0 END
          )::DOUBLE, 6) AS quality_score
        FROM (
          SELECT doc_id,
            length(text)::DOUBLE AS n_chars,
            length(regexp_replace(text, '[^.,;:!?''"]', '', 'g'))::DOUBLE AS n_punct,
            length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE AS n_digit,
            length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE AS n_upper,
            (CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE AS n_tok,
            (CASE WHEN length(text) > 0
                  THEN len(regexp_extract_all(text, '{_STOP}')) ELSE 0 END)::DOUBLE AS n_stop
          FROM documents
        ) ORDER BY doc_id
    """

    sql["language_stats"] = """
        SELECT lang, count(*) AS n_docs,
               round(avg(length(text)), 6) AS avg_chars,
               round(avg((CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END)::DOUBLE), 6) AS avg_tokens
        FROM documents GROUP BY lang ORDER BY lang
    """

    norm = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
    sql["doc_fingerprint"] = f"""
        SELECT doc_id, {_H.format(x=norm)} AS fingerprint
        FROM documents ORDER BY doc_id
    """

    from fastcdc_rs_spark.operators.textstats import EN_STOPWORD_DENSITY

    sql["langid"] = f"""
        SELECT doc_id,
          CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\\s+')) END) > 0
                AND len(regexp_extract_all(text, '{_STOP}'))::DOUBLE
                    / (CASE WHEN length(trim(text)) = 0 THEN 1
                       ELSE len(string_split_regex(trim(text), '\\s+')) END) >= {EN_STOPWORD_DENSITY}
               THEN 'en' ELSE 'other' END AS lang_guess
        FROM documents ORDER BY doc_id
    """

    # C4-style keep mask: quality CTE (same body as quality_scores, minus
    # its trailing ORDER BY) x rounded-stopword-density LID x exact-dup
    quality_body = sql["quality_scores"].rsplit("ORDER BY", 1)[0]
    sql["corpus_keep_mask"] = f"""
        WITH q AS ({quality_body}),
        hashed AS (SELECT doc_id, {h_text} AS text_hash FROM documents),
        canon AS (SELECT text_hash, min(doc_id) AS canonical_id
                  FROM hashed GROUP BY 1),
        flags AS (SELECT h.doc_id, h.doc_id != c.canonical_id AS is_duplicate
                  FROM hashed h JOIN canon c USING (text_hash))
        SELECT q.doc_id, q.quality_score,
               CASE WHEN q.stopword_ratio >= {EN_STOPWORD_DENSITY}
                    THEN 'en' ELSE 'other' END AS lang_guess,
               f.is_duplicate,
               (q.quality_score >= 0.7
                AND q.stopword_ratio >= {EN_STOPWORD_DENSITY}
                AND NOT f.is_duplicate) AS keep
        FROM q JOIN flags f USING (doc_id) ORDER BY q.doc_id
    """

    sql["vocabulary_topk"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\\s+')) AS token
          FROM documents
        ),
        agg AS (
          SELECT token, count(DISTINCT doc_id) AS df, count(*) AS total
          FROM toks WHERE token != '' GROUP BY token
        ),
        ranked AS (
          SELECT token, df, total,
                 row_number() OVER (ORDER BY df DESC, total DESC, token ASC)
                   AS rank
          FROM agg
        )
        SELECT token, df, total, rank FROM ranked WHERE rank <= 20
        ORDER BY rank
    """

    sql["token_ngrams"] = f"""
        WITH {_GRAMS}
        SELECT doc_id, ngram_hash FROM grams ORDER BY doc_id, ngram_hash
    """

    sql["ngram_jaccard"] = (
        _JACCARD_PAIRS + "SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5 ORDER BY a, b"
    )

    # df-capped twin: grams with document frequency > 8 leave the gram
    # universe before the join (both intersection and set sizes)
    sql["ngram_jaccard_capped"] = f"""
        WITH {_GRAMS},
        kept AS (
          SELECT g.doc_id, g.ngram_hash FROM grams g
          JOIN (SELECT ngram_hash FROM grams
                GROUP BY ngram_hash HAVING count(*) <= 8) d USING (ngram_hash)
        ),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM kept GROUP BY doc_id),
        inter AS (
          SELECT ga.doc_id AS a, gb.doc_id AS b, count(*) AS n_common
          FROM kept ga JOIN kept gb USING (ngram_hash)
          WHERE ga.doc_id < gb.doc_id
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT a, b,
                 round(n_common::DOUBLE / (sa.set_size + sb.set_size - n_common), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON inter.a = sa.doc_id
          JOIN sizes sb ON inter.b = sb.doc_id
        )
        SELECT a, b, jaccard FROM pairs WHERE jaccard >= 0.5 ORDER BY a, b
    """

    sql["benchmark_contamination"] = f"""
        WITH {_grams_sql(5, "g5").lstrip()},
        bg AS (SELECT DISTINCT ngram_hash FROM g5 WHERE doc_id < 20),
        hits AS (
          SELECT g5.doc_id, count(*) AS n
          FROM g5 JOIN bg USING (ngram_hash) GROUP BY g5.doc_id
        )
        SELECT d.doc_id,
               coalesce(h.n, 0) AS n_hits,
               coalesce(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        ORDER BY d.doc_id
    """

    # integer cutoffs (rate * 1e6, pre-rounded) so the keep boundary is
    # bit-identical to Spark's — see operators/mixing.stratified_sample
    sql["stratified_sample"] = """
        WITH r(lang, cut) AS (
          VALUES ('en', 1000000), ('de', 500000), ('fr', 250000),
                 ('es', 750000), ('zh', 100000)
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d LEFT JOIN r ON d.lang = r.lang
        WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':7'), 1, 15))::BIGINT
              % 1000000 < coalesce(r.cut, 1000000)
        ORDER BY d.doc_id
    """

    # corpus-wide duplicate-"line" removal with sep=' ' (lines == tokens);
    # canonical occurrence = min (doc_id, pos) per line hash, exactly the
    # operator's min(struct) aggregate; rebuild preserves position order
    sql["duplicate_line_removal"] = f"""
        WITH lines AS (
          SELECT doc_id, i - 1 AS pos, toks[i] AS line,
                 {_H.format(x='toks[i]')} AS h
          FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
               LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
        ),
        kept AS (
          SELECT doc_id, pos, line FROM (
            SELECT doc_id, pos, line,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
            FROM lines
          ) WHERE rn = 1
        ),
        rebuilt AS (
          SELECT doc_id, count(*) AS n_kept,
                 string_agg(line, ' ' ORDER BY pos) AS cleaned_text
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               len(str_split(d.text, ' '))::BIGINT AS n_lines,
               coalesce(r.n_kept, 0)::BIGINT AS n_kept,
               coalesce(r.cleaned_text, '') AS cleaned_text
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
        ORDER BY d.doc_id
    """

    # token 2-gram OCCURRENCES (no DISTINCT — repetition needs counts)
    sql["repetition_scores"] = f"""
        WITH occ AS (
          SELECT doc_id, {_H.format(x='g')} AS g
          FROM (
            SELECT doc_id,
                   CASE WHEN len(toks) < 2 THEN array_to_string(toks, ' ')
                        ELSE array_to_string(toks[i:i+1], ' ') END AS g
            FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
                 LATERAL (SELECT unnest(generate_series(1, greatest(len(toks)-1, 1))) AS i)
          )
        ),
        pg AS (SELECT doc_id, g, count(*) AS c FROM occ GROUP BY doc_id, g)
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               round(max(c)::DOUBLE / sum(c), 6) AS top_gram_frac,
               round((sum(c) - count(*))::DOUBLE / sum(c), 6) AS dup_gram_frac
        FROM pg GROUP BY doc_id ORDER BY doc_id
    """

    sql["ngram_cc"] = (
        "WITH RECURSIVE "
        + _JACCARD_PAIRS.replace("WITH ", "", 1)
        + f""",
        edges AS (
          SELECT a AS src, b AS dst FROM pairs WHERE jaccard >= 0.5
          UNION SELECT b, a FROM pairs WHERE jaccard >= 0.5
        ),
        reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
        )
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node ORDER BY doc_id
        """
    )

    # session_id: the windowed sum widens to HUGEINT in DuckDB → cast back
    # to BIGINT so the typed hash matches Spark's LongType; the sess window
    # orders by full ts (same as Spark's w_rows), not truncated ts_sec.
    sql["event_sessions"] = """
        WITH marked AS (
          SELECT user_id, ts,
                 floor(epoch(ts))::BIGINT AS ts_sec,
                 CASE WHEN lag(floor(epoch(ts))::BIGINT) OVER w IS NULL
                       OR floor(epoch(ts))::BIGINT - lag(floor(epoch(ts))::BIGINT) OVER w >= 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
          SELECT user_id, ts_sec,
                 CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM marked
        )
        SELECT user_id, session_id,
               min(ts_sec) AS session_start,
               max(ts_sec) AS session_end,
               count(*) AS n_events
        FROM sess GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """

    # Relational TPC-H-shape oracles. All monetary sums run in DECIMAL on
    # both engines (the driver data is exact 2-decimal doubles; leaf casts
    # to decimal(10,2)/decimal(3,2) are unambiguous), so the sums are
    # bit-identical; only the final scalar converts to DOUBLE. Windowed /
    # summed integers are cast back to BIGINT (DuckDB widens to HUGEINT).
    sql["pricing_summary"] = """
        WITH base AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS BIGINT) AS qty,
                 CAST(l_extendedprice AS DECIMAL(10,2)) AS ext,
                 CAST(l_discount AS DECIMAL(3,2)) AS disc,
                 CAST(l_tax AS DECIMAL(3,2)) AS tax
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        ),
        agg AS (
          SELECT l_returnflag, l_linestatus,
                 CAST(sum(qty) AS BIGINT) AS sum_qty,
                 sum(ext) AS sum_base,
                 sum(ext * (1.00 - disc)) AS sum_disc,
                 sum((ext * (1.00 - disc)) * (1.00 + tax)) AS sum_charge,
                 sum(disc) AS sum_discount,
                 count(*) AS count_order
          FROM base GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus, sum_qty,
               CAST(sum_base AS DOUBLE) AS sum_base_price,
               CAST(sum_disc AS DOUBLE) AS sum_disc_price,
               CAST(sum_charge AS DOUBLE) AS sum_charge,
               round(CAST(sum_qty AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_qty,
               round(CAST(sum_base AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_price,
               round(CAST(sum_discount AS DOUBLE) / CAST(count_order AS DOUBLE), 6) AS avg_disc,
               count_order
        FROM agg ORDER BY l_returnflag, l_linestatus
    """

    sql["revenue_by_nation"] = """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(10,2))
                        * (1.00 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY n_name
    """

    sql["top_customers_per_nation"] = """
        WITH per_cust AS (
          SELECT o_custkey,
                 sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev,
                 count(*) AS n_orders
          FROM orders GROUP BY o_custkey
        ),
        ranked AS (
          SELECT n_name, c_custkey, CAST(rev AS DOUBLE) AS revenue, n_orders,
                 row_number() OVER (PARTITION BY n_name
                                    ORDER BY rev DESC, c_custkey ASC) AS rank
          FROM per_cust
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
        )
        SELECT n_name, c_custkey, revenue, n_orders, rank
        FROM ranked WHERE rank <= 3 ORDER BY n_name, rank
    """

    sql["orders_rollup"] = """
        SELECT EXTRACT(year FROM o_orderdate)::INT AS order_year,
               o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM orders
        GROUP BY ROLLUP (order_year, o_orderpriority)
        ORDER BY order_year NULLS FIRST, o_orderpriority NULLS FIRST
    """

    sql["customer_balance_quartiles"] = """
        WITH per_cust AS (
          SELECT n_name, c_custkey,
                 CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
                 ntile(4) OVER (PARTITION BY n_name
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS quartile
          FROM customer JOIN nation ON c_nationkey = n_nationkey
        )
        SELECT n_name, quartile, count(*) AS n_customers,
               CAST(sum(bal) AS DOUBLE) AS total_balance
        FROM per_cust GROUP BY n_name, quartile
        ORDER BY n_name, quartile
    """

    sql["late_order_priority"] = """
        SELECT o_orderpriority, count(*) AS n_late_orders
        FROM orders
        WHERE EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        )
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """

    sql["customers_without_urgent_orders"] = """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
        )
        ORDER BY c_custkey
    """

    sql["event_type_stats"] = """
        SELECT event_type,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               round(avg(value), 6) AS avg_value,
               round(avg(json_extract(props, '$.k')::DOUBLE), 6) AS avg_k
        FROM events GROUP BY event_type ORDER BY event_type
    """

    # exact substring-duplicate pairs: docs share a >=40-char substring iff
    # they share a positional char-40-gram. Same SQL twin for both the
    # inverted-index query and the suffix-array query (they compute the
    # same set by construction; see q_suffix_substring_pairs).
    substr_pairs_sql = f"""
        WITH cg AS (
          SELECT DISTINCT doc_id, {_H.format(x='g')} AS gram_hash
          FROM (
            SELECT doc_id, substr(text, i, 40) AS g
            FROM (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
                 LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
          )
        )
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM cg l JOIN cg r USING (gram_hash)
        WHERE l.doc_id < r.doc_id
        ORDER BY a, b
    """
    sql["substring_pairs"] = substr_pairs_sql
    sql["suffix_substring_pairs"] = substr_pairs_sql

    # production-default twin: buckets over the df cap drop before pair
    # expansion (HAVING on the gram's document frequency)
    sql["substring_pairs_capped"] = f"""
        WITH cg AS (
          SELECT DISTINCT doc_id, {_H.format(x='g')} AS gram_hash
          FROM (
            SELECT doc_id, substr(text, i, 40) AS g
            FROM (SELECT doc_id, text FROM documents WHERE length(text) >= 40),
                 LATERAL (SELECT unnest(generate_series(1, length(text) - 39)) AS i)
          )
        ),
        kept AS (
          SELECT cg.doc_id, cg.gram_hash FROM cg
          JOIN (SELECT gram_hash FROM cg
                GROUP BY gram_hash HAVING count(*) <= 8) k USING (gram_hash)
        )
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM kept l JOIN kept r USING (gram_hash)
        WHERE l.doc_id < r.doc_id
        ORDER BY a, b
    """

    cos = """
      round(
        CASE WHEN sqrt(qq.n2) > 0 AND sqrt(vv.n2) > 0
             THEN dp.d / (sqrt(qq.n2) * sqrt(vv.n2)) ELSE 0.0 END, 4)
    """
    sql["embedding_topk"] = f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        pairs AS (
          SELECT q.query_id, e.vec_id, q.qvec, e.embedding AS vvec
          FROM embeddings e CROSS JOIN q
        ),
        scored AS (
          SELECT query_id, vec_id, {cos} AS cosine
          FROM pairs,
          LATERAL (SELECT sum(x.a::DOUBLE * x.b::DOUBLE) AS d
                   FROM (SELECT unnest(qvec) AS a, unnest(vvec) AS b) x) dp,
          LATERAL (SELECT sum(y.a::DOUBLE * y.a::DOUBLE) AS n2
                   FROM (SELECT unnest(qvec) AS a) y) qq,
          LATERAL (SELECT sum(z.b::DOUBLE * z.b::DOUBLE) AS n2
                   FROM (SELECT unnest(vvec) AS b) z) vv
        ),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """

    # IVF with pinned centroids: full path in SQL — normalize the first
    # 16 embeddings as centroids, assign each vector to its argmax-dot
    # list, probe top-4 lists per query, score only probed candidates.
    sql["embedding_topk_ivf_sql"] = f"""
        WITH cent AS (
          SELECT vec_id AS list_id,
                 list_transform(embedding, x -> x::DOUBLE / nrm) AS c
          FROM (
            SELECT vec_id, embedding,
                   sqrt((SELECT sum(t.v::DOUBLE * t.v::DOUBLE)
                         FROM (SELECT unnest(embedding) AS v) t)) AS nrm
            FROM embeddings WHERE vec_id < 16
          )
        ),
        dots AS (
          SELECT e.vec_id, c.list_id, round(dp.d, 6) AS d
          FROM embeddings e CROSS JOIN cent c,
          LATERAL (SELECT sum(p.a::DOUBLE * p.b) AS d
                   FROM (SELECT unnest(e.embedding) AS a, unnest(c.c) AS b) p) dp
        ),
        assign AS (
          SELECT vec_id, list_id FROM (
            SELECT vec_id, list_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, list_id ASC) AS rn
            FROM dots
          ) WHERE rn = 1
        ),
        probes AS (
          SELECT vec_id AS query_id, list_id FROM (
            SELECT vec_id, list_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d DESC, list_id ASC) AS rn
            FROM dots WHERE vec_id < 5
          ) WHERE rn <= 4
        ),
        cand AS (
          SELECT p.query_id, a.vec_id
          FROM probes p JOIN assign a USING (list_id)
        ),
        pairs AS (
          SELECT c2.query_id, c2.vec_id, q.embedding AS qvec, v.embedding AS vvec
          FROM cand c2
          JOIN embeddings q ON q.vec_id = c2.query_id
          JOIN embeddings v ON v.vec_id = c2.vec_id
        ),
        scored AS (
          SELECT query_id, vec_id, {cos} AS cosine
          FROM pairs,
          LATERAL (SELECT sum(x.a::DOUBLE * x.b::DOUBLE) AS d
                   FROM (SELECT unnest(qvec) AS a, unnest(vvec) AS b) x) dp,
          LATERAL (SELECT sum(y.a::DOUBLE * y.a::DOUBLE) AS n2
                   FROM (SELECT unnest(qvec) AS a) y) qq,
          LATERAL (SELECT sum(z.b::DOUBLE * z.b::DOUBLE) AS n2
                   FROM (SELECT unnest(vvec) AS b) z) vv
        ),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
    """

    sql["embedding_near_dups"] = f"""
        WITH pairs AS (
          SELECT ea.vec_id AS a, eb.vec_id AS b, ea.embedding AS qvec, eb.embedding AS vvec
          FROM embeddings ea JOIN embeddings eb ON ea.vec_id < eb.vec_id
        ),
        scored AS (
          SELECT a, b, {cos} AS cosine
          FROM pairs,
          LATERAL (SELECT sum(x.a::DOUBLE * x.b::DOUBLE) AS d
                   FROM (SELECT unnest(qvec) AS a, unnest(vvec) AS b) x) dp,
          LATERAL (SELECT sum(y.a::DOUBLE * y.a::DOUBLE) AS n2
                   FROM (SELECT unnest(qvec) AS a) y) qq,
          LATERAL (SELECT sum(z.b::DOUBLE * z.b::DOUBLE) AS n2
                   FROM (SELECT unnest(vvec) AS b) z) vv
        )
        SELECT a, b, cosine FROM scored WHERE cosine >= 0.45 ORDER BY a, b
    """

    # banded RHP twin: planes = embeddings of vec_id 0..7; plane pid
    # contributes bit (pid % 2) of band (pid // 2) — matches
    # rhp_band_keys's b*rows_per_band+r layout exactly.
    sql["embedding_near_dups_rhp"] = f"""
        WITH planes AS (
          SELECT vec_id AS pid, embedding AS pvec
          FROM embeddings WHERE vec_id < 8
        ),
        proj AS (
          SELECT e.vec_id, p.pid, round(dp.d, 6) AS d
          FROM embeddings e CROSS JOIN planes p,
          LATERAL (SELECT sum(x.a::DOUBLE * x.b::DOUBLE) AS d
                   FROM (SELECT unnest(e.embedding) AS a, unnest(p.pvec) AS b) x) dp
        ),
        keys AS (
          SELECT vec_id, pid // 2 AS band_id,
                 sum(CASE WHEN d >= 0 THEN 1 << (pid % 2) ELSE 0 END) AS band_key
          FROM proj GROUP BY vec_id, pid // 2
        ),
        cand AS (
          SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM keys l JOIN keys r
            ON l.band_id = r.band_id AND l.band_key = r.band_key
          WHERE l.vec_id < r.vec_id
        ),
        pairs AS (
          SELECT c.a, c.b, ea.embedding AS qvec, eb.embedding AS vvec
          FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.a
          JOIN embeddings eb ON eb.vec_id = c.b
        ),
        scored AS (
          SELECT a, b, {cos} AS cosine
          FROM pairs,
          LATERAL (SELECT sum(x.a::DOUBLE * x.b::DOUBLE) AS d
                   FROM (SELECT unnest(qvec) AS a, unnest(vvec) AS b) x) dp,
          LATERAL (SELECT sum(y.a::DOUBLE * y.a::DOUBLE) AS n2
                   FROM (SELECT unnest(qvec) AS a) y) qq,
          LATERAL (SELECT sum(z.b::DOUBLE * z.b::DOUBLE) AS n2
                   FROM (SELECT unnest(vvec) AS b) z) vv
        )
        SELECT a, b, cosine FROM scored WHERE cosine >= 0.45 ORDER BY a, b
    """

    sql["extracted_text"] = """
        SELECT doc_id, text AS extracted FROM documents ORDER BY doc_id
    """

    mins_sql = ",\n          ".join(
        f"CAST(min((h::HUGEINT * {a}::HUGEINT + {b}::HUGEINT) % {_P61}::HUGEINT) AS BIGINT) AS m{j}"
        for j, (a, b) in enumerate(_PERMS)
    )
    sql["minhash_lsh_sql"] = f"""
        WITH {_GRAMS},
        sigs AS (
          SELECT doc_id, {mins_sql}
          FROM (SELECT doc_id, ngram_hash AS h FROM grams)
          GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band_id,
                 md5(m0::VARCHAR || '_' || m1::VARCHAR || '_' || m2::VARCHAR || '_' || m3::VARCHAR) AS band_hash
          FROM sigs
          UNION ALL
          SELECT doc_id, 1,
                 md5(m4::VARCHAR || '_' || m5::VARCHAR || '_' || m6::VARCHAR || '_' || m7::VARCHAR)
          FROM sigs
        )
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
        FROM bands l JOIN bands r USING (band_id, band_hash)
        WHERE l.doc_id < r.doc_id
        ORDER BY a, b
    """

    # Flagship twin: LSH candidates (same sigs/bands as minhash_lsh_sql)
    # → candidate-restricted exact Jaccard → recursive-CTE min-label CC
    # over all documents (singletons map to themselves).
    sql["dedup_clusters_sql"] = f"""
        WITH RECURSIVE {_GRAMS.lstrip()},
        sigs AS (
          SELECT doc_id, {mins_sql}
          FROM (SELECT doc_id, ngram_hash AS h FROM grams)
          GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, 0 AS band_id,
                 md5(m0::VARCHAR || '_' || m1::VARCHAR || '_' || m2::VARCHAR || '_' || m3::VARCHAR) AS band_hash
          FROM sigs
          UNION ALL
          SELECT doc_id, 1,
                 md5(m4::VARCHAR || '_' || m5::VARCHAR || '_' || m6::VARCHAR || '_' || m7::VARCHAR)
          FROM sigs
        ),
        cand AS (
          SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bands l JOIN bands r USING (band_id, band_hash)
          WHERE l.doc_id < r.doc_id
        ),
        sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
        inter AS (
          SELECT c.a, c.b, count(*) AS n_common
          FROM cand c
          JOIN grams ga ON ga.doc_id = c.a
          JOIN grams gb ON gb.doc_id = c.b AND gb.ngram_hash = ga.ngram_hash
          GROUP BY c.a, c.b
        ),
        verified AS (
          SELECT a, b
          FROM inter
          JOIN sizes sa ON inter.a = sa.doc_id
          JOIN sizes sb ON inter.b = sb.doc_id
          WHERE round(n_common::DOUBLE / (sa.set_size + sb.set_size - n_common), 6) >= 0.5
        ),
        edges AS (
          SELECT a AS src, b AS dst FROM verified
          UNION SELECT b, a FROM verified
        ),
        reach(node, r) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
        )
        SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node ORDER BY doc_id
    """

    sql["simhash_sql"] = f"""
        WITH {_GRAMS},
        bits AS (SELECT b AS bit, (1::BIGINT << b) AS mask FROM generate_series(0, 59) t(b)),
        per_bit AS (
          SELECT doc_id, bit, mask,
                 sum(CASE WHEN (ngram_hash & mask) != 0 THEN 1 ELSE 0 END) AS ones,
                 count(*) AS total
          FROM grams CROSS JOIN bits
          GROUP BY doc_id, bit, mask
        )
        SELECT doc_id,
               sum(CASE WHEN 2 * ones > total THEN mask ELSE 0 END)::BIGINT AS simhash_sql
        FROM per_bit GROUP BY doc_id ORDER BY doc_id
    """

    sql["simhash_hamming_pairs"] = f"""
        WITH {_GRAMS},
        bits AS (SELECT b AS bit, (1::BIGINT << b) AS mask FROM generate_series(0, 59) t(b)),
        per_bit AS (
          SELECT doc_id, bit, mask,
                 sum(CASE WHEN (ngram_hash & mask) != 0 THEN 1 ELSE 0 END) AS ones,
                 count(*) AS total
          FROM grams CROSS JOIN bits
          GROUP BY doc_id, bit, mask
        ),
        sigs AS (
          SELECT doc_id,
                 sum(CASE WHEN 2 * ones > total THEN mask ELSE 0 END)::BIGINT AS sim
          FROM per_bit GROUP BY doc_id
        ),
        bands AS (
          SELECT doc_id, sim, b.band_id,
                 (sim >> (b.band_id * 15)) & 32767 AS band_val
          FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band_id) b
        )
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
               bit_count(xor(l.sim, r.sim))::INT AS hamming
        FROM bands l JOIN bands r USING (band_id, band_val)
        WHERE l.doc_id < r.doc_id AND bit_count(xor(l.sim, r.sim)) <= 3
        ORDER BY a, b
    """

    sql["chunk_coverage"] = """
        SELECT doc_id,
               strlen(text)::BIGINT AS n_bytes,
               0::BIGINT AS first_offset,
               strlen(text)::BIGINT AS end_offset
        FROM documents ORDER BY doc_id
    """

    # chunks / minhash_bands / simhash / dedup_clusters: kernel-backed —
    # intentionally no SQL twin (rows-only check; see module docstring).
    return sql
