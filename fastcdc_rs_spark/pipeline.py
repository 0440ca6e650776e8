"""End-to-end near-duplicate detection pipeline (SURVEY.md §7 step 4).

documents → FastCDC chunk fingerprints → k-gram shingles → MinHash → LSH
band buckets → candidate pairs → exact-Jaccard verification → connected
components → ``clusters(doc_id, cluster_id)``.

Design: all *hashing* (chunk gear hashes, shingle folds, MinHash, band
keys) is shared numpy kernel code (kernel/), so the single-node recall
oracle reproduces the Spark results bit-for-bit; all *data movement*
(explode, bucket groupBy, pair joins, iterative CC) is declarative
DataFrame code that Catalyst plans — shuffles only on band buckets, pair
dedup, verification joins, and CC rounds.

Unit-hash modes:
* ``chunk`` — units are FastCDC chunk gear hashes (CDC-native: boundaries
  resynchronize after edits, so shingles survive insertions);
* ``token``/``char`` — units are xxhash64 of text tokens/characters
  (JVM-side; for corpora whose docs are smaller than a chunk).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .cache import register_cache, scope
from .kernel import ChunkerConfig
from .operators.components import connected_components
from .operators.lsh import candidate_pairs
from .operators.minhash import minhash_signatures
from .operators.verify import verify_pairs

__all__ = ["DedupConfig", "dedup_pipeline", "near_dup_clusters", "unit_hashes"]


@dataclass(frozen=True)
class DedupConfig:
    # chunker (reference param convention min=avg/4, max=avg*4)
    chunk_min: int = 64
    chunk_avg: int = 256
    chunk_max: int = 1024
    chunk_level: int = 1
    chunk_seed: int = 0
    # unit-hash mode: "chunk" (CDC-native), "token", or "char".
    # chunk mode with k=1 measures chunk-set overlap (CDC dedup semantics:
    # localized edits touch few chunks); token mode with k=5 is the robust
    # choice for small texts with scattered edits.
    shingle_mode: str = "chunk"
    shingle_k: int = 1
    # minhash / LSH: b=32, r=4 puts the s-curve midpoint near J~0.55 with
    # P(candidate | J=0.65) > 0.995 — recall headroom above the verify
    # threshold, with exact verification filtering the extra candidates.
    n_perms: int = 128
    bands: int = 32
    rows: int = 4
    minhash_seed: int = 1
    # candidate generators: "minhash", "simhash", or "both" (union of pairs)
    candidates: str = "minhash"
    simhash_bands_n: int = 4  # 4 x 16-bit Hamming bands (recall for dist<=3)
    # verification + skew
    threshold: float = 0.6
    bucket_cap: int = 64
    # a-side pair-degree above which a hub doc's shingle array is
    # broadcast to its pairs instead of shuffled per pair (star pairs
    # from capped buckets all share a = bucket_min); None disables
    verify_hub_cap: int | None = 256
    # hub PAIR shape ladder (see operators/verify.py): double-broadcast
    # at or under bcast_max; b-shuffle against a broadcast-b-id-filtered
    # array side up to bids_bcast_max; unfiltered b-shuffle above
    verify_hub_pair_bcast_max: int = 64_000
    verify_hub_bids_bcast_max: int = 4_000_000

    def chunker(self) -> ChunkerConfig:
        return ChunkerConfig(
            self.chunk_min, self.chunk_avg, self.chunk_max,
            self.chunk_level, self.chunk_seed,
        )


def unit_hashes(docs: DataFrame, cfg: DedupConfig,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, unit_hashes array<long>) under the configured mode."""
    if cfg.shingle_mode == "chunk":
        from .operators.chunk import chunk_hashes_udf

        return docs.select(
            id_col, chunk_hashes_udf(cfg.chunker())(F.col(text_col)).alias("unit_hashes")
        )
    if cfg.shingle_mode == "token":
        arr = F.split(F.trim(F.col(text_col)), r"\s+")
    elif cfg.shingle_mode == "char":
        arr = F.split(F.col(text_col), "")
    else:
        raise ValueError(f"unknown shingle mode {cfg.shingle_mode!r}")
    return docs.select(
        id_col, F.transform(arr, lambda t: F.xxhash64(t)).alias("unit_hashes")
    )


def near_dup_clusters(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    collect_metrics: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the full pipeline; returns (clusters, verified_pairs, metrics).

    clusters: (doc_id, cluster_id) for every input doc (singletons included).
    verified_pairs: (a, b, jaccard).
    metrics: single-row bucket statistics from candidate generation. With
    ``collect_metrics=True`` the B14 metrics ride the pipeline's own
    actions via ``Observation`` nodes (docs, units/doc, candidate and
    verified pair counts — zero extra passes) plus CC round counters, and
    ``metrics`` becomes a fully-collected one-row frame whose values are
    also attached as ``metrics._graft_summary`` (a plain dict).
    """
    from pyspark.sql import Observation

    obs_units = obs_pairs = obs_verified = None
    fused = cfg.shingle_mode == "chunk" and cfg.candidates == "minhash"
    # every intermediate persisted below is released when this scope
    # exits: once CC has materialized its labels, or on any exception
    with scope() as keep:
        if fused:
            # chunk → shingle → MinHash in ONE Arrow UDF (round 7). The
            # unfused shape also runs in one ArrowEvalPython node (Spark
            # chains the two UDFs in one worker); fusing skips building
            # and re-reading the intermediate chunk-hash list column, and
            # the units observation rides the fused frame's n_units
            # column. Bit-exact same kernels, same values.
            from .operators.minhash import chunk_minhash_signatures

            signed = chunk_minhash_signatures(
                docs, cfg.chunker(), k=cfg.shingle_k, n_perms=cfg.n_perms,
                bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
                text_col=text_col, id_col=id_col,
            )
            if collect_metrics:
                obs_units = Observation("units")
                signed = signed.observe(
                    obs_units,
                    F.count(F.lit(1)).alias("docs"),
                    F.sum("n_units").alias("units_total"),
                )
            signed = signed.drop("n_units")
        else:
            units = unit_hashes(docs, cfg, id_col, text_col)
            if collect_metrics:
                obs_units = Observation("units")
                units = units.observe(
                    obs_units,
                    F.count(F.lit(1)).alias("docs"),
                    F.sum(F.size("unit_hashes")).alias("units_total"),
                )
            if cfg.candidates != "minhash":
                # simhash path consumes units again — avoid re-running the
                # chunk UDF. Filled EAGERLY like every shared cache here: the
                # minhash and simhash band tables union under ONE candidate
                # job, so AQE submits both consumers concurrently and a cold
                # cache would pay the per-block recompute/lock contention tax
                # (see `signed`).
                units = register_cache(units.persist())
                units.count()
            signed = minhash_signatures(
                units, k=cfg.shingle_k, n_perms=cfg.n_perms,
                bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed, id_col=id_col,
            )
        # shingle sets feed both banding and verification → materialize once,
        # EAGERLY: downstream, AQE submits the band-table shuffle and the two
        # size-prefilter broadcast futures concurrently, and on a cold cache
        # those stages contend for the same uncomputed partitions (a task
        # either recomputes a block or blocks on its cache-write lock —
        # both burn a core slot). Measured at 800k docs/4 cores as pairs of
        # identical ~20 s jobs where the work runs once in ~6 s. One count()
        # fills the cache at full parallelism; every consumer then reads
        # blocks. At 1 core the contention cannot express (tasks serialize,
        # later stages find the blocks), so this was a pure scale-efficiency
        # leak, not a single-core throughput bug.
        signed = register_cache(signed.persist())
        signed.count()

        if cfg.candidates in ("minhash", "both"):
            bands_df = signed.select(
                id_col, F.posexplode("bands").alias("band_id", "band_hash")
            )
        else:
            bands_df = None
        if cfg.candidates in ("simhash", "both"):
            from .operators.simhash import simhash64, simhash_bands

            sim = simhash64(units, seed=cfg.minhash_seed, shingles_col="unit_hashes")
            sim_bands = simhash_bands(sim, n_bands=cfg.simhash_bands_n, id_col=id_col)
            # offset band ids so minhash and simhash buckets never collide
            sim_bands = sim_bands.withColumn("band_id", F.col("band_id") + F.lit(1000))
            bands_df = sim_bands if bands_df is None else bands_df.unionByName(sim_bands)

        pairs, metrics = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap, id_col=id_col)
        # a local one-row frame (no job): its pair_bound caps the verified
        # edge count, so CC can pick its driver path without a count probe
        bucket_row = metrics.first().asDict()
        if collect_metrics:
            obs_pairs = Observation("pairs")
            pairs = pairs.observe(
                obs_pairs, F.count(F.lit(1)).alias("candidate_pairs")
            )
        shingled = signed.select(id_col, "shingles")
        verified = verify_pairs(
            pairs, shingled, threshold=cfg.threshold, id_col=id_col,
            hub_degree_cap=cfg.verify_hub_cap,
            hub_pair_bcast_max=cfg.verify_hub_pair_bcast_max,
            hub_bids_bcast_max=cfg.verify_hub_bids_bcast_max,
        )
        if collect_metrics:
            obs_verified = Observation("verified")
            verified = verified.observe(
                obs_verified, F.count(F.lit(1)).alias("verified_pairs")
            )
        # verified persists so post-CC consumers never recompute it from
        # the released upstream caches; it is the one frame kept for the
        # caller (small: the edge set). It stays registered, so harnesses
        # drain it with release_all before a later identical plan could
        # silently hit it (Spark's cache manager matches analyzed plans).
        verified = keep(verified.persist())

        clusters = connected_components(
            verified, vertices=docs.select(id_col), id_col=id_col,
            edge_bound=bucket_row["pair_bound"],
        )
    if collect_metrics:
        import json

        import pandas as pd

        hist = bucket_row.pop("bucket_hist", None) or {}
        summary = {
            **{k: int(v) for k, v in obs_units.get.items()},
            **{k: int(v) for k, v in obs_pairs.get.items()},
            **{k: int(v) for k, v in obs_verified.get.items()},
            **{k: int(v or 0) for k, v in bucket_row.items()},
            **clusters._graft_cc_stats,
        }
        summary["units_per_doc"] = round(
            summary["units_total"] / max(summary["docs"], 1), 3
        )
        summary["bucket_hist"] = json.dumps(
            {str(k): int(v) for k, v in sorted(hist.items())}
        )
        # from pandas through Arrow: a LocalRelation, so the caller's
        # .first() runs no job (a list-of-tuples frame is a LogicalRDD
        # whose every .first() costs two jobs through a Python worker)
        metrics = docs.sparkSession.createDataFrame(pd.DataFrame([summary]))
        # read by bench.py for its pipeline metrics record
        metrics._graft_summary = summary
    return clusters, verified, metrics


def dedup_pipeline(docs: DataFrame, cfg: DedupConfig = DedupConfig(),
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Convenience: clusters only."""
    clusters, _, _ = near_dup_clusters(docs, cfg, id_col, text_col)
    return clusters
