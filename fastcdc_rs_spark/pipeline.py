"""End-to-end near-duplicate detection pipeline (SURVEY.md §7 step 4).

documents → FastCDC chunk fingerprints → k-gram shingles → MinHash → LSH
band buckets → candidate pairs → exact-Jaccard verification → connected
components → ``clusters(doc_id, cluster_id)``.

The stage sequence is defined once, in ``run_stages``: ``signatures`` →
``pairs`` → ``verified`` → ``clusters``. Every stage goes through a
caller's ``materialize(name, build) -> DataFrame``:
``near_dup_clusters`` keeps stages in memory inside one
``cache.scope()``, and ``jobs/dedup_job.py`` passes
``CheckpointedRun.stage``, which writes each stage and resumes it from
its manifest. Both sign, band, verify and cluster the same way.

Design: all *hashing* (chunk gear hashes, shingle folds, MinHash, band
keys) is shared numpy kernel code (kernel/), so the single-node recall
oracle reproduces the Spark results bit-for-bit; all *data movement*
(explode, bucket groupBy, pair joins, iterative CC) is declarative
DataFrame code that Catalyst plans — shuffles only on band buckets, pair
dedup, verification joins, and CC rounds.

Units are FastCDC chunk gear hashes (CDC-native: boundaries
resynchronize after edits, so shingles survive insertions).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation

from .cache import register_cache, scope
from .kernel import ChunkerConfig
from .operators.components import connected_components
from .operators.lsh import bucket_metrics_frame, candidate_pairs
from .operators.minhash import chunk_minhash_signatures
from .operators.verify import verify_pairs

__all__ = ["DedupConfig", "near_dup_clusters", "run_stages", "signatures",
           "unit_hashes"]


@dataclass(frozen=True)
class DedupConfig:
    # chunker (reference param convention min=avg/4, max=avg*4)
    chunk_min: int = 64
    chunk_avg: int = 256
    chunk_max: int = 1024
    chunk_level: int = 1
    chunk_seed: int = 0
    # k-gram width over chunk hashes: k=1 measures chunk-set overlap (CDC
    # dedup semantics: localized edits touch few chunks)
    shingle_k: int = 1
    # minhash / LSH: b=32, r=4 puts the s-curve midpoint near J~0.55 with
    # P(candidate | J=0.65) > 0.995 — recall headroom above the verify
    # threshold, with exact verification filtering the extra candidates.
    n_perms: int = 128
    bands: int = 32
    rows: int = 4
    minhash_seed: int = 1
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
    """(doc_id, unit_hashes array<long>): the FastCDC chunk hashes, as a
    column. The unfused reference for ``signatures``' fused UDF."""
    from .operators.chunk import chunk_hashes_udf

    return docs.select(
        id_col, chunk_hashes_udf(cfg.chunker())(F.col(text_col)).alias("unit_hashes")
    )


def signatures(docs: DataFrame, cfg: DedupConfig,
               id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, shingles, bands, n_units): the one signing step of the
    batch pipeline, the job and the stream.

    The fused ``chunk_minhash_signatures``: chunking, shingling and
    MinHash in one Arrow UDF, with no intermediate chunk-hash list
    column; ``n_units`` is the per-doc chunk count."""
    return chunk_minhash_signatures(
        docs, cfg.chunker(), k=cfg.shingle_k, n_perms=cfg.n_perms,
        bands=cfg.bands, rows=cfg.rows, seed=cfg.minhash_seed,
        text_col=text_col, id_col=id_col,
    )


def run_stages(docs: DataFrame, cfg: DedupConfig,
               materialize: Callable[..., DataFrame],
               id_col: str = "doc_id", text_col: str = "text",
               ) -> tuple[DataFrame, DataFrame, dict]:
    """The stage sequence; returns (clusters, verified, bucket statistics).

    Each stage is ``materialize(name, build)``, where ``build()`` returns
    the stage's frame from the stages before it; the caller decides what
    materializing means (in memory, checkpointed, pass-through). The
    ``pairs`` stage also passes ``stats``: its build fills the dict with
    candidate generation's bucket row, and a checkpointing materialize
    stores it with the stage and refills it on resume, so a resumed run
    never rebuilds the band window for it.
    """
    signed = materialize("signatures", lambda: signatures(docs, cfg, id_col, text_col))
    buckets: dict = {}

    def build_pairs() -> DataFrame:
        bands_df = signed.select(
            id_col, F.posexplode("bands").alias("band_id", "band_hash")
        )
        pairs, metrics = candidate_pairs(bands_df, bucket_cap=cfg.bucket_cap, id_col=id_col)
        # a local one-row frame (no job): its pair_bound caps the verified
        # edge count, so CC can pick its driver path without a count probe
        buckets.update(metrics.first().asDict())
        return pairs

    pairs = materialize("pairs", build_pairs, stats=buckets)
    # a stats dict read back from JSON carries string histogram keys
    buckets["bucket_hist"] = {int(k): v for k, v in buckets["bucket_hist"].items()}
    verified = materialize("verified", lambda: verify_pairs(
        pairs, signed.select(id_col, "shingles"), threshold=cfg.threshold,
        id_col=id_col, hub_degree_cap=cfg.verify_hub_cap,
        hub_pair_bcast_max=cfg.verify_hub_pair_bcast_max,
        hub_bids_bcast_max=cfg.verify_hub_bids_bcast_max,
    ))
    clusters = materialize("clusters", lambda: connected_components(
        verified, vertices=docs.select(id_col), id_col=id_col,
        edge_bound=buckets["pair_bound"],
    ))
    return clusters, verified, buckets


# B14 metrics: each rides its stage's own action as an Observation
_OBSERVED = {
    "signatures": lambda: [F.count(F.lit(1)).alias("docs"),
                           F.sum("n_units").alias("units_total")],
    "pairs": lambda: [F.count(F.lit(1)).alias("candidate_pairs")],
    "verified": lambda: [F.count(F.lit(1)).alias("verified_pairs")],
}


def near_dup_clusters(
    docs: DataFrame,
    cfg: DedupConfig = DedupConfig(),
    id_col: str = "doc_id",
    text_col: str = "text",
    collect_metrics: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the full pipeline in memory; returns (clusters, verified_pairs,
    metrics).

    clusters: (doc_id, cluster_id) for every input doc (singletons included).
    verified_pairs: (a, b, jaccard).
    metrics: single-row bucket statistics from candidate generation. With
    ``collect_metrics=True`` the B14 metrics ride the pipeline's own
    actions via ``Observation`` nodes (docs, units/doc, candidate and
    verified pair counts — zero extra passes) plus CC round counters, and
    ``metrics`` becomes a fully-collected one-row frame (a LocalRelation:
    its ``.first()`` runs no job).
    """
    observed: dict[str, Observation] = {}
    # every intermediate persisted below is released when this scope
    # exits: once CC has materialized its labels, or on any exception
    with scope() as keep:

        def materialize(name: str, build, stats=None) -> DataFrame:
            df = build()
            if collect_metrics and name in _OBSERVED:
                observed[name] = Observation(name)
                df = df.observe(observed[name], *_OBSERVED[name]())
            if name == "signatures":
                # shingle sets feed banding and verification: fill the
                # cache EAGERLY, or AQE's concurrent band shuffle and
                # size-prefilter broadcasts contend for its uncomputed
                # blocks (measured at 800k docs/4 cores: pairs of
                # identical ~20 s jobs for ~6 s of work)
                df = register_cache(df.drop("n_units").persist())
                df.count()
            elif name == "verified":
                # the one frame kept for the caller (small: the edge
                # set), so post-CC consumers never recompute it from the
                # released caches; harnesses drain it with release_all
                # before an identical later plan could hit it
                df = keep(df.persist())
            return df

        clusters, verified, bucket_row = run_stages(
            docs, cfg, materialize, id_col, text_col)
    spark = docs.sparkSession
    if not collect_metrics:
        return clusters, verified, bucket_metrics_frame(spark, bucket_row)

    import json

    import pandas as pd

    summary = {k: int(v) for obs in observed.values() for k, v in obs.get.items()}
    summary.update({k: int(v or 0) for k, v in bucket_row.items() if k != "bucket_hist"})
    summary.update(clusters._graft_cc_stats)
    summary["units_per_doc"] = round(
        summary["units_total"] / max(summary["docs"], 1), 3
    )
    summary["bucket_hist"] = json.dumps(
        {str(k): int(v) for k, v in sorted(bucket_row["bucket_hist"].items())}
    )
    # from pandas through Arrow: a LocalRelation, so the caller's
    # .first() runs no job (a list-of-tuples frame is a LogicalRDD
    # whose every .first() costs two jobs through a Python worker)
    return clusters, verified, spark.createDataFrame(pd.DataFrame([summary]))
