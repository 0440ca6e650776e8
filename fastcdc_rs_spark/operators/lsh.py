"""LSH banding + candidate-pair generation (SURVEY.md §2.B B6/B8/B12).

Band keys are computed kernel-side (kernel/signatures.band_hashes, one
Arrow pass with the MinHash) and arrive here exploded as
(doc_id, band_id, band_hash); docs sharing any band key are candidates.

``candidate_pairs`` generates (a, b) pairs per bucket with explicit skew
handling: buckets up to ``bucket_cap`` docs emit all pairs; larger
buckets — boilerplate bands, giant clusters — emit *star* pairs (every
member against the bucket minimum) instead of the quadratic all-pairs
set. Star edges preserve the bucket's connectivity for
connected-components clustering, so recall of the *clustering* survives
the cap while join fan-out stays linear; the drop is observable in the
returned metrics (``capped_buckets``/``capped_docs``) rather than silent.

Bucket statistics come from a WINDOW over the band key, not an
aggregate+join: count and min ride the same single shuffle+sort of the
band table, where the join formulation shuffles it twice (once into the
aggregate, once into the join) — measured 2x faster at 800k docs
(30.7 s -> 15.6 s at 4 cores) with per-stage N->4N efficiency 0.995.
Only the post-filter collision rows (a small fraction of the
mostly-singleton band space) are persisted for the two pair branches.
Skew exposure is identical to the join form — either way every row of a
bucket co-locates in one task to compute its size — and the downstream
cap bounds what that task emits; the window's sort runs over equal-key
runs, so the giant bucket costs a linear scan, not a real sort.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, Window

from ..cache import register_cache
from ..functions.plan_safe import explode_once

__all__ = ["bucket_metrics_frame", "candidate_pairs"]


def candidate_pairs(bands_df: DataFrame, bucket_cap: int = 64,
                    id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Distinct candidate pairs (a < b) from band buckets; also returns a
    1-row metrics DataFrame with bucket statistics (nothing is dropped
    silently — capped buckets degrade to star pairs, counted here).

    Metrics: ``buckets`` (collision buckets), ``max_bucket``,
    ``capped_buckets``/``capped_docs``, the log2 ``bucket_hist`` and
    ``pair_bound`` — sum over buckets of C(n,2) (n <= cap) or n-1
    (capped star). Every distinct pair comes out of some bucket's
    branch, so ``pair_bound`` is an exact upper bound on the distinct
    candidate count, and on any edge set verified from it.
    """
    # ONE shuffle of the band table: bucket size and min doc ride a
    # whole-partition window frame (no ORDER BY → no running-frame
    # semantics, one pass per bucket). Giant buckets are never
    # materialized as row-level lists: only small buckets (<= cap
    # members) use collect_list below, so no single row can exceed
    # cap * 16 bytes regardless of data skew.
    w = Window.partitionBy("band_id", "band_hash")
    annotated = register_cache(
        bands_df
        .withColumn("bucket_size", F.count(F.lit(1)).over(w))
        .withColumn("_bmin", F.min(id_col).over(w))
        .where(F.col("bucket_size") > 1)
        .persist()
    )
    # Materialize the window EAGERLY: the small-pairs and star-pairs
    # branches below (and the prune joins downstream) are submitted as
    # concurrent AQE stages, and on a cold cache they contend for the
    # same uncomputed blocks (recompute or lock-wait — both burn a core
    # slot) — measured as two identical ~21 s jobs at 800k docs/4 cores
    # where the window runs once in ~13 s. One count() fills the cache
    # at full parallelism; every branch then reads blocks. At 1 core the
    # contention cannot express (tasks serialize), so this was a pure
    # scale-efficiency leak, not a throughput bug.
    #
    # The bucket statistics ride that same job as an Observation: each
    # bucket is represented by its min member (``_bmin`` rides every row
    # off the window), so per-bucket aggregates are row-wise sums over
    # min-member rows, and the log2 histogram is one counter per size
    # class (ceil(log2 n) for 2 <= n < 2^63 is 1..63 — bounded, unlike a
    # collected list of bucket sizes). No extra Spark job.
    obs = Observation("buckets")
    annotated.observe(obs, *_bucket_stats(id_col, bucket_cap)).count()

    pair_expr = F.filter(
        F.flatten(
            F.transform(
                "members",
                lambda x: F.transform(
                    "members", lambda y: F.struct(x.alias("a"), y.alias("b"))
                ),
            )
        ),
        lambda p: p["a"] < p["b"],
    )
    # the cache is hash-partitioned on the band key, so this groupBy
    # runs without another exchange
    small_pairs = explode_once(
        annotated.where(F.col("bucket_size") <= bucket_cap)
        .groupBy("band_id", "band_hash")
        .agg(F.collect_list(id_col).alias("members")),
        pair_expr,
        "p",
    ).select("p.a", "p.b")

    star_pairs = (
        annotated.where(F.col("bucket_size") > bucket_cap)
        .select(F.col("_bmin").alias("a"), F.col(id_col).alias("b"))
        .where(F.col("a") < F.col("b"))
    )

    # (Round-7 A/B, rejected: deduping inside a-partitions via
    # repartition("a") + row_number so the verify degree window could
    # reuse the partitioning saved an exchange on paper but measured
    # flat at 50k docs — and dropDuplicates' map-side partial
    # aggregation shrinks the pre-shuffle pair stream where the
    # repartition form ships every duplicate. Keep the aggregate form.)
    pairs = small_pairs.unionByName(star_pairs).dropDuplicates(["a", "b"])
    return pairs, bucket_metrics_frame(bands_df.sparkSession, _bucket_row(obs.get))


_HIST_CLASSES = range(1, 64)
_METRICS_SCHEMA = ("buckets long, max_bucket long, capped_buckets long, "
                   "capped_docs long, bucket_hist map<int,long>, pair_bound long")


def _bucket_stats(id_col: str, bucket_cap: int) -> list:
    """Observation aggregates over the collision rows (every member of
    every bucket with n > 1); per-bucket terms count on the min member.
    Empty input reads 0, never NULL (jobs/dedup_job.py emits these raw)."""
    n = F.col("bucket_size")
    is_min = F.col(id_col) == F.col("_bmin")
    capped = n > bucket_cap
    log2 = F.ceil(F.log2(n))
    # star buckets emit n-1 pairs, small ones C(n,2)
    emitted = F.when(capped, n - 1).otherwise(
        F.expr("bucket_size * (bucket_size - 1) div 2"))
    return [
        F.count_if(is_min).alias("buckets"),
        F.coalesce(F.max(n), F.lit(0)).alias("max_bucket"),
        F.count_if(is_min & capped).alias("capped_buckets"),
        F.coalesce(F.sum(F.when(is_min & capped, n)), F.lit(0)).alias("capped_docs"),
        F.coalesce(F.sum(F.when(is_min, emitted)), F.lit(0)).alias("pair_bound"),
        *[F.count_if(is_min & (log2 == k)).alias(f"h{k}") for k in _HIST_CLASSES],
    ]


def _bucket_row(got: dict) -> dict:
    """The observed stats as the metrics row (histogram classes folded
    into one ``bucket_hist`` map)."""
    row = {k: int(got[k]) for k in ("buckets", "max_bucket", "capped_buckets",
                                    "capped_docs")}
    row["bucket_hist"] = {
        k: int(got[f"h{k}"]) for k in _HIST_CLASSES if got[f"h{k}"]
    }
    row["pair_bound"] = int(got["pair_bound"])
    return row


def bucket_metrics_frame(spark, row: dict) -> DataFrame:
    """A metrics row as the one-row frame ``candidate_pairs`` returns.
    Built from pandas through Arrow it is a LocalRelation: ``.first()`` on
    it runs no Spark job."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame([row]), _METRICS_SCHEMA)
