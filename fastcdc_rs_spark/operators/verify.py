"""Candidate-pair verification (SURVEY.md §2.B B9).

Exact Jaccard similarity over the shingle sets of each candidate pair,
in three stages:

1. **Size-ratio prefilter**: J(A,B) <= min(|A|,|B|) / max(|A|,|B|), so
   any pair whose set sizes differ by more than the threshold ratio
   cannot verify. The prune is a narrow join of (id, set_size) longs,
   so candidate pairs from hot/star buckets that connect docs of very
   different sizes are dropped *before* any shingle array ships through
   a shuffle. The bound is exact, not probabilistic: no pair with
   J >= threshold is ever pruned, so recall is untouched by
   construction (the 400k-doc single-node parity stays 1.000000).
2. **Degree split** (window over ``a``), only when the shingle table is
   too big to broadcast: surviving pairs get their a-side pair-degree
   from a count window — the same shuffle that co-locates each ``a``'s
   pairs for the array join below, so the stats ride an exchange the
   plan needs anyway. Star pairs from capped hot buckets all share
   ``a = bucket_min`` (operators/lsh.py), so at scale a hub doc's
   shingle array would otherwise be copied once per surviving pair
   through the wide join; pairs whose ``a`` exceeds ``hub_degree_cap``
   take a **broadcast** path instead: the (by construction few — at
   most |pairs|/cap) hub docs' arrays are broadcast and the hub pairs
   never shuffle an a-side array at all. When the shingle table itself
   broadcasts, both array joins are broadcast hash joins, no array goes
   through an exchange, and the split has nothing to save.
3. **Array verification** (wide join): normal pairs join the full
   shingle sets on both sides — the ``a``-side join reuses the window's
   hash(a) partitioning exchange-free; hub pairs join only the b-side
   arrays plus the broadcast hub arrays. |A∩B| via ``array_intersect``
   and |A∪B| derived as |A| + |B| - |A∩B| (the arrays are deduplicated
   sets, so this is exact and saves the ``array_union`` pass).

At 100 TB the wide join is the shuffle-bytes hotspot — every pair the
narrow prune removes saves a full array copy, and the hub broadcast
caps the worst-case replication of a hot doc's array at one copy per
executor instead of one per pair.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..cache import register_cache

__all__ = ["verify_pairs"]


def verify_pairs(pairs: DataFrame, shingled: DataFrame, threshold: float = 0.8,
                 id_col: str = "doc_id", shingles_col: str = "shingles",
                 hub_degree_cap: int | None = 256,
                 hub_pair_bcast_max: int = 64_000,
                 hub_bids_bcast_max: int = 4_000_000) -> DataFrame:
    """(a, b, jaccard) for pairs with exact Jaccard >= threshold.

    ``shingled`` arrays are treated as SETS: they are deduplicated here
    (per doc, once — row-linear, before any pair join) so the size-based
    union identity and the size-ratio prune stay exact even for callers
    whose arrays contain repeats. The kernel pipeline already emits
    sorted-unique shingles, for which the array_distinct is a no-op scan.

    ``hub_degree_cap``: a-side pair-degree above which a doc's shingle
    array is broadcast instead of shuffled per pair (None disables the
    split). Purely a physical-plan choice — the output rows are
    identical either way. The split runs only when ``shingled``'s plan
    size exceeds ``spark.sql.autoBroadcastJoinThreshold`` — the same
    statistic the planner reads to broadcast it; under the threshold
    both array joins broadcast and there is no hub shuffle to avoid.
    When it runs, its persisted narrow pair table is registered with
    ``cache.register_cache``; the caller's ``cache.scope()`` (or
    ``release_all``) releases it once the result is materialized.

    The hub pairs' physical shape is a measured three-rung ladder keyed
    on their COUNT (one cache-scan job; the |pairs|/cap bound applies
    to hub DOCS, not hub pairs, so the count is the only safe signal —
    a single 10^8-pair star would ride a ~GB pair broadcast in exactly
    the regime the split exists for):

    * 0 hub pairs — no hub branch at all (skips every broadcast
      barrier; the common case for homogeneous corpora).
    * <= ``hub_pair_bcast_max`` (64k) — double broadcast (pairs +
      arrays): ZERO extra exchanges, the bytes-optimal cluster shape
      while the per-executor pair copy stays ~1.5 MB.
    * <= ``hub_bids_bcast_max`` (4M) — the narrow pair rows shuffle on
      ``b``, against the b-side array table SEMI-JOIN FILTERED through
      a broadcast of the hub pairs' distinct b ids: the extra exchange
      ships only the arrays the hub branch actually joins (at most one
      per hub pair), never the full array table. Measured at 800k
      docs/4 cores this shape matches the plain join's wall time where
      the double broadcast pays ~1.3 s of barrier latency.
    * above — even the b-id broadcast is too big: unfiltered shuffle
      join on ``b`` (the full array table pays one extra exchange,
      bounded and spillable where any broadcast is not).

    The hub ARRAYS broadcast is bounded by construction (at most
    |pairs|/cap docs) and rides every rung. Output rows are identical
    across all four physical modes (pinned in
    tests/test_operators_misc.py).
    """
    shingled = shingled.select(
        F.col(id_col), F.array_distinct(shingles_col).alias(shingles_col)
    )
    # 1e-9 absolute slack: float rounding in t*max must never prune a
    # pair whose real-arithmetic ratio equals t; the few
    # infinitesimally-below-t pairs kept are dropped by the exact
    # verification anyway.
    ratio_keep = (
        F.least("_sz_a", "_sz_b").cast("double")
        >= F.lit(float(threshold)) * F.greatest("_sz_a", "_sz_b").cast("double")
        - F.lit(1e-9)
    )
    if threshold > 0:
        # narrow prune: ship two longs per pair, not two arrays.
        # min/max >= threshold is necessary for J >= threshold; pairs
        # with an empty side survive only via the both-empty J=1 case.
        sizes = shingled.select(
            F.col(id_col), F.size(shingles_col).alias("_sz")
        )
        za = sizes.select(F.col(id_col).alias("a"), F.col("_sz").alias("_sz_a"))
        zb = sizes.select(F.col(id_col).alias("b"), F.col("_sz").alias("_sz_b"))
        pairs = (
            pairs.join(za, "a").join(zb, "b")
            .where(ratio_keep)
            .select("a", "b")
        )
    sa = shingled.select(
        F.col(id_col).alias("a"), F.col(shingles_col).alias("_sh_a")
    )
    sb = shingled.select(
        F.col(id_col).alias("b"), F.col(shingles_col).alias("_sh_b")
    )
    caches: list[DataFrame] = []
    if hub_degree_cap is not None and not _broadcastable(shingled):
        # pair-degree of a rides a count window over the narrow pair
        # table (three longs per row — the cheap shuffle). The persisted
        # result feeds the b-side join once and the hub-id scan.
        pruned = register_cache(
            pairs.withColumn(
                "_deg", F.count(F.lit(1)).over(Window.partitionBy("a"))
            ).persist()
        )
        caches.append(pruned)
        # The split happens on the PERSISTED narrow table only — both
        # branch filters are cache scans, nothing upstream re-evaluates.
        # Normal pairs take the usual a-then-b shuffle joins. Hub pairs
        # never put an array through an exchange at all: their a-side
        # arrays are a broadcast (at most |pairs|/cap hub docs) and the
        # b-side join key arrives pre-partitioned like `sb`, so the only
        # shuffled hub bytes are three-long pair rows. (Two rejected
        # shapes, both measured at 800k docs: branching below the array
        # join re-evaluates the join subtree per branch because the
        # pushed _deg predicates defeat exchange reuse, +40% bytes; a
        # branch-free left-join+coalesce forces the b-array stream
        # through an extra a-exchange, 2x bytes in hub-heavy regimes.)
        hub = pruned.where(F.col("_deg") > hub_degree_cap).drop("_deg")
        # One cache-scan count picks the hub rung (docstring ladder);
        # reached only when the shingle table is too big to broadcast
        n_hub_pairs = hub.count()
        if n_hub_pairs == 0:
            joined = pruned.drop("_deg").join(sa, "a").join(sb, "b")
        else:
            hub_ids = hub.select("a").distinct()
            hub_arrays = sa.join(F.broadcast(hub_ids), "a")
            norm = pruned.where(F.col("_deg") <= hub_degree_cap).drop("_deg")
            if n_hub_pairs <= hub_pair_bcast_max:
                # both hub joins are broadcasts (bounded narrow pairs +
                # few hub arrays), so the big shingle table STREAMS
                # through the hub branch with no exchange — Catalyst
                # does not reuse the norm branch's sb exchange across
                # the union, so an equi-join here would shuffle sb twice
                hub_joined = (
                    sb.join(F.broadcast(hub), "b")
                    .join(F.broadcast(hub_arrays), "a")
                )
            else:
                # b-keyed shuffle of the three-long pair rows; the
                # array side is semi-join filtered to the hub pairs' b
                # ids while that id set still broadcasts, so the extra
                # exchange ships at most one array per hub pair — and
                # the full (spillable) table only past 4M hub pairs
                sb_side = sb
                if n_hub_pairs <= hub_bids_bcast_max:
                    sb_side = sb.join(
                        F.broadcast(hub.select("b").distinct()), "b"
                    )
                hub_joined = (
                    hub.join(sb_side, "b")
                    .join(F.broadcast(hub_arrays), "a")
                )
            joined = (
                norm.join(sa, "a").join(sb, "b")
                .unionByName(hub_joined.select("a", "b", "_sh_a", "_sh_b"))
            )
    else:
        joined = pairs.join(sa, "a").join(sb, "b")
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    # the shingle arrays are deduplicated sets: |A ∪ B| = |A| + |B| − |A ∩ B|
    union = F.size("_sh_a") + F.size("_sh_b") - inter
    out = (
        joined.withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0)),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    # read by perfbench/workloads.py for its verify.hub_pairs metric
    out._graft_caches = caches
    return out


def _broadcastable(df: DataFrame) -> bool:
    """The planner's own broadcast-by-size test (JoinSelection's
    canBroadcastBySize) on ``df``'s optimized-plan statistics — no job."""
    jspark = df.sparkSession._jsparkSession
    limit = jspark.sessionState().conf().autoBroadcastJoinThreshold()
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return 0 <= size <= limit
