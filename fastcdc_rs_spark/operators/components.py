"""Connected components over candidate edges (SURVEY.md §2.B B11).

Iterative min-label propagation with *pointer jumping*, expressed entirely
as DataFrame joins, over **edge endpoints only**:

* At web scale the overwhelming majority of documents are singletons —
  they must never enter the iterative loop. The loop runs on the distinct
  endpoint set (|V'| <= 2|E|); singletons are attached afterwards by one
  left join with ``coalesce(label, doc_id)``.
* Each round: (1) label(v) <- min(label(v), min neighbor label) — one
  shuffle join of the symmetrized edges with the label table; (2) pointer
  jumping label(v) <- label(label(v)), contracting chains so convergence
  is O(log diameter) rounds (the large-star/small-star idea in join form).
* ``localCheckpoint`` per round truncates lineage — without it the plan
  doubles every iteration and the driver dies long before the data does.
* Convergence check: an ``Observation`` node on the round's own
  checkpoint materialization counts changed labels — one job per round
  total, no separate count action; on skewed star-shaped dup clusters
  the loop exits in 2-3 rounds.

Cluster id = min doc_id of the component (stable, deterministic).
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..cache import register_cache

__all__ = ["connected_components"]


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 50,
    id_col: str = "doc_id",
    driver_max_edges: int = 2_000_000,
    edge_bound: int | None = None,
) -> DataFrame:
    """(doc_id, cluster_id) for every vertex; singletons map to themselves.

    ``edges`` must have columns (a, b). ``vertices`` (one column ``id_col``)
    supplies the full doc set (adds isolated docs); if None, only endpoint
    vertices are labeled.

    **Size-adaptive physical strategy** (the AQE idea applied to an
    iterative algorithm): an edge set at or below ``driver_max_edges``
    (default 2M pairs ≈ 32 MB — trivially driver-safe) is collected once
    and labeled with a vectorized numpy union-find in-process, producing
    the identical (min doc_id per component) labeling in one job plus
    one tiny createDataFrame — where the distributed loop pays 4+
    fixed-cost jobs (labels checkpoint + one per round) regardless of
    data size. Above the threshold the pointer-jumping DataFrame loop
    runs as before.

    The size check costs no job when the caller knows an upper bound
    on the edge count: ``edge_bound`` <= ``driver_max_edges`` (the
    pipeline passes the candidate stage's ``pair_bound``; verified
    edges <= candidate pairs) goes straight to the Arrow pull, one job.
    Without a fitting bound the size probe is ``edges.count()``: one
    full-parallel job whose result is a single long, so driver memory
    stays bounded — rows are pulled (Arrow ``toPandas`` over the now-
    materialized cache) only once the count is known to fit. An earlier
    shape, ``limit(threshold+1).toPandas()``, was measured WORSE at
    exactly the scale it tried to optimize: Spark's incremental
    collect-limit scans 1, then scaleUpFactor× more partitions per
    round, sequentially — on the pipeline's persisted edge frame at 800k
    docs/4 cores that was 8 jobs and ~7 s of mostly idle cores, where
    one count() materializes every cache partition in parallel. An
    UNPERSISTED edge plan is persisted here around the probe (and
    released before returning), so the plan never evaluates twice even
    for callers handing raw pair plans; ``driver_max_edges=0`` forces
    the loop (tests pin loop==driver equality). The chosen path is
    observable in ``_graft_cc_stats`` (``cc_mode``), and the pull/label
    timings ride there too (``cc_probe_s`` — count, if any, plus Arrow
    pull — and ``cc_driver_s``) so bench regressions in this stage are
    attributable from the artifact alone.
    """
    spark = edges.sparkSession
    # Round-5 ADVICE: the probe (count, then Arrow pull) evaluates the
    # edge plan twice when the caller hands us an UNPERSISTED expensive
    # plan (entry queries pass raw pair plans). Persist around the probe
    # so the plan runs once; released before returning either way (the
    # loop path's first checkpoint job materializes `sym` from this
    # cache, after which it is dead weight). A fitting caller bound
    # skips the count, and with it the second evaluation.
    bounded = edge_bound is not None and edge_bound <= driver_max_edges
    lvl = edges.storageLevel
    ephemeral = (bool(driver_max_edges) and not bounded
                 and not (lvl.useMemory or lvl.useDisk))
    if ephemeral:
        edges = edges.persist()
    try:
        t0 = time.perf_counter()
        if driver_max_edges and (bounded or edges.count() <= driver_max_edges):
            # Arrow pull: 2M (a, b) longs is ~32 MB, sub-second from cache
            probe = edges.select("a", "b").toPandas()
            comp, stats = _cc_driver(spark, probe, vertices, id_col,
                                     time.perf_counter() - t0)
        else:
            # AQE re-plans every round of an iterative loop from scratch;
            # on the small per-round shuffles here that costs ~10x more
            # than the work itself (measured: 60s -> 4.6s at 2k docs).
            # Disable it for the loop and restore after — the surrounding
            # big scans/joins keep AQE.
            aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
            parts_before = spark.conf.get("spark.sql.shuffle.partitions", "200")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                comp, stats = _cc_loop(edges, vertices, max_iter, id_col)
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
                spark.conf.set("spark.sql.shuffle.partitions", parts_before)
    finally:
        if ephemeral:
            edges.unpersist()
    # read by near_dup_clusters' summary and perfbench's components.rounds
    comp._graft_cc_stats = stats
    return comp


def _cc_driver(spark, edge_pdf, vertices: DataFrame | None,
               id_col: str, probe_s: float = 0.0) -> tuple[DataFrame, dict]:
    """Vectorized min-label union-find over a collected (bounded) edge
    frame; identical semantics to the loop: cluster id = min doc_id of
    the component, singletons label themselves via the vertices left
    join.

    The per-edge interpreted dict loop this replaces cost seconds of
    driver CPU and hundreds of MB of RSS near the 2M-edge threshold
    (round-5 ADVICE); this is the SAME algorithm the DataFrame loop
    runs — min-label propagation + pointer jumping — over numpy int64
    arrays: node ids are ranked by sorted doc_id, so the component-min
    label in rank space maps back to the component-min doc_id.
    """
    import numpy as np
    import pandas as pd

    t0 = time.perf_counter()
    a_arr = edge_pdf["a"].to_numpy(dtype="int64", copy=False)
    b_arr = edge_pdf["b"].to_numpy(dtype="int64", copy=False)
    # sorted-unique nodes: rank order == doc_id order, so min rank per
    # component == min doc_id per component
    nodes = np.unique(np.concatenate([a_arr, b_arr]))
    ca = np.searchsorted(nodes, a_arr)
    cb = np.searchsorted(nodes, b_arr)
    parent = np.arange(len(nodes), dtype=np.int64)
    while True:
        # hook: pull each edge's endpoints down to the smaller label
        m = np.minimum(parent[ca], parent[cb])
        np.minimum.at(parent, ca, m)
        np.minimum.at(parent, cb, m)
        # pointer jumping to idempotence (labels only ever decrease)
        while True:
            p2 = parent[parent]
            if np.array_equal(p2, parent):
                break
            parent = p2
        if np.array_equal(parent[ca], parent[cb]):
            break

    # Arrow path (createDataFrame from pandas): a list-of-tuples frame
    # goes through py4j row serialization, ~10x slower for 10^5 rows
    comp_pdf = pd.DataFrame({id_col: nodes, "cluster_id": nodes[parent]})
    comp = spark.createDataFrame(comp_pdf, f"{id_col} long, cluster_id long")
    stats = {
        "cc_rounds": 0,
        "cc_sym_edges": 2 * len(edge_pdf),
        "cc_loop_partitions": 0,
        "cc_mode": "driver",
        "cc_probe_s": round(probe_s, 3),
        "cc_driver_s": round(time.perf_counter() - t0, 3),
    }
    if vertices is not None:
        comp = (
            vertices.select(F.col(id_col))
            .join(F.broadcast(comp), id_col, "left")
            .select(
                id_col,
                F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            )
        )
    return comp, stats


def _truncate(df: DataFrame) -> DataFrame:
    """Cut lineage between CC rounds. ``localCheckpoint`` (executor-local
    blocks) is right for local mode and short loops; when the session has
    a reliable checkpoint dir configured (``spark.sparkContext.
    setCheckpointDir`` — cluster deployments, where executor loss would
    otherwise kill a multi-hour run), use a reliable checkpoint instead."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def _cc_loop(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iter: int,
    id_col: str,
) -> tuple[DataFrame, dict]:
    from pyspark.sql import Observation

    # Symmetrize with one explode instead of a two-branch union: a union
    # would evaluate the (unpersisted, often expensive) edge plan twice in
    # the materialization job below. The edge count rides the FIRST job
    # (the endpoint-labels checkpoint below, which materializes this
    # cache) as an Observation node — no separate pre-loop count action.
    obs_edges = Observation("cc_sym_edges")
    # registered, so an enclosing cache.scope() releases it if a round fails
    sym = register_cache(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .observe(obs_edges, F.count(F.lit(1)).alias("n"))
        .persist()
    )

    # the iterative loop touches only edge endpoints. This distinct runs
    # at the session's shuffle parallelism (loop sizing isn't known until
    # its own job fills the Observation); each round re-shuffles the
    # label table at the loop setting anyway, so only this one job pays
    # the session partition count.
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    labels = _truncate(labels)

    # Size the loop's shuffles from the edge set, not the session default:
    # with AQE off inside the loop, every round would otherwise run the
    # full session partition count over (usually tiny) label tables.
    n_edges = int(obs_edges.get["n"] or 0)
    spark = edges.sparkSession
    # ~50k edges per loop partition, bounded by the session setting: tiny
    # edge sets iterate on a handful of partitions (per-round task overhead
    # dominates there), huge ones keep the session's full parallelism.
    loop_parts = max(8, min(int(spark.conf.get("spark.sql.shuffle.partitions")),
                            n_edges // 50_000 + 1))
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))

    rounds = 0
    for it in range(max_iter):
        rounds = it + 1
        neighbor_min = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
            .withColumnRenamed("src", "node")
        )
        new_labels = labels.join(neighbor_min, "node").select(
            "node",
            F.least("label", "nmin").alias("label"),
            F.col("label").alias("old"),
        )
        # Pointer jumping label <- map(label), with `map` = the START-of-
        # round label table: it is already checkpointed, so the jump's
        # second join side reads materialized blocks instead of
        # re-evaluating this round's join pipeline (the two sides shuffle
        # on different keys, so Catalyst can never reuse the exchange).
        # A one-round-stale map is still a valid accelerator — it maps any
        # label to a smaller id in the same component — and convergence is
        # unaffected: the loop exits only when a full round changes no
        # label, at which point labels are constant per component.
        lab2 = labels.select(
            F.col("node").alias("label"), F.col("label").alias("label2")
        )
        # Convergence count rides the checkpoint's own materialization job
        # as an Observation node — no separate per-round count job.
        obs = Observation(f"cc_round_{it}")
        jumped = _truncate(
            new_labels.join(lab2, "label", "left")
            .select(
                "node", F.coalesce("label2", "label").alias("label"), "old"
            )
            .observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("old")).cast("long")
                ).alias("changed"),
            )
        )
        changed = int(obs.get["changed"] or 0)
        labels = jumped.select("node", "label")
        if changed == 0:
            break
    sym.unpersist()

    comp = labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    stats = {
        "cc_rounds": rounds,
        "cc_sym_edges": int(n_edges),
        "cc_loop_partitions": int(loop_parts),
        "cc_mode": "loop",
    }
    if vertices is not None:
        comp = (
            vertices.select(F.col(id_col))
            .join(comp, id_col, "left")
            .select(id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"))
        )
    return comp, stats
