"""Similarity search over embedding columns (training-data pipeline ops).

* ``cosine_topk_bruteforce`` — exact top-k cosine neighbors per query:
  broadcast the (small) query set, JVM-side dot product via
  ``aggregate(zip_with(...))``, window top-k. The exact baseline.
* ``cosine_near_duplicates`` — all pairs with cosine >= threshold via a
  bucketed self-join (random-hyperplane LSH signs as the bucket key) with
  a brute-force fallback for small inputs.
* ``rhp_buckets`` — random-hyperplane (SimHash-for-vectors) bucket keys:
  the scale path; planes are a deterministic function of (dim, n_planes,
  seed) so results are reproducible and oracle-computable.

Vectors are ``array<float>`` columns; all arithmetic is JVM-side
(zip_with/aggregate inside whole-stage codegen), doubles rounded before
comparison (see functions/portable.py).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "cosine_expr",
    "cosine_topk_bruteforce",
    "cosine_near_duplicates",
    "cosine_near_duplicates_banded",
    "rhp_buckets",
    "rhp_band_keys",
    "kmeans_centroids",
    "ivf_assign",
    "cosine_topk_ivf",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    na, nb = _norm(a), _norm(b)
    return F.when(
        (na > 0) & (nb > 0), _dot(a, b) / (na * nb)
    ).otherwise(F.lit(0.0))


def _cosine_ridden(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """``cosine_expr`` with the two norms precomputed per VECTOR and
    ridden through the pair join as 8-byte columns.

    Bit-identical to ``cosine_expr`` by construction: ``na``/``nb`` must
    be ``_norm(<vector col>)`` evaluated on the same arrays — the same
    sqrt(aggregate(zip_with)) expression tree on the same input produces
    the same double, and the comparison/division/rounding around it are
    unchanged. The win is pass count: one interpreted higher-order pass
    (the dot) per PAIR instead of three — the two norm passes are
    per-vector work a pair join was needlessly repeating per pair
    (round 7; the pair-scoring analog of the jaccard size-ride)."""
    return F.when(
        (na > 0) & (nb > 0), _dot(a, b) / (na * nb)
    ).otherwise(F.lit(0.0))


def cosine_topk_bruteforce(
    vectors: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", round_scale: int = 6,
) -> DataFrame:
    """(query_id, vec_id, cosine, rank): exact top-k neighbors per query.

    The query side is broadcast (small by construction); ties broken by
    vec_id so results are deterministic.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    crossed = vectors.select(
        F.col(id_col), F.col(vec_col).alias("_vvec"),
        _norm(F.col(vec_col)).alias("_vn"),
    ).crossJoin(F.broadcast(q))
    scored = crossed.select(
        query_id_col,
        id_col,
        F.round(
            _cosine_ridden(
                F.col("_qvec"), F.col("_vvec"), F.col("_qn"), F.col("_vn")
            ),
            round_scale,
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [[float(x) for x in row] for row in rng.standard_normal((n_planes, dim))]


def rhp_buckets(vectors: DataFrame, dim: int, n_planes: int = 8, seed: int = 7,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, bucket): sign pattern of n_planes random hyperplanes.

    Two vectors at angle θ land in the same bucket with probability
    (1 - θ/π)^n_planes — near-duplicates (cosine ~1) almost always collide.
    """
    planes = _planes(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = _dot(F.col(vec_col), F.array(*[F.lit(x) for x in p]))
        bucket = bucket + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("long")
    return vectors.select(F.col(id_col), bucket.alias("bucket"))


def rhp_band_keys(
    vectors: DataFrame, planes: np.ndarray, bands: int, rows_per_band: int,
    id_col: str = "vec_id", vec_col: str = "embedding", proj_round: int = 6,
) -> DataFrame:
    """(vec_id, band_id, band_key): banded random-hyperplane sign keys.

    Plane ``b*rows_per_band + r`` contributes bit ``r`` of band ``b``'s
    key — the MinHash-banding layout (SURVEY §2.B B6/B7) applied to dense
    vectors. Projections are rounded to ``proj_round`` decimals before the
    sign test so an independent engine computing the same dots (DuckDB
    oracle, ~1e-15 relative difference) buckets identically.

    The plane matrix rides as DATA — a one-row broadcast frame cross-
    joined onto the vectors — instead of a literal array-of-arrays inside
    the expression: a 80x64 literal tree (5k+ Literal nodes; round 6
    shipped it as one parsed SQL string) cost ~0.6 s to parse plus over a
    second of per-job optimize/codegen at EVERY invocation, all
    driver-side and scale-independent (measured this round: the whole
    sf0.1 banded query computes 16k key rows — the plan overhead dwarfed
    the data). As a 1-row broadcast the plan is O(1) in planes; per row
    the same bands*rows_per_band JVM dot products read the broadcast
    ArrayData, then one explode of the per-band key array.
    """
    assert planes.shape[0] == bands * rows_per_band
    spark = vectors.sparkSession
    planes_df = spark.createDataFrame(
        [([[float(x) for x in p] for p in planes],)],
        "_planes array<array<double>>",
    )
    keys_sql = f"""
      transform(sequence(0, {bands - 1}), b ->
        named_struct('band_id', b, 'band_key',
          aggregate(sequence(0, {rows_per_band - 1}), CAST(0 AS BIGINT),
            (acc, r) -> acc + IF(
              round(
                aggregate(
                  zip_with({vec_col},
                           element_at(_planes, b * {rows_per_band} + r + 1),
                           (x, y) -> CAST(x AS DOUBLE) * y),
                  CAST(0.0 AS DOUBLE), (s, v) -> s + v),
                {proj_round}) >= 0,
              shiftleft(CAST(1 AS BIGINT), r), CAST(0 AS BIGINT)))))
    """
    from ..functions.plan_safe import explode_once

    return explode_once(
        vectors.crossJoin(F.broadcast(planes_df)), F.expr(keys_sql), "bk",
        keep=[id_col],
    ).select(id_col, F.col("bk.band_id"), F.col("bk.band_key"))


def cosine_near_duplicates_banded(
    vectors: DataFrame, threshold: float = 0.95,
    planes: np.ndarray | None = None, dim: int | None = None,
    bands: int = 4, rows_per_band: int = 2, seed: int = 7,
    bucket_cap: int | None = None,
    id_col: str = "vec_id", vec_col: str = "embedding",
    round_scale: int = 6, proj_round: int = 6,
) -> DataFrame:
    """(a, b, cosine) near-dup pairs via banded RHP LSH — the 100-TB path.

    Candidates are pairs colliding in >=1 of ``bands`` sign-bands (OR over
    bands keeps recall where a single wide bucket loses it: collision
    probability is 1-(1-(1-θ/π)^r)^b). The per-band equi-join on
    (band_id, band_key) hash-partitions like any LSH band join — the
    quadratic candidate space never materializes; pairs are deduped across
    bands BEFORE the (expensive) cosine scoring. Pass pinned ``planes``
    for reproducible / oracle-checkable buckets, else they derive from
    (dim, bands*rows_per_band, seed).

    ``bucket_cap``: buckets larger than the cap (duplicate-heavy or
    degenerate sign patterns — the embedding analog of boilerplate LSH
    bands) emit *star* pairs (each member vs the bucket minimum) instead
    of all pairs, so join fan-out stays linear while the bucket's
    connectivity survives for downstream clustering — the same skew
    policy as the text pipeline's ``candidate_pairs``. ``None`` (default)
    keeps exact all-pairs semantics for oracle twins; ALWAYS set a cap at
    corpus scale.
    """
    if planes is None:
        assert dim is not None
        planes = np.asarray(_planes(dim, bands * rows_per_band, seed))
    keys = rhp_band_keys(
        vectors, planes, bands, rows_per_band, id_col, vec_col, proj_round
    )
    from ..cache import register_cache

    if bucket_cap is not None:
        # Round 7: the capped path reuses the text pipeline's
        # candidate_pairs (operators/lsh.py) — identical pair semantics
        # (all pairs for buckets <= cap, star-on-min above, distinct
        # across bands) with ONE window shuffle of the key table where
        # this module previously paid a groupBy + join + two eager cache
        # fills (the measured 2x window-over-join finding from lsh.py
        # applies unchanged). The key table has a single consumer now
        # (the window), so it needs no persist of its own; the literal
        # planes projection is evaluated once below the window exchange
        # and the pair branches read candidate_pairs' persisted
        # collision rows.
        from .lsh import candidate_pairs

        bands_df = keys.withColumnRenamed("band_key", "band_hash")
        cand, _metrics = candidate_pairs(
            bands_df, bucket_cap=bucket_cap, id_col=id_col
        )
        cand = cand.select("a", "b")
    else:
        # materialize before the self-join: otherwise BOTH join sides
        # carry the full bands*rows*dim literal projection tree and
        # Catalyst/codegen time on the doubled expression dwarfs the
        # actual compute (and at scale the projections would be
        # evaluated twice per vector); eager fill: the join's two
        # aliases read this cache from concurrent AQE stages (see
        # pipeline.py/lsh.py for the measured cold-cache contention)
        keys = register_cache(keys.persist())
        keys.count()
        cand = (
            keys.alias("l")
            .join(
                keys.alias("r"),
                on=[
                    F.col("l.band_id") == F.col("r.band_id"),
                    F.col("l.band_key") == F.col("r.band_key"),
                    F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                ],
            )
            .select(
                F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b")
            )
            .distinct()
        )
    va = vectors.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select(
            "a", "b",
            F.round(
                _cosine_ridden(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                round_scale,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def kmeans_centroids(
    vectors: DataFrame, k: int = 16, seed: int = 7, n_iter: int = 10,
    sample: int = 4096, id_col: str = "vec_id", vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means centroids fit on a bounded deterministic sample.

    The fit is driver-side numpy over at most ``sample`` vectors — at 100 TB
    you fit on a ~100k-row sample (centroid quality saturates long before
    that) and broadcast the k x dim array; the full corpus never leaves the
    executors. Sampling is order-stable (lowest ids) so the index is
    reproducible. Returns unit-norm centroids, shape (k, dim).
    """
    rows = (
        vectors.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    if not rows:
        raise ValueError("kmeans_centroids: empty vectors DataFrame")
    x = np.asarray([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.where(norms > 0, norms, 1.0)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(k, len(x)), replace=False)].copy()
    if len(cent) < k:  # degenerate tiny input: pad with random unit vectors
        extra = rng.standard_normal((k - len(cent), x.shape[1]))
        extra /= np.linalg.norm(extra, axis=1, keepdims=True)
        cent = np.vstack([cent, extra])
    for _ in range(n_iter):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    cent[j] = c / n
    return cent


def _centroid_dots(vec_col: str, centroids: np.ndarray) -> Column:
    """array<double> of dot(vec, centroid_j) for all centroids, JVM-side.

    Rounded to 6 decimals: list assignment and probe selection are
    argmax/top-n over these values with a deterministic index tiebreak,
    and rounding makes the selection reproducible across engines (the
    DuckDB oracle computes the same dots from its own normalization —
    equal to ~1e-15 relative, identical after rounding).

    Built as ONE SQL expression (centroids as a literal array-of-arrays,
    the per-centroid dot as a transform/aggregate HOF) so driver-side
    plan construction stays O(string length) — an F.lit-per-element build
    costs ~1 s per 1k literals via py4j. Round 7 A/B'd this against the
    one-row-broadcast data-column shape used by rhp_band_keys: at the
    IVF's 16x64 tree the literal PARSES cheaply and executes ~25% faster
    per row (constants fold into codegen where the broadcast pays
    ArrayData reads + a BroadcastNestedLoopJoin per use), so the literal
    stays; the broadcast wins only for plane matrices big enough that
    parse/optimize dominates (rhp's 80x64)."""
    cents_sql = "array(" + ",".join(
        "array(" + ",".join(repr(float(x)) + "D" for x in c) + ")"
        for c in centroids
    ) + ")"
    return F.expr(
        f"""transform({cents_sql}, c ->
              round(aggregate(zip_with({vec_col}, c,
                                       (x, y) -> CAST(x AS DOUBLE) * y),
                              CAST(0.0 AS DOUBLE), (s, v) -> s + v), 6))"""
    )


def ivf_assign(vectors: DataFrame, centroids: np.ndarray,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, embedding, list_id): nearest-centroid inverted-list id.

    Pure JVM expression (whole-stage codegen): k x dim literal dot products
    per row, argmax via array_position. At scale the output is written
    bucketed by list_id so probes read only their lists.
    """
    dots = _centroid_dots(vec_col, centroids)
    return vectors.select(
        F.col(id_col),
        F.col(vec_col),
        (
            F.array_position(dots, F.array_max(dots)).cast("int") - F.lit(1)
        ).alias("list_id"),
    )


def cosine_topk_ivf(
    vectors: DataFrame, queries: DataFrame, k: int = 10,
    centroids: np.ndarray | None = None, n_lists: int = 16, nprobe: int = 4,
    seed: int = 7, id_col: str = "vec_id", vec_col: str = "embedding",
    query_id_col: str = "query_id", round_scale: int = 6,
) -> DataFrame:
    """(query_id, vec_id, cosine, rank): approximate top-k via IVF probing.

    The scale path for similarity search: vectors are partitioned into
    ``n_lists`` inverted lists (nearest spherical-k-means centroid); each
    query scores only its ``nprobe`` nearest lists, so the scored fraction
    is ~nprobe/n_lists of the corpus instead of all of it. The join key is
    list_id — a plain equi-join Catalyst hash-partitions; the query side
    stays broadcastable. Same output schema as ``cosine_topk_bruteforce``
    (the exact baseline tests measure recall against it).
    """
    if centroids is None:
        centroids = kmeans_centroids(
            vectors, k=n_lists, seed=seed, id_col=id_col, vec_col=vec_col
        )
    lists = ivf_assign(vectors, centroids, id_col, vec_col)

    from ..functions.plan_safe import posexplode_once

    qdots = _centroid_dots("_qvec", centroids)
    probes = (
        posexplode_once(
            queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec")),
            qdots, "list_id", "_cdot",
            keep=[query_id_col, "_qvec"],
        )
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.partitionBy(query_id_col).orderBy(
                    F.desc("_cdot"), F.asc("list_id")
                )
            ),
        )
        .where(F.col("_prank") <= nprobe)
        .select(
            query_id_col, "_qvec", "list_id",
            _norm(F.col("_qvec")).alias("_qn"),
        )
    )

    scored = (
        lists.withColumn("_vn", _norm(F.col(vec_col)))
        .join(F.broadcast(probes), "list_id")
        .select(
            query_id_col,
            id_col,
            F.round(
                _cosine_ridden(
                    F.col("_qvec"), F.col(vec_col), F.col("_qn"), F.col("_vn")
                ),
                round_scale,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def cosine_near_duplicates(
    vectors: DataFrame, threshold: float = 0.95, dim: int | None = None,
    n_planes: int = 0, seed: int = 7,
    id_col: str = "vec_id", vec_col: str = "embedding", round_scale: int = 6,
) -> DataFrame:
    """(a, b, cosine) pairs with cosine >= threshold.

    With ``n_planes`` > 0 the self-join is restricted to random-hyperplane
    buckets (the 100-TB path — the join key prunes the quadratic blow-up);
    with 0 it is the exact brute-force self-join (small inputs / oracle).
    """
    left = vectors.select(
        F.col(id_col).alias("a"), F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    right = vectors.select(
        F.col(id_col).alias("b"), F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    if n_planes > 0:
        assert dim is not None
        bk = rhp_buckets(vectors, dim, n_planes, seed, id_col, vec_col)
        left = left.join(bk.withColumnRenamed(id_col, "a"), "a")
        right = right.join(bk.withColumnRenamed(id_col, "b"), "b")
        joined = left.join(right, "bucket").where(F.col("a") < F.col("b"))
    else:
        joined = left.crossJoin(right).where(F.col("a") < F.col("b"))
    return (
        joined.select(
            "a", "b",
            F.round(
                _cosine_ridden(
                    F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")
                ),
                round_scale,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
