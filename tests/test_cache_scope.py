"""One cache owner: operators register what they persist, and a run
releases it through ``cache.scope()`` — on success and on failure."""

from __future__ import annotations

import pytest

from fastcdc_rs_spark import cache
from fastcdc_rs_spark.corpus import corpus_pandas


def _persisted(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _frame(spark, n: int):
    df = spark.range(n).persist()
    df.count()
    return df


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def _registered(df) -> bool:
    return any(r is df for r in cache._REGISTRY)


def test_scope_releases_only_frames_registered_inside(spark):
    outside = cache.register_cache(_frame(spark, 3))
    unowned = _frame(spark, 4)
    with cache.scope():
        inside = cache.register_cache(_frame(spark, 5))
        assert _cached(inside) and _registered(inside)
    assert not _cached(inside) and not _registered(inside)
    assert _cached(outside) and _registered(outside)
    assert _cached(unowned)
    unowned.unpersist()


def test_scope_nests_and_keep_survives_success(spark):
    with cache.scope() as outer_keep:
        x = cache.register_cache(_frame(spark, 6))
        kept_out = outer_keep(_frame(spark, 7))
        with cache.scope() as keep:
            y = cache.register_cache(_frame(spark, 8))
            z = keep(_frame(spark, 9))
        # the inner scope released its own frame and nothing of the outer
        assert not _cached(y) and not _registered(y)
        assert _cached(x) and _cached(z) and _registered(z)
    # z was kept by the inner scope only: the outer one owns it now
    assert not _cached(x) and not _cached(z) and not _registered(z)
    assert _cached(kept_out) and _registered(kept_out)
    cache.release_all()
    assert not _cached(kept_out) and not cache._REGISTRY


def test_scope_releases_kept_frames_on_failure(spark):
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with cache.scope() as keep:
            k = keep(_frame(spark, 10))
            r = cache.register_cache(_frame(spark, 11))
            raise RuntimeError("boom")
    assert not _cached(k) and not _cached(r)
    assert not cache._REGISTRY
    assert _persisted(spark) == before


@pytest.fixture(params=["before_pull", "after_pull"])
def failing_cc(request, spark, monkeypatch):
    """Make connected_components raise inside near_dup_clusters, either
    before it pulls the verified edges or after (in the driver
    union-find). The after-pull case also turns auto-broadcast off, so
    verify builds and persists its degree table too."""
    from fastcdc_rs_spark import pipeline
    from fastcdc_rs_spark.operators import components

    pulled = []

    def boom(*args, **kwargs):
        raise RuntimeError("cc failed")

    def boom_after_pull(spark_, edge_pdf, *args, **kwargs):
        pulled.append(len(edge_pdf))
        boom()

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    if request.param == "before_pull":
        monkeypatch.setattr(pipeline, "connected_components", boom)
    else:
        monkeypatch.setattr(components, "_cc_driver", boom_after_pull)
        spark.conf.set(key, "-1")
    yield request.param, pulled
    spark.conf.set(key, before)


def test_failed_run_leaves_no_persisted_rdd(spark, failing_cc):
    from fastcdc_rs_spark.pipeline import DedupConfig, near_dup_clusters

    pdf = corpus_pandas(n_docs=120, seed=5).reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    before = _persisted(spark)
    with pytest.raises(RuntimeError, match="cc failed"):
        near_dup_clusters(docs, DedupConfig(), collect_metrics=True)
    where, pulled = failing_cc
    if where == "after_pull":
        assert len(pulled) == 1 and pulled[0] > 0  # the edges were pulled
    left = _persisted(spark) - before
    assert not left, f"persisted RDDs left by a failed run: {sorted(left)}"
    assert not cache._REGISTRY
