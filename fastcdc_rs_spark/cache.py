"""Cache ownership: one registry of persisted frames.

Every operator that ``persist()``s an intermediate registers it with
``register_cache``. A run wraps its operators in ``scope()``, which
unpersists every frame registered inside the block when it exits,
normally or by an exception, except the ones the block ``keep``s for its
caller. ``release_all`` drains what is left, so a long-lived session
(bench runs 15+ queries back-to-back) never accumulates dead cached
blocks, and a later identical plan never hits an earlier run's cache.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame

__all__ = ["register_cache", "release_all", "release_caches", "scope"]

# registered frames not yet released, in registration order: a scope
# owns the tail registered after it opened
_REGISTRY: list[DataFrame] = []


def register_cache(df: DataFrame) -> DataFrame:
    _REGISTRY.append(df)
    return df


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped


def release_all() -> None:
    """Unpersist every registered frame (idempotent; drains the registry)."""
    while _REGISTRY:
        _unpersist(_REGISTRY.pop())


def release_caches(*dfs: DataFrame) -> None:
    """Unpersist the given frames."""
    for df in dfs:
        if df.storageLevel.useMemory or df.storageLevel.useDisk:
            df.unpersist()


@contextmanager
def scope() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Release every frame registered inside the block when it exits.

    Yields ``keep``: ``keep(df)`` registers ``df`` and, if the block
    succeeds, leaves it registered (owned by the enclosing scope, if
    any); if the block raises, it is released with the rest."""
    start = len(_REGISTRY)
    kept: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        kept.append(df)
        return register_cache(df)

    try:
        yield keep
    except BaseException:
        kept.clear()
        raise
    finally:
        for df in _REGISTRY[start:]:
            if not any(df is k for k in kept):
                _unpersist(df)
        _REGISTRY[start:] = kept
