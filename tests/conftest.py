from __future__ import annotations

import os

import pytest

os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")


@pytest.fixture(scope="session")
def spark():
    from fastcdc_rs_spark.session import spark_session

    s = spark_session(app="fastcdc-rs-spark-tests", cores=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_registered_caches():
    """Drain the cache registry after every test: a frame one test leaves
    cached would serve a later test's identical plan and hide its jobs."""
    yield
    from fastcdc_rs_spark.cache import release_all

    release_all()
