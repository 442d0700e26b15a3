from __future__ import annotations

from contextlib import contextmanager

import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_session

    s = get_session(app_name="gdal_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@contextmanager
def broadcast_threshold(spark, value):
    """spark.sql.autoBroadcastJoinThreshold set to `value` (None: left as
    it is) inside the block, and put back to the value it had before."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)
