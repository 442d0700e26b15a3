"""Bucketed co-located joins: both sides written bucketBy the join key
-> the equi-join plans with ZERO Exchange (the 100 TB shuffle
eliminator). Also proves the negative: the same join over plain
parquet shuffles."""

import pytest
from pyspark.sql import functions as F

from gdal_spark.sources.bucketing import (
    assert_no_join_exchange,
    bucketed_join,
    join_exchange_count,
    write_bucketed,
)
from conftest import broadcast_threshold


@pytest.fixture(scope="module")
def tables(spark):
    images = spark.range(2000).select(
        F.col("id").alias("image_id"),
        (F.col("id") % 64).alias("cell"),
        (F.col("id") * 7 % 97).alias("v"),
    )
    cells = spark.range(64).select(
        F.col("id").alias("cell"), (F.col("id") * 3).alias("w")
    )
    write_bucketed(images, "b_images", "cell", n_buckets=8)
    write_bucketed(cells, "b_cells", "cell", n_buckets=8)
    yield
    spark.sql("DROP TABLE IF EXISTS b_images")
    spark.sql("DROP TABLE IF EXISTS b_cells")


def test_bucketed_join_has_no_exchange(spark, tables):
    # broadcast would trivially avoid the shuffle; force the merge path
    with broadcast_threshold(spark, "-1"):
        j = bucketed_join(spark, "b_images", "b_cells", "cell")
        assert_no_join_exchange(j)
        got = j.agg(F.sum(F.col("v") * F.col("w")).alias("s")).collect()[0].s
        want = (
            spark.table("b_images")
            .join(F.broadcast(spark.table("b_cells")), "cell")
            .agg(F.sum(F.col("v") * F.col("w")))
            .collect()[0][0]
        )
        assert got == want


def test_unbucketed_join_shuffles(spark, tables):
    with broadcast_threshold(spark, "-1"):
        a = spark.table("b_images").select("image_id", "cell", "v")
        plain = a.repartition(8)  # strips the bucket distribution
        j = plain.join(spark.table("b_cells"), "cell")
        assert join_exchange_count(j) > 0


def test_bucketed_groupby_is_shuffle_free(spark, tables):
    with broadcast_threshold(spark, "-1"):
        g = spark.table("b_images").groupBy("cell").agg(F.sum("v").alias("s"))
        assert join_exchange_count(g) == 0
