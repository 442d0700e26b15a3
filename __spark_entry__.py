"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query on /root/testdata/sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB-runnable ANSI SQL twins (same column names; the
                 driver compares row count + schema + order-insensitive
                 value hash at sf0.01).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: cell-indexed point-in-polygon spatial join + per-polygon
    counts over sf0.001 (points derived from lineitem, boxes from nation),
    exercising the driver-built (polygon, cell, edge-slot) table broadcast
    to one hash join whose condition holds the bbox prefilter and the
    codegen ray-casting parity, and aggregation."""
    from gdal_spark.queries.spatial_sql import cell_pip_join

    return cell_pip_join(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from gdal_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from gdal_spark.queries import all_oracles

    return all_oracles()
