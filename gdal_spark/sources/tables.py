"""Loaders for the driver-provided parquet tables.

GDAL's GDALOpenEx probes ~190 drivers (gcore/gdaldataset.cpp:4045); here
every source is parquet/Iceberg and Catalyst handles pushdown — the only
"driver" logic left is the image-codec registry (functions/codecs.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
