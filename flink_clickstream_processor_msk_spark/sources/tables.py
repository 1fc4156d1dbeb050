"""Batch parquet table loader for the driver-generated test tiers.

Tables per /root/repo/TESTDATA.md: region nation customer supplier part
orders lineitem events documents embeddings — one parquet file per table
under /root/testdata/sf{0.001,0.01,0.1}/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Replicated tiers (tools/scale10x.py) shift every integer key by
# ID_STRIDE per replica, so pmod(id, ID_STRIDE) is the 1x id on any tier.
ID_STRIDE = 10_000_000


def read_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one test table. Parquet scan → full pushdown/pruning support."""
    base = sf_dir or DEFAULT_SF_DIR
    return spark.read.parquet(f"{base}/{name}.parquet")
