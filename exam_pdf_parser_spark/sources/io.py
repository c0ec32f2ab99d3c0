"""Table access for the driver testdata layout (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def partition_stats(df):
    """Per-partition row counts — the skew diagnostic behind the north
    rule's per-partition metrics (pair with the manifest table, which
    records per-bucket lineage)."""
    from pyspark.sql import functions as F

    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .count()
        .withColumnRenamed("count", "n_rows")
    )
