"""Table access for the driver testdata layout (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
