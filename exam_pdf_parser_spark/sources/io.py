"""Table access for the testdata layout (TESTDATA.md).

Every table is read with a declared schema, so building a plan over it
starts no Spark job: a bare ``spark.read.parquet`` infers the schema
from the file footers, and that inference is one job per read.  The
DDLs are the schemas Spark infers from the testdata tables (pyarrow
writes ``timestamp[us]`` without a zone, which Spark reads as
``timestamp_ntz``); ``tests/test_sources_schema.py`` checks them
against every table layout the repo reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": ("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                 "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier": ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, "
                 "s_acctbal DOUBLE"),
    "part": ("p_partkey BIGINT, p_name STRING, p_brand STRING, "
             "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders": ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
               "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
               "o_orderpriority STRING"),
    "lineitem": ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                 "l_linenumber INT, l_quantity DOUBLE, "
                 "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                 "l_returnflag STRING, l_linestatus STRING, "
                 "l_shipdate TIMESTAMP_NTZ"),
    "events": ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
               "event_type STRING, value DOUBLE, props STRING"),
    "documents": ("doc_id BIGINT, text STRING, lang STRING, source STRING, "
                  "n_chars BIGINT"),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``{sf_dir}/{name}.parquet`` under its declared schema; an unknown
    ``name`` raises ``KeyError``.  Build-time jobs: none."""
    return spark.read.schema(SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet")
