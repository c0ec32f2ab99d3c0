"""The declared table schemas (``sources/io.SCHEMAS``) against every
table layout the repo reads: a drifted DDL would read a column as
NULL or fail at exec time, so it must fail here first."""

from __future__ import annotations

import importlib.util
import os

import pyarrow.parquet as pq
import pytest

from exam_pdf_parser_spark.sources.io import SCHEMAS, load

from .test_plan_shapes import SF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTDATA = os.path.dirname(SF)       # the sf0.001/sf0.01/sf0.1 tables


def _footer(path: str):
    return pq.read_schema(path).remove_metadata()


def test_declared_schemas_equal_spark_inference(spark):
    sf = f"{TESTDATA}/sf0.001"
    for name in SCHEMAS:
        path = f"{sf}/{name}.parquet"
        assert load(spark, sf, name).schema == \
            spark.read.parquet(path).schema, name
    with pytest.raises(KeyError):
        load(spark, sf, "no_such_table")


def test_declared_schemas_equal_every_writer(spark, tmp_path,
                                             monkeypatch):
    """The Arrow form of SCHEMAS equals the parquet footers of the
    larger testdata scales, the curation benchmark's generated tables
    and the 10x tables ``scripts/sf1_crosscheck.py`` writes through
    DuckDB (here derived from sf0.001)."""
    import duckdb
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from perfbench.tables import build_tables

    # parsing a DDL needs the active session; timestamp_ntz maps to a
    # zone-less Arrow timestamp
    want = {name: to_arrow_schema(_parse_datatype_string(ddl),
                                  timestamp_utc=False)
            for name, ddl in SCHEMAS.items()}
    for sf in ("sf0.01", "sf0.1"):
        for name in SCHEMAS:
            got = _footer(f"{TESTDATA}/{sf}/{name}.parquet")
            assert got == want[name], (sf, name, got)
    for name, table in build_tables(7).items():
        assert table.schema.remove_metadata() == want[name], name

    monkeypatch.setenv("SPARK_GRAFT_PAIR_SCOPE", "2000")
    spec = importlib.util.spec_from_file_location(
        "sf1_crosscheck", f"{REPO}/scripts/sf1_crosscheck.py")
    sf1 = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sf1)
    out = str(tmp_path / "sf1x")
    con = duckdb.connect()
    try:
        written = sf1.build_tables(con, f"{TESTDATA}/sf0.001", out)
    finally:
        con.close()
    assert written
    for name in written:
        got = _footer(f"{out}/{name}.parquet")
        assert got == want[name], ("sf1_crosscheck", name, got)
