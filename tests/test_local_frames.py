"""Driver-held frames are local relations (``session.local_frame``).

A frame over rows the driver already holds (a seed, ``Engine.test``'s
report, the docs catalog, small plan-side tables) is built once as an Arrow
table and read back without a Spark job or a Python worker. Seeds keep
agate-style typing, and a naive CSV timestamp is the wall clock in the
session time zone whatever the Python process's ``TZ`` is.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dbt_glue_spark.engine import Engine, Model, ModelConfig
from dbt_glue_spark.materializations.seed import infer_seed_df
from dbt_glue_spark.session import local_frame
from tests.test_schema_test_pass import jobs_run

PKG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "dbt_glue_spark")


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.fixture()
def engine(spark, warehouse):
    schema = f"lf_{uuid.uuid4().hex[:8]}"
    eng = Engine(spark, warehouse, schema=schema)
    yield eng
    eng.catalog.drop_schema(schema)


def test_local_frame_is_a_local_relation_read_without_a_job(spark):
    rows = [(1, "a", b"\x00\x01"), (None, None, None)]
    df = local_frame(spark, rows, "k bigint, `column` string, b binary")
    assert _analyzed(df).startswith("LocalRelation")
    assert df.schema == StructType(
        [
            StructField("k", LongType(), True),
            StructField("column", StringType(), True),
            StructField("b", BinaryType(), True),
        ]
    )
    (out, filtered), jobs = jobs_run(
        spark, lambda: (df.collect(), df.filter("k = 1").select("column").collect())
    )
    assert jobs == 0
    assert [tuple(r) for r in out] == [(1, "a", bytearray(b"\x00\x01")), (None, None, None)]
    assert [tuple(r) for r in filtered] == [("a",)]
    empty = local_frame(spark, [], StructType([StructField("x", IntegerType(), False)]))
    assert empty.schema == StructType([StructField("x", IntegerType(), False)])
    assert empty.collect() == []


def test_seed_run_submits_only_its_write(spark, engine):
    engine.add(
        Model("nation_s", seed_csv="id,name\n1,a\n2,b\n", config=ModelConfig(materialized="seed"))
    )
    seed = infer_seed_df(spark, "id,name\n1,a\n2,b\n")
    assert _analyzed(seed).startswith("LocalRelation")
    _, jobs = jobs_run(spark, lambda: engine.run_model(engine.models["nation_s"]))
    assert jobs == 1
    assert sorted(tuple(r) for r in engine.ref_df("nation_s").collect()) == [(1, "a"), (2, "b")]


SEED_CSV = """id,price,flag,d,ts,name,empty,code
1,1.5,true,2024-01-02,2024-01-02 03:04:05,a,,7
2,,FALSE,,2024-02-03 04:05:06,,,8
,2.25,,2024-03-04,,c,,9
"""


def test_seed_types_schema_and_values(spark):
    df = infer_seed_df(spark, SEED_CSV, {"code": "int", "id": "string"})
    assert df.schema == StructType(
        [
            StructField("id", StringType(), True),
            StructField("price", DoubleType(), True),
            StructField("flag", BooleanType(), True),
            StructField("d", DateType(), True),
            StructField("ts", TimestampType(), True),
            StructField("name", StringType(), True),
            StructField("empty", StringType(), True),
            StructField("code", IntegerType(), True),
        ]
    )
    rows = [tuple(r) for r in df.withColumn("ts", F.col("ts").cast("string")).collect()]
    assert rows == [
        ("1", 1.5, True, dt.date(2024, 1, 2), "2024-01-02 03:04:05", "a", None, 7),
        ("2", None, False, None, "2024-02-03 04:05:06", None, None, 8),
        (None, 2.25, None, dt.date(2024, 3, 4), None, "c", None, 9),
    ]


def test_seed_timestamp_is_the_session_wall_clock_whatever_the_process_tz(spark, monkeypatch):
    csv_text = "t\n2024-01-01 00:00:00\n"
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        with monkeypatch.context() as m:
            m.setenv("TZ", "America/New_York")
            time.tzset()
            for tz, epoch in (("UTC", 1704067200), ("Asia/Tokyo", 1704034800)):
                spark.conf.set("spark.sql.session.timeZone", tz)
                df = infer_seed_df(spark, csv_text)
                got = df.select(F.col("t").cast("string"), F.unix_timestamp("t")).first()
                assert tuple(got) == ("2024-01-01 00:00:00", epoch), tz
    finally:
        time.tzset()
        spark.conf.set("spark.sql.session.timeZone", session_tz)


def test_create_dataframe_is_called_only_by_the_helper_and_two_engine_sites():
    """Every driver-held frame goes through ``local_frame``; the only other
    ``createDataFrame`` calls convert user objects of arbitrary shape:
    ``_model_df``'s pandas result and ``unit_test``'s fixtures."""
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        with open(path) as fh:
            for line in fh:
                if "createDataFrame(" in line:
                    sites.append((os.path.relpath(path, PKG), line.strip()))
    assert sites == [
        ("engine.py", "out = self.spark.createDataFrame(out)"),
        ("engine.py", "return self.spark.createDataFrame(*data)"),
        ("engine.py", "return self.spark.createDataFrame(data)"),
        (
            "session.py",
            "return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)",
        ),
    ]
