"""Environment-drift smoke test: engine-visible source schemas are pinned.

Round 2's only regression class was *environment drift*: identical code,
but this environment's Spark 4 flipped parquet ``timestamp[us]`` inference
to TIMESTAMP_NTZ and three operators broke. This test freezes the schema
the engine sees after ``load_table`` normalization — if a Spark default
flips again, or the driver regenerates testdata with different physical
types, this fails immediately and points at the drifted column instead of
letting downstream operators fail with cast errors.
"""

from __future__ import annotations

import pytest

from dbt_glue_spark.sources.registry import TABLES, load_table

# Golden engine-visible schema at every SF (load_table output, i.e. after
# nanosAsLong repair + NTZ normalization). Timestamp columns MUST surface
# as "timestamp" (never "timestamp_ntz") — watermarks and epoch arithmetic
# depend on it.
GOLDEN = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


_SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if __import__("os").path.isdir(d)
]


@pytest.mark.parametrize("sf", _SF_DIRS)
@pytest.mark.parametrize("name", TABLES)
def test_engine_visible_schema_matches_golden(spark, sf, name):
    df = load_table(spark, sf, name)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert got == GOLDEN[name], (
        f"schema drift on '{name}' at {sf}: {got} != golden {GOLDEN[name]} — "
        "a Spark inference default or the testdata generator changed; "
        "normalize in sources/registry.load_table, then update GOLDEN"
    )


def test_ntz_normalization_is_robust_to_inference_flip(spark, sf_dir):
    """Even with inferTimestampNTZ forced ON (the raw Spark 4 default that
    broke round 2), load_table must still surface TIMESTAMP."""
    import os

    old = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        assert raw.schema["ts"].dataType.simpleString() == "timestamp_ntz", (
            "precondition: raw read should infer NTZ when the conf is on"
        )
        df = load_table(spark, sf_dir, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", old)


def test_nanosecond_timestamp_with_dashed_name_loads(spark, tmp_path):
    """The timestamp[ns] repair quotes the column name: a parquet column
    named ``event-ts`` loads as TIMESTAMP like any other."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    pq.write_table(
        pa.table(
            {"id": [1], "event-ts": pa.array([ts], pa.timestamp("ns"))}
        ),
        str(tmp_path / "ticks.parquet"),
    )
    df = load_table(spark, str(tmp_path), "ticks")
    assert df.schema["event-ts"].dataType.simpleString() == "timestamp"
    assert df.collect()[0]["event-ts"] == ts


def test_table_rewritten_with_nanosecond_timestamps_is_reread(spark, tmp_path):
    """The footer memo belongs to one version of a file: a path rewritten
    with ``t`` as timestamp[ns] where it was int64 loads ``t`` as
    TIMESTAMP, not as the raw nanoseconds the first footer implied."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "ticks.parquet")
    pq.write_table(pa.table({"t": pa.array([7], pa.int64())}), path)
    assert load_table(spark, str(tmp_path), "ticks").schema["t"].dataType.simpleString() == (
        "bigint"
    )
    ts = datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)
    pq.write_table(pa.table({"t": pa.array([ts], pa.timestamp("ns"))}), path)
    df = load_table(spark, str(tmp_path), "ticks")
    assert df.schema["t"].dataType.simpleString() == "timestamp"
    assert df.collect()[0]["t"] == ts
