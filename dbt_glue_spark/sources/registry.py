"""Source registry: the driver's synthetic star schema + generic readers.

The reference resolves ``source()``/``ref()`` to Glue catalog tables
(reference: dbt/include/glue/macros/python_utils.sql:32-49 maps
``dbt.ref`` → ``spark.table``). In-process we map a source name to a parquet
path and expose it both as a DataFrame and as a temp view so model SQL can
reference it by name.

Scan-path notes for 100 TB: ``spark.read.parquet`` keeps predicate pushdown
and column pruning (verify with ``df.explain``: PushedFilters / ReadSchema).
Splitting is governed by ``spark.sql.files.maxPartitionBytes`` — no code
change needed between sf0.001 and 100 TB.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


#: path -> ((mtime_ns, size) the footer was read at, nanos columns)
_NANO_TS_COLS: dict[str, tuple[tuple[int, int], list[str]]] = {}


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (footer-only read, cached
    per path until the path's mtime or size changes, so a table rewritten
    with other column types is read afresh).

    Spark's vectorized reader rejects TIMESTAMP(NANOS) outright
    (PARQUET_TYPE_ILLEGAL); with ``spark.sql.legacy.parquet.nanosAsLong``
    the column surfaces as bigint nanoseconds, which we convert back to a
    proper timestamp. ns→µs truncation matches DuckDB's TIMESTAMP_NS →
    TIMESTAMP cast, so oracle values agree exactly.
    """
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    cached = _NANO_TS_COLS.get(path)
    if cached is None or cached[0] != stamp:
        if os.path.isdir(path):
            # directory-style table (standard Spark writer layout):
            # pq.read_schema only accepts a single file, so resolve the
            # unified schema through pyarrow.dataset instead
            import pyarrow.dataset as ds

            schema = ds.dataset(path, format="parquet").schema
        else:
            schema = pq.read_schema(path)
        cached = _NANO_TS_COLS[path] = (
            stamp,
            [f.name for f in schema if str(f.type) == "timestamp[ns]"],
        )
    return cached[1]


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to TIMESTAMP (session tz = UTC).

    Single choke-point for timestamp-type semantics: Spark 4's
    ``inferTimestampNTZ`` default reads tz-less parquet ``timestamp[us]``
    as TIMESTAMP_NTZ, which ``withWatermark`` rejects and arithmetic casts
    forbid. The session conf pins inference off, but a reader built from a
    session the engine didn't configure can still surface NTZ — so every
    source load funnels through this normalization. With the session tz
    pinned UTC the wall-clock values are identical, matching the DuckDB
    oracle (whose columns are tz-less too).
    """
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table from ``sf_dir`` as a DataFrame."""
    from pyspark.sql.types import LongType

    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    nano_cols = set(_nano_ts_columns(path))
    for field in df.schema.fields:
        # Convert only when Spark ACTUALLY surfaced the column as bigint
        # (the nanosAsLong path for TIMESTAMP(NANOS)). The pyarrow footer
        # check alone is not sufficient: Spark-written INT96 timestamps
        # also report as timestamp[ns] in pyarrow, but Spark reads them
        # as TIMESTAMP directly — applying `div 1000` there is a type
        # error on a perfectly valid table.
        if field.name in nano_cols and isinstance(field.dataType, LongType):
            df = df.withColumn(
                field.name, F.expr(f"timestamp_micros(`{field.name}` div 1000)")
            )
    return normalize_timestamps(df)


def register_sources(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every table in ``sf_dir`` as a session temp view.

    Returns the name → DataFrame mapping. Views are zero-cost (no
    materialization); Catalyst prunes columns/predicates through them.
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
