"""SparkSession factory with scale-ready defaults.

The reference ships every statement to a remote Glue Spark cluster
(reference: dbt/adapters/glue/gluedbapi/connection.py:396-491); our engine
runs Spark in-process. The confs below are the ones the reference relies on
implicitly plus the ones a 100 TB deployment needs from day one:

- ``spark.sql.sources.partitionOverwriteMode=dynamic`` — the reference gets
  the same effect via ``set hive.exec.dynamic.partition.mode=nonstrict``
  before every INSERT OVERWRITE (reference:
  dbt/include/glue/macros/materializations/incremental/strategies.sql:14);
  without it a partitioned INSERT OVERWRITE truncates the whole table.
- AQE on (+ skew-join handling) so shuffle partitioning re-plans at runtime;
  at 100 TB this is what absorbs skewed merge/join keys.
- Arrow execution for any pandas interchange (the reference's ``use_arrow``
  results channel, reference: connection.py:448-484, collapses to
  ``df.toPandas()`` in-process).
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver/executors and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Defaults tuned for the local[32] test harness; on a real cluster the same
# settings scale: shuffle.partitions is a floor that AQE coalesces down from,
# and at 100 TB you raise it (e.g. 2000-8000) rather than rewrite code.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Read parquet TIMESTAMP(NANOS) as bigint ns (sources/registry.py
    # converts back to timestamp_micros); vectorized reader errors otherwise.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Spark 4 infers parquet timestamp[us] w/o tz metadata as TIMESTAMP_NTZ,
    # which watermarks reject and cast-to-long forbids. The engine owns
    # timestamp semantics (session tz pinned UTC, matching the DuckDB
    # oracle), so pin inference to TIMESTAMP here; sources/registry.py
    # additionally normalizes any NTZ column that slips through a reader
    # that didn't get this conf (e.g. a driver-provided static session).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce the shuffle partitions of a plan that is being
    # cached. Spark's default (false) plans every persisted frame with
    # coalescing off, so each one keeps all shuffle.partitions partitions
    # and every stage that reads it runs that many tasks over a few KB
    # each (the near-dup tier's _persist'ed sig/cand/edges frames). A
    # by-number repartition(n, col) is never coalesced, so explicit
    # co-partitioning keeps its n partitions. Measured on the perfbench neardup_corpus
    # workload (4 CPUs, local[2]): 790 -> 73 tasks per pass, wall_s
    # -29 % (17.1 s -> 12.1 s, median of 3 alternated seeds), output
    # fingerprints exact.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # Let the planner pick shuffled-hash join when its size conditions
    # hold instead of always preferring sort-merge (r12 interleaved
    # A/B: -14% minhash LSH, -21% q21, -8% triangle, -5% basket lift,
    # no measured loser over 7-rep dup_clusters). Scale-safe: the
    # planner only builds a local hash map when the per-partition build
    # side fits (canBuildLocalHashMap), and AQE skew-join splitting
    # covers shuffled-hash joins as well as sort-merge since Spark 3.2.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Hold one pass's generated classes in Spark's codegen cache (static
    # conf: one value per JVM, read at the first codegen). With Spark's
    # default of 100, a pass that compiles more classes than that evicts
    # and recompiles the last pass's. Measured on 4 CPUs, sf0.001: running
    # ext_minhash_lsh_pairs and ext_prefix_jaccard_join (~113 classes)
    # twice in one JVM recompiles 83 classes on the repeat at 100 and
    # 0-4 at 1000 (tests/test_session_deps.py pins it).
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Plain-parquet tables + overwrite materializations: skip _SUCCESS files
    "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


# Lakehouse-format session extensions (reference session requirements,
# SURVEY.md §4: spark.sql.extensions + catalog conf per format). Applied
# only when the corresponding jars are importable — this environment ships
# neither, so the engine composes merge/snapshot plans itself; on a real
# cluster these confs light up native MERGE INTO / time travel with zero
# engine-code changes.
_LAKEHOUSE_CONF: dict[str, dict[str, str]] = {
    "delta": {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    },
    "iceberg": {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        "spark.sql.catalog.spark_catalog": (
            "org.apache.iceberg.spark.SparkSessionCatalog"
        ),
        "spark.sql.catalog.spark_catalog.type": "hive",
    },
}


def lakehouse_available(fmt: str) -> bool:
    """True if the format's Spark integration is importable in this env."""
    try:
        if fmt == "delta":
            import delta  # noqa: F401

            return True
        if fmt == "iceberg":  # no python probe; jar presence via classpath
            import importlib.util

            return importlib.util.find_spec("pyiceberg") is not None
    except ImportError:
        return False
    return False


def get_spark(
    app_name: str = "dbt_glue_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
    lakehouse: str | None = None,
    jars: list[str] | None = None,
    py_files: list[str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster
    pass None with a pre-configured spark-submit and the builder inherits it.
    ``lakehouse='delta'|'iceberg'`` applies the format's session extensions
    when its integration is installed (no-op with a warning otherwise).
    ``jars``/``py_files`` ship UDF dependencies to executors — the
    reference's extra_jars / extra_py_files session params (reference:
    dbt/adapters/glue/credentials.py:17,24,49, applied at session create,
    connection.py:162-169).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = build_conf(
        extra_conf=extra_conf,
        warehouse_dir=warehouse_dir,
        lakehouse=lakehouse,
        jars=jars,
        py_files=py_files,
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def build_conf(
    extra_conf: dict[str, str] | None = None,
    warehouse_dir: str | None = None,
    lakehouse: str | None = None,
    jars: list[str] | None = None,
    py_files: list[str] | None = None,
) -> dict[str, str]:
    """The exact conf dict :func:`get_spark` applies — exposed so the
    jars/py_files/lakehouse plumbing is testable without building a
    session (``getOrCreate`` returns the live session in a test process,
    silently ignoring new conf)."""
    conf = dict(_DEFAULT_CONF)
    if lakehouse:
        if lakehouse_available(lakehouse):
            conf.update(_LAKEHOUSE_CONF[lakehouse])
        else:
            import warnings

            warnings.warn(
                f"{lakehouse} integration not installed; session built "
                "without it (engine falls back to composed merge/rewrite)",
                stacklevel=2,
            )
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if jars:
        conf["spark.jars"] = ",".join(jars)
    if py_files:
        conf["spark.submit.pyFiles"] = ",".join(py_files)
    if extra_conf:
        conf.update(extra_conf)
    # Deployment/experiment override hook: SPARK_GRAFT_CONF_JSON holds a
    # JSON object of conf key -> value applied LAST. This is how a real
    # cluster submission overrides the local-harness defaults above
    # (e.g. shuffle.partitions for a 100 TB run) without code edits, and
    # how A/B conf experiments run against the unmodified bench harness.
    env_json = os.environ.get("SPARK_GRAFT_CONF_JSON", "").strip()
    if env_json:
        import json

        conf.update({str(k): str(v) for k, v in json.loads(env_json).items()})
    return conf


def add_py_files(spark: SparkSession, paths: list[str]) -> None:
    """Ship python dependencies to executors on a LIVE session — the
    runtime counterpart of the ``py_files`` session param (the reference
    applies extra_py_files at session create, credentials.py:24,49;
    ``sc.addPyFile`` is the only way to add one after the JVM exists).
    Files become importable inside UDFs/mapInPandas on every executor."""
    for p in paths:
        spark.sparkContext.addPyFile(p)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: StructType | str
) -> DataFrame:
    """A frame over rows the driver already holds, as a ``LocalRelation``:
    the rows travel to the JVM once as an Arrow table, and collecting,
    filtering or joining the frame starts no Python worker. A frame made
    from a Python list is a PythonRDD instead, so its first action on a
    fresh SparkContext starts the PySpark worker daemon.

    ``schema`` is a ``StructType`` or a DDL string. A naive ``datetime``
    in a timestamp column is a wall clock in the session time zone, as
    Spark reads one anywhere else; the Python process's ``TZ`` plays no
    part."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema, timestamp_utc=False)
    cols = [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow)]
    return spark.createDataFrame(pa.Table.from_arrays(cols, schema=arrow), schema)
