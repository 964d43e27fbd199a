"""Governance + metadata operators: catalog extraction, secured views,
storage maintenance.

- ``catalog_info`` re-expresses the reference's docs/catalog extraction
  (``get_catalog``: per-schema boto3 get_tables + DESCRIBE fan-out on a
  thread pool, reference: dbt/adapters/glue/impl.py:538-612) as a direct
  ``spark.catalog`` traversal producing the same 10-column shape.
- ``create_secured_view`` stands in for Lake Formation data-cell filters
  (row filter expression + include/exclude column lists per principal,
  reference: dbt/adapters/glue/lakeformation.py:167-204, 220-333): the
  engine enforces them as a projected+filtered VIEW, which is exactly what
  LF compiles to at query time.
- ``vacuum_versions`` is the plain-parquet analogue of the reference's
  per-run Iceberg snapshot expiry (``expire_snapshots`` after every
  incremental, reference: impl.py:1053-1085, incremental.sql:117-119):
  rewriting materializations leave ``__v{n}`` generations behind; keep the
  newest K and delete the rest.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from dbt_glue_spark.session import local_frame

CATALOG_COLUMNS = [
    "table_database",
    "table_schema",
    "table_name",
    "table_type",
    "table_comment",
    "column_name",
    "column_index",
    "column_type",
    "column_comment",
    "stats",
]


def catalog_info(spark: SparkSession, schemas: list[str]) -> DataFrame:
    """One row per column of every relation in ``schemas`` — the docs
    extraction shape (impl.py:559-612's agate table, 10 fixed columns)."""
    rows: list[tuple] = []
    for schema in schemas:
        if not spark.catalog.databaseExists(schema):
            continue
        for t in spark.catalog.listTables(schema):
            if t.tableType == "TEMPORARY":
                continue
            rtype = "view" if t.tableType == "VIEW" else "table"
            full = f"{schema}.{t.name}"
            for i, f in enumerate(spark.table(full).schema.fields):
                rows.append(
                    (
                        schema,  # database == schema (credentials.py:69-78)
                        schema,
                        t.name,
                        rtype,
                        t.description or "",
                        f.name,
                        str(i),
                        f.dataType.simpleString(),
                        f.metadata.get("comment", "") if f.metadata else "",
                        "",
                    )
                )
    schema_t = StructType([StructField(c, StringType(), True) for c in CATALOG_COLUMNS])
    return local_frame(spark, rows, schema_t)


def create_secured_view(
    spark: SparkSession,
    source: str,
    view_name: str,
    row_filter: str | None = None,
    column_names: list[str] | None = None,
    excluded_column_names: list[str] | None = None,
    masked_columns: dict[str, str] | None = None,
) -> None:
    """Row/column-security view (LF FilterConfig semantics): exactly one of
    ``column_names`` / ``excluded_column_names`` may be given
    (lakeformation.py:168-201 enforces the XOR), plus an optional row
    filter expression.

    ``masked_columns`` maps column → replacement SQL expression (e.g.
    ``{"email": "sha2(email, 256)"}``): the column keeps its name but
    consumers see the masked value — dynamic data masking, the third leg
    of row/column/cell-level security."""
    if column_names and excluded_column_names:
        raise ValueError("column_names and excluded_column_names are exclusive")
    if column_names:
        visible = list(column_names)
    elif excluded_column_names:
        all_cols = spark.table(source).columns
        visible = [c for c in all_cols if c not in set(excluded_column_names)]
    else:
        visible = spark.table(source).columns
    masked = masked_columns or {}
    unknown = set(masked) - set(visible)
    if unknown:
        raise ValueError(f"masked columns not in view: {sorted(unknown)}")
    cols = ", ".join(
        f"{masked[c]} AS {c}" if c in masked else c for c in visible
    )
    where = f" WHERE {row_filter}" if row_filter else ""
    spark.sql(
        f"CREATE OR REPLACE VIEW {view_name} AS SELECT {cols} FROM {source}{where}"
    )


_VERSION_RE = re.compile(r"^(?P<base>.+)__v(?P<ver>\d+)$")


def scan_versions(base_dir: str, base_name: str) -> list[tuple[int, str]]:
    """All retained ``{base_name}__v{n}`` generations directly under
    ``base_dir``, newest first, as (version, path). Works for both the
    warehouse layout ({warehouse}/{schema}/{model}__v{n}) and custom
    locations ({custom}__v{n} beside the configured path)."""
    if not os.path.isdir(base_dir):
        return []
    versions: list[tuple[int, str]] = []
    for entry in os.listdir(base_dir):
        m = _VERSION_RE.match(entry)
        if m and m.group("base") == base_name:
            versions.append((int(m.group("ver")), os.path.join(base_dir, entry)))
    versions.sort(reverse=True)
    return versions


def vacuum_versions_at(base_dir: str, base_name: str, keep: int = 1) -> list[str]:
    """Delete all but the newest ``keep`` generations under ``base_dir``.
    Returns the deleted paths. Safe to run after every incremental, like
    the reference's default-on snapshot expiry."""
    deleted = []
    for _, path in scan_versions(base_dir, base_name)[keep:]:
        shutil.rmtree(path, ignore_errors=True)
        deleted.append(path)
    return deleted


def vacuum_versions(warehouse: str, schema: str, model_name: str, keep: int = 1) -> list[str]:
    """Warehouse-layout vacuum (see ``vacuum_versions_at``)."""
    return vacuum_versions_at(os.path.join(warehouse, schema), model_name, keep)

