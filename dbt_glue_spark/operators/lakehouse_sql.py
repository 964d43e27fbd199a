"""Native lakehouse SQL the engine emits when Delta/Iceberg jars exist.

`engine._write_swap` is the substitution point for transactional formats;
this module renders the statements that substitution executes — the
executable evidence for the jar-gated S5/S7 rows. No jars are needed to
VERIFY the statements (golden-SQL tests assert the exact text and the
exact session conf); with jars on a real cluster, `Engine.lakehouse_dry_run`
output is what runs.

Statement shapes follow the reference's macros:
- MERGE INTO with DBT_INTERNAL_DEST / DBT_INTERNAL_SOURCE alias names, key
  equality predicates ANDed with incremental_predicates, ``ON FALSE``
  when no unique key, ``UPDATE SET *`` or an explicit update-column list,
  and a full-column INSERT (reference: dbt/include/glue/macros/
  materializations/incremental/strategies.sql:42-93).
- CREATE OR REPLACE TABLE ... USING <format> for table/first-run
  materializations (reference: dbt/include/glue/macros/adapters.sql
  create-table path; Delta impl.py:795-879, Iceberg adapters.sql:162-174).
"""

from __future__ import annotations


def merge_into_sql(
    target: str,
    source: str,
    dest_columns: list[str],
    unique_key: list[str] | str | None,
    update_columns: list[str] | None = None,
    exclude_columns: list[str] | None = None,
    incremental_predicates: list[str] | None = None,
) -> str:
    """Render the native ``MERGE INTO`` for a merge-strategy incremental.

    Mirrors merge_upsert's DataFrame semantics statement-for-statement:
    same key condition, same predicate ANDing, same update-column
    resolution (update_columns wins; else all-but-excluded; else ``*``).
    """
    if isinstance(unique_key, str):
        unique_key = [unique_key]
    preds = list(incremental_predicates or [])
    if unique_key:
        preds = [
            f"DBT_INTERNAL_SOURCE.{k} = DBT_INTERNAL_DEST.{k}" for k in unique_key
        ] + preds
    else:
        # no key → never matches → insert-only append (strategies.sql:75-77)
        preds = ["FALSE"] + preds
    if update_columns is None and exclude_columns:
        update_columns = [c for c in dest_columns if c not in set(exclude_columns)]
    if update_columns:
        update_set = ", ".join(
            f"{c} = DBT_INTERNAL_SOURCE.{c}" for c in update_columns
        )
    else:
        update_set = "*"
    cols_csv = ", ".join(dest_columns)
    src_csv = ", ".join(f"DBT_INTERNAL_SOURCE.{c}" for c in dest_columns)
    return (
        f"MERGE INTO {target} AS DBT_INTERNAL_DEST\n"
        f"USING {source} AS DBT_INTERNAL_SOURCE\n"
        f"ON {' AND '.join(preds)}\n"
        f"WHEN MATCHED THEN UPDATE SET {update_set}\n"
        f"WHEN NOT MATCHED THEN INSERT ({cols_csv}) VALUES ({src_csv})"
    )


def create_or_replace_sql(
    target: str,
    select_sql: str,
    file_format: str,
    partition_by: list[str] | None = None,
    location: str | None = None,
    tblproperties: dict[str, str] | None = None,
) -> str:
    """Render ``CREATE OR REPLACE TABLE ... USING <format> AS <select>``
    — the transactional-format replacement for the versioned-parquet
    stage-then-rename swap (atomicity moves from the engine's catalog
    flip into the format's commit protocol)."""
    parts = [f"CREATE OR REPLACE TABLE {target}", f"USING {file_format}"]
    if partition_by:
        parts.append(f"PARTITIONED BY ({', '.join(partition_by)})")
    if location:
        parts.append(f"LOCATION '{location}'")
    if tblproperties:
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(tblproperties.items()))
        parts.append(f"TBLPROPERTIES ({kv})")
    parts.append(f"AS\n{select_sql}")
    return "\n".join(parts)
