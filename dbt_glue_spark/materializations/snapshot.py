"""SCD type-2 snapshots — dbt's snapshot materialization as a pure
DataFrame plan.

Reference realization: staged MERGE INTO on ``dbt_scd_id`` with
update-close + insert branches (reference: dbt/include/glue/macros/
materializations/snapshot.sql:15-41, 99-226), row hash via
``md5(concat-with-'|')`` (snapshot.sql:1-6), strategies ``timestamp``
(updated_at comparison) and ``check`` (null-safe column diff) from
dbt-core.

Our plan computes the next snapshot state functionally:
``closed ∪ unchanged-open ∪ closed-out-changed ∪ new-versions ∪ inserts``
— one full-outer shuffle on the unique key per run, then a narrow union.
The incremental materializer persists it (native MERGE INTO when a
transactional format is available; table rewrite on plain parquet).

Determinism: ``as_of`` is an explicit parameter instead of the reference's
``current_timestamp()`` (adapters.sql:194-196) so runs are replayable and
oracle-checkable; callers default it to now().
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import scd_hash

META_COLS = ("dbt_scd_id", "dbt_valid_from", "dbt_valid_to", "dbt_updated_at")


def _ts(v) -> Column:
    if isinstance(v, (_dt.datetime, _dt.date)):
        v = v.isoformat(sep=" ")
    return F.lit(v).cast("timestamp")


def first_snapshot(
    source: DataFrame,
    unique_key: list[str],
    as_of,
    strategy: str = "check",
    updated_at: str | None = None,
) -> DataFrame:
    """Initial snapshot: every source row open, valid_from per strategy."""
    vfrom = F.col(updated_at).cast("timestamp") if strategy == "timestamp" else _ts(as_of)
    return source.select(
        "*",
        scd_hash(*unique_key, vfrom).alias("dbt_scd_id"),
        vfrom.alias("dbt_valid_from"),
        F.lit(None).cast("timestamp").alias("dbt_valid_to"),
        vfrom.alias("dbt_updated_at"),
    )


def scd2_apply(
    current: DataFrame | None,
    source: DataFrame,
    unique_key: list[str],
    as_of,
    strategy: str = "check",
    updated_at: str | None = None,
    check_cols: list[str] | None = None,
    invalidate_hard_deletes: bool = False,
) -> DataFrame:
    """Advance an SCD2 snapshot table to reflect ``source`` at ``as_of``.

    - strategy='timestamp': a row changed iff src.updated_at > open-row
      dbt_updated_at; new version's valid_from = src.updated_at.
    - strategy='check': changed iff any check column differs null-safely
      (check_cols=None → all non-key columns); valid_from = as_of.
    - deleted keys close their open row only with invalidate_hard_deletes
      (dbt default false).
    """
    if strategy == "timestamp" and not updated_at:
        raise ValueError("timestamp strategy requires updated_at")
    if current is None:
        return first_snapshot(source, unique_key, as_of, strategy, updated_at)

    data_cols = source.columns
    if strategy == "timestamp":
        # NULL-guard: if src.updated_at or the open row's dbt_updated_at is
        # NULL the comparison is SQL NULL, which must mean "unchanged" (the
        # reference MERGE leaves the target row untouched when the match
        # condition is NULL) — without the coalesce the row satisfies
        # neither branch and silently vanishes from the snapshot.
        changed_pred = F.coalesce(
            F.col(f"s.{updated_at}").cast("timestamp") > F.col("o.dbt_updated_at"),
            F.lit(False),
        )
        new_vfrom = F.col(f"s.{updated_at}").cast("timestamp")
    elif strategy == "check":
        cols = check_cols or [c for c in data_cols if c not in unique_key]
        changed_pred = F.lit(False)
        for c in cols:
            changed_pred = changed_pred | ~F.col(f"o.{c}").eqNullSafe(F.col(f"s.{c}"))
        new_vfrom = _ts(as_of)
    else:
        raise ValueError(f"unknown snapshot strategy: {strategy}")

    closed = current.filter(F.col("dbt_valid_to").isNotNull())
    open_rows = current.filter(F.col("dbt_valid_to").isNull()).alias("o")
    src = source.withColumn("__s", F.lit(1)).alias("s")

    cond = F.lit(True)
    for k in unique_key:
        cond = cond & F.col(f"o.{k}").eqNullSafe(F.col(f"s.{k}"))
    j = open_rows.join(src, cond, "full_outer")

    in_open = F.col("o.dbt_scd_id").isNotNull()
    in_src = F.col("s.__s").isNotNull()

    def open_row_out(valid_to: Column) -> list[Column]:
        return [
            *[F.col(f"o.{c}").alias(c) for c in data_cols],
            F.col("o.dbt_scd_id").alias("dbt_scd_id"),
            F.col("o.dbt_valid_from").alias("dbt_valid_from"),
            valid_to.alias("dbt_valid_to"),
            F.col("o.dbt_updated_at").alias("dbt_updated_at"),
        ]

    def src_row_out() -> list[Column]:
        return [
            *[F.col(f"s.{c}").alias(c) for c in data_cols],
            scd_hash(*[F.col(f"s.{k}") for k in unique_key], new_vfrom).alias("dbt_scd_id"),
            new_vfrom.alias("dbt_valid_from"),
            F.lit(None).cast("timestamp").alias("dbt_valid_to"),
            new_vfrom.alias("dbt_updated_at"),
        ]

    changed = in_open & in_src & changed_pred
    # unchanged open rows (or deletions kept open per default)
    keep_open_pred = in_open & (
        (in_src & ~changed_pred)
        | (~in_src & F.lit(not invalidate_hard_deletes))
    )
    keep_open = j.filter(keep_open_pred).select(
        *open_row_out(F.lit(None).cast("timestamp"))
    )
    close_changed = j.filter(changed).select(*open_row_out(new_vfrom))
    close_deleted = (
        j.filter(in_open & ~in_src).select(*open_row_out(_ts(as_of)))
        if invalidate_hard_deletes
        else None
    )
    new_versions = j.filter(changed).select(*src_row_out())
    inserts = j.filter(in_src & ~in_open).select(*src_row_out())

    out = closed.unionByName(keep_open).unionByName(close_changed)
    if close_deleted is not None:
        out = out.unionByName(close_deleted)
    return out.unionByName(new_versions).unionByName(inserts)
