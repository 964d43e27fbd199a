"""Data-quality test operators (dbt generic tests).

Each returns a DataFrame of *failing* rows — empty result ⇒ test passes,
matching dbt's convention. Reference SQL shapes:

- accepted_values: group-by + NOT IN filter (reference: dbt/include/glue/
  macros/generic_test_sql/accepted_values.sql:1-23)
- relationships: left-anti orphan check (reference:
  generic_test_sql/relationships.sql:1-19)
- unique / not_null: dbt-core built-ins exercised by the adapter suite
  (reference: tests/functional/adapter/test_basic.py:346-368)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def unique(df: DataFrame, column: str | list[str]) -> DataFrame:
    """Failing rows: key values appearing more than once, with counts."""
    cols = [column] if isinstance(column, str) else list(column)
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n_records"))
        .filter(F.col("n_records") > 1)
    )


def not_null(df: DataFrame, column: str) -> DataFrame:
    return df.filter(F.col(column).isNull())


def accepted_values(
    df: DataFrame, column: str, values: list, quote_values: bool = True
) -> DataFrame:
    """Group-by counts of values outside the accepted list. ``quote_values``
    mirrors the reference's quote toggle (accepted_values.sql:14-20) —
    with quote=False each accepted value becomes a float literal and the
    column is compared against those (numeric semantics)."""
    vals = values if quote_values else [float(v) for v in values]
    return (
        df.groupBy(F.col(column).alias("value_field"))
        .agg(F.count("*").alias("n_records"))
        .filter(~F.col("value_field").isin(vals))
    )


def relationships(
    child: DataFrame, child_column: str, parent: DataFrame, parent_column: str
) -> DataFrame:
    """Orphaned child keys: child LEFT ANTI JOIN parent on the FK, nulls
    excluded (dbt convention: null FKs are not_null's business)."""
    c = child.filter(F.col(child_column).isNotNull()).select(
        F.col(child_column).alias("from_field")
    )
    p = parent.select(F.col(parent_column).alias("to_field"))
    return c.join(p, c.from_field == p.to_field, "left_anti").distinct()


def finite(df: DataFrame, column: str) -> DataFrame:
    """Failing rows: NaN or ±Infinity in a float/double measure column.

    Extension beyond dbt's generic tests, paired with the engine's
    declared non-finite policy: exact-decimal aggregates CAST measures
    to DECIMAL, where Spark silently maps NaN/Inf → NULL (even under
    ANSI) — a non-finite measure therefore VANISHES from totals instead
    of poisoning them. Run this gate (or read column_profile's
    n_nonfinite) before trusting a measure column; NULL values pass
    (not_null's business, per the dbt convention).
    """
    c = F.col(column)
    return df.filter(F.isnan(c) | (F.abs(c) == float("inf")))
