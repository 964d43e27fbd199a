"""Seed loading: CSV → typed Spark table.

The reference routes seeds through agate type sniffing, JSON chunking over
the wire (≤60 000 chars/statement, reference: dbt/adapters/glue/
impl.py:623-719) and a cast-back ``selectExpr`` (impl.py:674-690). In
process, chunking disappears; we reproduce the *type mapping* exactly
(impl.py:91-110):

    Text → string, Number(decimals) → double, Number(integral) → bigint,
    Date → date, DateTime → timestamp

plus ``column_types`` overrides applied as ``cast(col as T) as col``.
The rows are already on the driver, so the seed is a local relation
(``session.local_frame``): building and reading it starts no Python worker,
and a naive DateTime is the CSV's wall clock in the session time zone.
"""

from __future__ import annotations

import csv
import datetime as dt
import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dbt_glue_spark.session import local_frame

_DATE_FMTS = ("%Y-%m-%d",)
_TS_FMTS = ("%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S.%f")


def _sniff(values: list[str]):
    """agate-equivalent column type inference over non-empty strings."""
    vals = [v for v in values if v not in ("", None)]
    if not vals:
        return StringType(), lambda v: v or None

    def try_all(fn):
        try:
            return [fn(v) for v in vals] is not None
        except (ValueError, TypeError):
            return False

    if try_all(int):
        return LongType(), lambda v: int(v) if v else None
    if try_all(float):
        return DoubleType(), lambda v: float(v) if v else None
    if all(v.lower() in ("true", "false") for v in vals):
        return BooleanType(), lambda v: v.lower() == "true" if v else None
    for f in _DATE_FMTS:
        if try_all(lambda v: dt.datetime.strptime(v, f)):
            return DateType(), (
                lambda v, _f=f: dt.datetime.strptime(v, _f).date() if v else None
            )
    for f in _TS_FMTS:
        if try_all(lambda v: dt.datetime.strptime(v, f)):
            return TimestampType(), (
                lambda v, _f=f: dt.datetime.strptime(v, _f) if v else None
            )
    return StringType(), lambda v: v or None


def infer_seed_df(
    spark: SparkSession,
    csv_text: str,
    column_types: dict[str, str] | None = None,
) -> DataFrame:
    """Parse CSV text into a typed DataFrame with agate-style inference and
    optional per-column type overrides (seed ``column_types`` config)."""
    rows = list(csv.reader(io.StringIO(csv_text.strip())))
    header, data = rows[0], rows[1:]
    fields, converters = [], []
    for i, name in enumerate(header):
        t, conv = _sniff([r[i] for r in data])
        fields.append(StructField(name, t, True))
        converters.append(conv)
    typed = [tuple(conv(r[i]) for i, conv in enumerate(converters)) for r in data]
    df = local_frame(spark, typed, StructType(fields))
    if column_types:
        # cast-back step, mirroring impl.py:679-690
        df = df.select(
            *[
                F.col(c).cast(column_types[c]).alias(c) if c in column_types else F.col(c)
                for c in df.columns
            ]
        )
    return df
