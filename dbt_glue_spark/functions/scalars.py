"""Scalar helpers mirroring the reference's emitted SQL functions.

Reference inventory (SURVEY.md §2.8): the adapter itself only emits
``md5(concat-with-'|')`` row hashes for SCD2 snapshots
(reference: dbt/include/glue/macros/materializations/snapshot.sql:1-6),
``coalesce(cast(x as string),'')`` null-safe casts, ``current_timestamp()``,
and seed ``cast(col as T)`` — everything else is Spark's own scalar library,
which we get natively via ``pyspark.sql.functions``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def scd_hash(*cols: str | Column) -> Column:
    """dbt-style SCD row hash: md5 of '|'-joined null-safe string casts.

    Mirrors ``glue__snapshot_hash_arguments`` (reference: snapshot.sql:1-6):
    ``md5(coalesce(cast(c1 as string),'') || '|' || ...)``. Stays entirely in
    JVM codegen — no Python UDF.
    """
    parts = [
        F.coalesce((c if isinstance(c, Column) else F.col(c)).cast("string"), F.lit(""))
        for c in cols
    ]
    return F.md5(F.concat_ws("|", *parts))


def half_up_round(col: Column, digits: int) -> Column:
    """Deterministic half-up rounding via an explicit floor formula.

    ``floor(x * 10^d + 0.5) / 10^d`` evaluates identically in Spark and
    DuckDB (both IEEE doubles), sidestepping engine-specific ROUND tie
    semantics. Used wherever a floating aggregate crosses the oracle
    boundary.
    """
    scale = float(10**digits)
    return F.floor(col * scale + F.lit(0.5)) / scale


def jaccard(n_common: str | Column, n_a: str | Column, n_b: str | Column) -> Column:
    """Set Jaccard from an intersection and the two set sizes,
    ``|A∩B| / (|A| + |B| − |A∩B|)``, half-up rounded to 6 dp — the one
    rounded Jaccard every overlap operator reports. Empty-union guards
    (0 / 0) belong to the caller."""
    c, a, b = (x if isinstance(x, Column) else F.col(x) for x in (n_common, n_a, n_b))
    return half_up_round(c / (a + b - c), 6)
