"""Z-order (Morton-curve) clustering for multi-column data skipping —
the plain-parquet analogue of Delta ``OPTIMIZE ZORDER BY`` / Iceberg's
sort-order rewrite with a z-curve.

Why linear sort isn't enough: ``sortWithinPartitions(a, b)`` clusters
files tightly on ``a`` but leaves every file spanning ~the full range of
``b`` — predicates on ``b`` alone prune nothing. Interleaving the bits of
both columns into one z-value makes file boundaries axis-aligned tiles in
(a, b) space, so parquet min/max footer stats prune scans on EITHER
column (or both). At 100 TB this is the difference between "point query
on b touches every file" and "touches the ~sqrt fraction whose tile
overlaps".

Everything is pure Catalyst integer arithmetic (shift/and/multiply over a
generated expression — no UDF), computed from a one-row broadcast stats
frame; the rewrite itself is repartitionByRange + sortWithinPartitions on
the z-value, i.e. exactly the shuffle a plain clustered rewrite pays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bits per dimension; ncols * _BITS must stay < 63 (bigint z-value)
_BITS = 16


def _check_fits(n_cols: int, bits: int) -> None:
    if n_cols * bits >= 63:
        raise ValueError(
            f"z-value of {n_cols} columns x {bits} bits must fit a signed bigint"
        )


def zorder_value(cols: list[str], mins: dict, maxs: dict, bits: int = _BITS) -> Column:
    """Morton z-value for ``cols`` given per-column (min, max) stats:
    each column is scaled to a ``bits``-bit integer, then bit b of column
    i lands at z-bit ``b * ncols + i``. NULL scales to 0 (sorts with the
    low corner — deterministic, documented)."""
    n = len(cols)
    _check_fits(n, bits)
    top = (1 << bits) - 1
    terms = []
    for i, c in enumerate(cols):
        lo, hi = float(mins[c]), float(maxs[c])
        span = hi - lo
        if span > 0:
            scaled = F.least(
                F.lit(top),
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit(float(top + 1))
                ),
            )
        else:
            scaled = F.lit(0)
        x = F.coalesce(scaled, F.lit(0)).cast("bigint")
        for b in range(bits):
            terms.append(
                F.shiftright(x, b).bitwiseAND(F.lit(1)) * F.lit(1 << (b * n + i))
            )
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def zorder_rewrite(df: DataFrame, cols: list[str], n_partitions: int, bits: int = _BITS) -> DataFrame:
    """Rewrite ``df`` clustered along the z-curve of ``cols`` into
    ``n_partitions`` output partitions (→ files). One stats pass (one-row
    aggregate, driver-collected — column count × 16 bytes, never data),
    then one range shuffle on the z-value."""
    _check_fits(len(cols), bits)
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    mins = {c: stats[f"mn_{c}"] for c in cols}
    maxs = {c: stats[f"mx_{c}"] for c in cols}
    z = zorder_value(cols, mins, maxs, bits)
    return (
        df.withColumn("__z", z)
        .repartitionByRange(n_partitions, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
    )
