"""Vector math over ``array<float>`` embedding columns — JVM-side only.

Everything here compiles to Catalyst higher-order functions (``zip_with`` +
``aggregate``), so the hot path of similarity search stays inside
whole-stage codegen: no Python UDF, no serialization. At 100 TB the cost is
the join strategy (see extensions/similarity.py), not these expressions.

Summation is sequential left-to-right over the array, which makes the
result deterministic (stable oracle comparisons) — unlike a parallel
reduction.

Cosine is one expression, ``dot(a, b) / (n_a · n_b)`` gated on a positive
norm product. Per row it is :func:`cosine_sim`; over joined pairs it is
:func:`cosine_pairs`, the one pair kernel of the similarity tier (kNN,
all-pairs, the within-cluster edge), which takes each ``l2_norm`` once per
row on both join inputs, before the join, so a pair costs one dot fold. A
row's norm is the same double either way, so both give identical sims.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbt_glue_spark.functions.scalars import half_up_round


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric array columns, computed in double."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    n = na * nb
    return F.when(n > 0, dot(a, b) / n)


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision; NULL if either norm is 0."""
    return _cosine(a, b, l2_norm(a), l2_norm(b))


def cosine_pairs(
    a: DataFrame, b: DataFrame, on: Column | None = None, digits: int = 4
) -> DataFrame:
    """The joined-pair cosine: ``a ⋈ b`` (aliased ``a``/``b``; each side
    carries its vector as ``v``) on ``on`` (a cross join for ``None``),
    every column of both sides plus ``sim`` — :func:`cosine_sim` of
    ``a.v`` and ``b.v``, half-up rounded to ``digits``. Each side's norm
    is projected once per row before the join (a broadcast hint on a
    side survives the projection), so no pair recomputes it."""

    def normed(df: DataFrame, name: str) -> DataFrame:
        return df.withColumn("__n", l2_norm(F.col("v"))).alias(name)

    sim = _cosine(F.col("a.v"), F.col("b.v"), F.col("a.__n"), F.col("b.__n"))
    return normed(a, "a").join(normed(b, "b"), on).select(
        *[F.col(f"a.{c}") for c in a.columns],
        *[F.col(f"b.{c}") for c in b.columns],
        half_up_round(sim, digits).alias("sim"),
    )
