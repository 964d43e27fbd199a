"""Distributed column profiling — the "what's in this table" pass a
curation pipeline runs before designing filters (null rates, cardinality,
ranges). One job, one output row per profiled column.

Shape: a SINGLE aggregate computes every stat (count / non-null count /
exact COUNT(DISTINCT) / min / max per column), then the one-row result is
pivoted to rows via explode(array(struct…)) — driver never sees data, the
pivot is over a 1-row frame.

Scale note: exact multi-column COUNT(DISTINCT) makes Catalyst plan an
Expand (input replicated once per distinct-column) — fine for a handful of
profiled columns, deliberate here because exactness is what the oracle
gate checks. For wide tables at 100 TB profile in column batches, or use
extensions.sketches.hll_distinct / kmv_distinct for the cardinality leg
(constant-memory, one pass for ALL columns via unpivot-then-sketch).

The reference (aws-samples/dbt-glue) has no profiling surface — engine
extension in the dbt-utils/soda tradition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile ``cols`` (numeric/date/string all fine; min/max are cast to
    double so the output schema is stable — pass numeric columns when the
    range matters). Output: (col_name, n_rows, n_nulls, n_distinct,
    n_nonfinite, min_value, max_value), one row per column.

    ``n_nonfinite`` counts NaN/±Infinity in float/double columns (0 for
    other types). This is the pre-aggregation gate for the engine's
    declared non-finite policy: exact-decimal measure aggregates CAST
    doubles to DECIMAL, and Spark silently maps NaN/Inf → NULL there
    (even under ANSI), so non-finite measures VANISH from totals. The
    profile makes that visible before it silently skews a 100 TB sum.
    """
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        if dtypes.get(c) in ("double", "float"):
            nonfinite = F.sum(
                F.when(
                    F.isnan(F.col(c)) | (F.abs(F.col(c)) == float("inf")), 1
                ).otherwise(0)
            )
        else:
            nonfinite = F.lit(0)
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"__nd_{c}"),
            nonfinite.cast("bigint").alias(f"__nf_{c}"),
            # Column.try_cast (not an f-string F.expr, which would break
            # on non-identifier column names): the stable-schema double
            # cast must not abort the profile under ANSI when a STRING
            # column's min/max is non-numeric — unparseable ranges
            # surface as NULL
            F.min(F.col(c)).try_cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).try_cast("double").alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__nn_{c}")).alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__nf_{c}").alias("n_nonfinite"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def profile_oracle_sql(
    source: str, cols: list[str], double_cols: tuple[str, ...] = ()
) -> str:
    """DuckDB mirror of :func:`profile_columns` (for parity gates).
    ``double_cols`` names the float/double members of ``cols`` that get
    a real non-finite count (others emit 0, matching the Spark side)."""
    arms = []
    for c in cols:
        if c in double_cols:
            nf = (
                f"CAST(SUM(CASE WHEN isnan({c}) OR isinf({c}) "
                f"THEN 1 ELSE 0 END) AS BIGINT)"
            )
        else:
            nf = "CAST(0 AS BIGINT)"
        arms.append(
            f"""SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               COUNT(*) - COUNT({c}) AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               {nf} AS n_nonfinite,
               TRY_CAST(MIN({c}) AS DOUBLE) AS min_value,
               TRY_CAST(MAX({c}) AS DOUBLE) AS max_value
        FROM {source}"""
        )
    return "\n    UNION ALL ".join(arms)


def key_skew(df: "DataFrame", key_col: str, top_k: int = 5) -> "DataFrame":
    """Join/aggregation-key skew audit: the distribution diagnostics you
    run BEFORE shuffling 100 TB on a key — hottest ``top_k`` keys with
    their row share and skew-vs-average ratio, plus global key stats.
    A skew_vs_avg of 1000 on the planned join key means one reducer gets
    1000× the average partition and the stage runs at the speed of that
    straggler; the fix (salting, AQE skew-join, broadcast) is chosen from
    exactly this table.

    100 TB shape: one partial-aggregated groupBy on the key (the same
    shuffle the planned join would pay, but emitting counts, not
    payload); the global top-k compiles to TakeOrderedAndProject
    (per-partition top-k, k-row driver merge — the ungrouped-KMV
    lesson, never a global window); stats are a 1-row broadcast.
    """
    from pyspark.sql import Window

    from dbt_glue_spark.functions.scalars import half_up_round

    counts = df.groupBy(key_col).agg(F.count("*").alias("cnt"))
    stats = counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc(key_col)).limit(top_k)
    # rank assignment happens on the ≤ top_k surviving rows only
    w = Window.orderBy(F.desc("cnt"), F.asc(key_col))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .join(F.broadcast(stats))
        .select(
            F.col("rk").cast("int").alias("rk"),
            # string, not bigint: the audit's usual targets include string
            # join keys, and a numeric cast would NULL them — making the
            # top-k rows indistinguishable from each other
            F.col(key_col).cast("string").alias("key_value"),
            F.col("cnt").cast("bigint").alias("n_key_rows"),
            half_up_round(F.col("cnt") / F.col("n_rows"), 6).alias("row_share"),
            half_up_round(
                F.col("cnt") / (F.col("n_rows").cast("double") / F.col("n_keys")), 2
            ).alias("skew_vs_avg"),
            "n_keys",
            "n_rows",
        )
    )


def winsorize_report(
    df: DataFrame,
    col: str,
    group_by: str,
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization audit: clip ``col`` at the group's exact
    [lower, upper] quantiles and report — member count, the two
    thresholds, how many rows each tail clipped, and the decimal-exact
    mean before/after. The outlier-robustness pass of numeric feature
    cleaning (price/score/length columns), reported rather than silently
    applied so the pipeline owner sees what the clip would do.

    Determinism: thresholds are Spark ``percentile()`` ≡ DuckDB
    ``quantile_cont`` (exact interpolation, identical doubles); means go
    through decimal summation (order-free); clamp is least/greatest of
    exact doubles.

    100 TB shape: two passes — the quantile aggregate (exact per-group
    sort; swap in histogram_quantiles for the approximate one-pass
    variant) and one clamp+aggregate pass with the ≤ groups-row threshold
    frame broadcast. Nothing reaches the driver.
    """
    from dbt_glue_spark.functions.scalars import half_up_round

    x = F.col(col).cast("double")
    th = df.groupBy(group_by).agg(
        F.expr(f"percentile(cast(`{col}` as double), {lower})").alias("lo"),
        F.expr(f"percentile(cast(`{col}` as double), {upper})").alias("hi"),
    )
    j = df.join(F.broadcast(th), group_by)
    clipped = F.greatest(F.least(x, F.col("hi")), F.col("lo"))
    return (
        j.groupBy(group_by)
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.first("lo").alias("__lo"),
            F.first("hi").alias("__hi"),
            F.sum(F.when(x < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(x > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.sum(x.cast("decimal(28,6)")).alias("__sum_before"),
            F.sum(clipped.cast("decimal(28,6)")).alias("__sum_after"),
        )
        .select(
            group_by,
            "n",
            half_up_round(F.col("__lo"), 4).alias("p_low"),
            half_up_round(F.col("__hi"), 4).alias("p_high"),
            "n_clipped_low",
            "n_clipped_high",
            half_up_round(
                F.col("__sum_before").cast("double") / F.col("n").cast("double"), 4
            ).alias("mean_before"),
            half_up_round(
                F.col("__sum_after").cast("double") / F.col("n").cast("double"), 4
            ).alias("mean_after"),
        )
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Pairwise Pearson correlation over numeric columns from exact
    moments: one aggregate computes n, Σx, Σxy for every pair with
    decimal quantization, then r = (n·Σxy − Σx·Σy) /
    (√(n·Σx² − Σx²) · √(n·Σy² − Σy²)) in pure double arithmetic —
    IEEE requires √ correctly rounded, so the result is engine-exact.
    The feature-redundancy pass of numeric profiling.

    One row per unordered pair (col_a < col_b). Single-pass aggregate
    (map-side partials), output ≤ C(len(cols), 2) rows — nothing scales
    with input size after the scan. Keep column magnitudes such that
    Σx² stays well under 2^53 (exact in double); see ext_correlation's
    choice of bounded measures.
    """
    from itertools import combinations

    from dbt_glue_spark.functions.scalars import half_up_round

    aggs = [F.count("*").cast("bigint").alias("n")]
    for c in cols:
        x = F.col(c).cast("double")
        aggs.append(F.sum(x.cast("decimal(28,10)")).cast("double").alias(f"s_{c}"))
        aggs.append(
            F.sum((x * x).cast("decimal(28,10)")).cast("double").alias(f"ss_{c}")
        )
    for a, b in combinations(cols, 2):
        xa = F.col(a).cast("double")
        xb = F.col(b).cast("double")
        aggs.append(
            F.sum((xa * xb).cast("decimal(28,10)"))
            .cast("double")
            .alias(f"sp_{a}_{b}")
        )
    m = df.agg(*aggs)
    rows = []
    for a, b in combinations(cols, 2):
        n = F.col("n").cast("double")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        da = F.sqrt(n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
        db = F.sqrt(n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                # try_divide: a zero-variance column has no defined
                # correlation — NULL (both engines), not an ANSI abort
                half_up_round(F.try_divide(num, da * db), 6).alias("pearson_r"),
            )
        )
    return m.select(F.explode(F.array(*rows)).alias("p")).select(
        "p.col_a", "p.col_b", "p.pearson_r"
    )
