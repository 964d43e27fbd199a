"""Time-series rollups over event streams: OHLC bars and gap-filled
resampling.

The reference engine's event surface stops at scalar watermarks and
hourly counts (dbt incremental models over an events table); a metrics /
training-telemetry pipeline additionally needs per-series bars
(open/high/low/close — the canonical downsample that preserves extremes)
and a dense, gap-filled grid (regular time spine with forward-filled
values) so downstream window math never sees missing buckets.

Float discipline (plans/catalog.py): both operators are SUM-FREE — every
output value is an order statistic (first/last/max/min by a total order)
or a count, so cross-engine parity is exact with no decimal staging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ohlc_aggregates() -> list[Column]:
    """The six OHLC bar aggregates over a projected ``__v`` (the value as
    double) and ``__o`` (its total order ``struct(ts, id)``): open and
    close as ``min_by``/``max_by`` over ``__o``, high, low, hl_range and
    n_events. The batch bars (``ohlc_bars``, a ``date_trunc`` bucket) and
    their streaming twin (``streaming.pipelines.ohlc_stream``, an
    event-time ``window``) both fold with this one list, so the twin
    equals the batch operator by construction."""
    return [
        F.min_by("__v", "__o").alias("open"),
        F.max("__v").alias("high"),
        F.min("__v").alias("low"),
        F.max_by("__v", "__o").alias("close"),
        (F.max("__v") - F.min("__v")).alias("hl_range"),
        F.count("*").cast("bigint").alias("n_events"),
    ]


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    bucket: str = "hour",
) -> DataFrame:
    """Per-series OHLC bars: for each (key, time bucket) the first / max /
    min / last value plus the event count and high-low range.

    Open/close are ``min_by``/``max_by`` over the total order
    ``struct(ts, id)`` — the id tie-break makes equal-timestamp buckets
    deterministic, so the result is a pure function of the data (no
    window, no row_number, no reliance on input layout).

    100 TB shape: ONE map-side-combining groupBy on (key, bucket) — the
    partial min_by/max_by structs combine associatively on the map side,
    so the shuffle carries one 6-field row per (series, bucket), never the
    raw events. No window functions, no global sort.

    Output: key, bar_<bucket>, open, high, low, close (double),
    hl_range (double), n_events (bigint).
    """
    order = F.struct(F.col(ts_col), F.col(id_col))
    v = F.col(value_col).cast("double")
    return (
        df.select(
            F.col(key_col),
            F.date_trunc(bucket, F.col(ts_col)).alias(f"bar_{bucket}"),
            v.alias("__v"),
            order.alias("__o"),
        )
        .groupBy(key_col, f"bar_{bucket}")
        .agg(*ohlc_aggregates())
    )


def gap_fill_hourly(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
    trailing_hours: int | None = None,
) -> DataFrame:
    """Dense hourly resample with forward fill: every (key, hour) cell of
    the corpus time range gets the hour's closing value, carrying the
    previous close across empty hours, with an ``is_gap`` marker.

    The spine is the global [min, max] hour range (one 1-row aggregate,
    broadcast by construction) crossed with the distinct key set — the
    grid IS the output, so its size is inherent to the ask, not a plan
    defect. Forward fill is ``last(close) IGNORE NULLS`` over a window
    partitioned BY KEY — parallel across series, never a global window.
    Carried values are copied bits, not arithmetic, so parity is exact.

    ``trailing_hours`` bounds the spine to the last N hours ending at the
    corpus max — the dashboard/monitoring contract, and the guard against
    outlier timestamps silently densifying centuries (a single 1900-01-01
    row would otherwise inflate the grid by ~10⁶ hours; fills then use
    only in-window closes — nothing is carried in from before the
    window). None = full range.

    Contract: series count × span hours is the output cardinality; for
    per-user spines at corpus scale, pre-filter to the user cohort of
    interest first (same contract as the reference's hourly models).

    Output: key, bar_hour, close (double, NULL on gap hours),
    filled (double, forward-filled), is_gap (int 0/1).
    """
    closes = (
        df.select(
            F.col(key_col),
            F.date_trunc("hour", F.col(ts_col)).alias("bar_hour"),
            F.col(value_col).cast("double").alias("__v"),
            F.struct(F.col(ts_col), F.col(id_col)).alias("__o"),
        )
        .groupBy(key_col, "bar_hour")
        .agg(F.max_by("__v", "__o").alias("close"))
    )
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("__mn"),
        F.date_trunc("hour", F.max(ts_col)).alias("__mx"),
    )
    if trailing_hours is not None and trailing_hours < 1:
        raise ValueError(f"trailing_hours must be >= 1: {trailing_hours}")
    if trailing_hours is not None:
        bounds = bounds.select(
            F.greatest(
                F.col("__mn"),
                F.expr(f"__mx - INTERVAL {int(trailing_hours) - 1} HOURS"),
            ).alias("__mn"),
            "__mx",
        )
    spine = bounds.select(
        F.explode(F.expr("sequence(__mn, __mx, interval 1 hour)")).alias("bar_hour")
    )
    keys = df.select(F.col(key_col)).distinct()
    grid = keys.crossJoin(spine)
    w = (
        Window.partitionBy(key_col)
        .orderBy("bar_hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(closes, [key_col, "bar_hour"], "left").select(
        key_col,
        "bar_hour",
        "close",
        F.last("close", ignorenulls=True).over(w).alias("filled"),
        F.col("close").isNull().cast("int").alias("is_gap"),
    )
