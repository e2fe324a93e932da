"""Calendar operators — SURVEY.md §2 X8–X10.

The reference's market-day gate uses ``pandas_market_calendars``
(functions.py:61-66); that library has no JVM twin, so the scalable
design is a *calendar dimension table* (precomputed market days /
holidays) semi-joined against fact dates — tiny table, always a
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def densify_dates(
    df: DataFrame, date_col: str = "date", alias: str = "date"
) -> DataFrame:
    """X10 — build the dense daily spine [min(date), max(date)] as a
    DataFrame: ``sequence(min, max, interval 1 day)`` + ``explode``.
    One row in, N out — no shuffle (the min/max agg is a 1-row exchange).

    Reference: ``pd.date_range(start, end, freq="D")`` at
    sectors.py:206-210.
    """
    bounds = df.agg(
        F.min(F.col(date_col)).cast("date").alias("__lo"),
        F.max(F.col(date_col)).cast("date").alias("__hi"),
    )
    return bounds.select(
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), F.expr("interval 1 day"))).alias(alias)
    )


def market_day_filter(
    df: DataFrame, market_days: DataFrame, date_col: str = "date"
) -> DataFrame:
    """X9 — keep only rows whose date is a market day, via a broadcast
    left-semi join against the calendar dimension (reference gates the
    whole run on ``get_market_day`` — functions.py:61-66, main.py:89-94).
    A semi join ignores duplicate calendar dates, so the dimension is not
    deduplicated first: a ``distinct`` would add a shuffle job.
    """
    cal = market_days.select(F.col(market_days.columns[0]).alias(date_col))
    return df.join(F.broadcast(cal), on=date_col, how="left_semi")


# U.S. equity-market holidays (public NYSE schedule) for the window the
# reference's committed data spans. In production this table comes from a
# published calendar feed; the engine only needs *a* dimension table —
# validated in tests against the reference's own committed market-day
# dates (every date in data/*.csv must be a member).
NYSE_HOLIDAYS_2025_2026 = [
    "2025-01-01", "2025-01-20", "2025-02-17", "2025-04-18", "2025-05-26",
    "2025-06-19", "2025-07-04", "2025-09-01", "2025-11-27", "2025-12-25",
    "2026-01-01", "2026-01-19", "2026-02-16", "2026-04-03", "2026-05-25",
    "2026-06-19", "2026-07-03", "2026-09-07", "2026-11-26", "2026-12-25",
]


def nyse_market_days(spark: SparkSession, start: str, end: str) -> DataFrame:
    """X9 — the NYSE market-day dimension (weekdays minus the holiday
    table) for the 2025–2026 window; the JVM-side replacement for the
    reference's pandas_market_calendars gate (functions.py:61-66)."""
    return market_days_from_range(spark, start, end, holidays=NYSE_HOLIDAYS_2025_2026)


def market_days_from_bounds(
    df: DataFrame, date_col: str = "date", holidays: list[str] | None = None
) -> DataFrame:
    """Weekday calendar dimension spanning the data's own [min, max]
    date range — the lazy twin of :func:`market_days_from_range` for
    when the bounds come from a DataFrame. Entirely plan-side (the
    min/max agg is a 1-row exchange feeding ``sequence``), so building
    it triggers no driver-side action; the whole dimension stays a
    broadcast-sized spine."""
    weekdays = densify_dates(df, date_col).filter(~F.dayofweek("date").isin(1, 7))
    if holidays:
        weekdays = weekdays.filter(~F.col("date").isin([F.lit(h) for h in holidays]))
    return weekdays


def market_days_from_range(
    spark: SparkSession, start: str, end: str, holidays: list[str] | None = None
) -> DataFrame:
    """Build a weekday calendar dimension minus an explicit holiday list.
    (NYSE holidays would be loaded from a published table in prod; the
    engine only needs *a* dimension, not the pandas library.)"""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.to_date(F.lit(start)), F.to_date(F.lit(end)), F.expr("interval 1 day"))
        ).alias("date")
    )
    weekdays = spine.filter(~F.dayofweek("date").isin(1, 7))  # drop Sun(1)/Sat(7)
    if holidays:
        weekdays = weekdays.filter(~F.col("date").isin([F.lit(h) for h in holidays]))
    return weekdays
