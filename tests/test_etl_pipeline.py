"""End-to-end daily pipeline (EP1→EP3 restatement): ingest gating,
idempotence, compute-only-missing refresh, wide export shape, and a
build that runs no Spark job and computes the sector aggregate once."""

from __future__ import annotations

import datetime as dt
import re
from decimal import Decimal

from pyspark.sql import functions as F

from stock_data_pipeline_spark.pipeline.etl import run_daily_pipeline

D1, D2, D3 = dt.date(2026, 1, 5), dt.date(2026, 1, 6), dt.date(2026, 1, 10)  # Mon, Tue, Sat


def _world(spark):
    prices_state = spark.createDataFrame(
        [(D1, "aapl", 100.0), (D1, "msft", 200.0)], ["date", "ticker", "close"]
    )
    incoming = spark.createDataFrame(
        [
            (D1, "aapl", 999.0),   # overlap — must be dropped (idempotence)
            (D2, "aapl", 110.0),
            (D2, "msft", 190.0),
            (D3, "aapl", 50.0),    # Saturday — must be gated out
        ],
        ["date", "ticker", "close"],
    )
    shares = spark.createDataFrame(
        [(d, "xlk", t, s) for d in (D1, D2) for t, s in (("aapl", 10), ("msft", 5))],
        ["date", "sector", "ticker", "shares_held"],
    )
    outstanding = spark.createDataFrame(
        [(D1, "xlk", 100), (D2, "xlk", 100)],
        ["date", "sector", "shares_outstanding"],
    )
    history_state = spark.createDataFrame(
        [(D1, "xlk", 77.0)],  # D1 already computed → must NOT be overwritten
        "date date, sector string, calc_price double",
    )
    market_days = spark.createDataFrame([(D1,), (D2,)], ["date"])
    return prices_state, incoming, shares, outstanding, history_state, market_days


def test_daily_run_end_to_end(spark):
    prices_state, incoming, shares, outstanding, history_state, market_days = _world(spark)
    res = run_daily_pipeline(
        prices_state, incoming, shares, outstanding, history_state, market_days,
        tickers=["aapl", "msft"],
    )
    prices = {(r["date"], r["ticker"]): r["close"] for r in res.prices.collect()}
    # overlap dropped, Saturday gated, new day ingested
    assert prices[(D1, "aapl")] == 100.0
    assert (D3, "aapl") not in prices
    assert prices[(D2, "msft")] == 190.0

    hist = {r["date"]: r["calc_price"] for r in res.sector_history.collect()}
    assert hist[D1] == 77.0          # UPDATE-where-NULL: existing value kept
    assert hist[D2] == 20.5          # (110*10 + 190*5) / 100

    wide = {r["date"]: r for r in res.wide_export.collect()}
    assert wide[D2]["aapl"] == 110.0
    assert wide[D2]["xlk"] == 20.5
    assert set(res.wide_export.columns) == {"date", "aapl", "msft", "xlk"}


def test_refresh_fills_only_nulls_deterministically(spark):
    """The already-computed state value must survive regardless of
    partitioning: the refresh is a full outer join that coalesces state
    before fresh, so there is no arbitrary-winner dedup that could let
    fresh's recomputation clobber state. Regression for the
    dropDuplicates nondeterminism (ADVICE r1)."""
    prices_state, incoming, shares, outstanding, history_state, market_days = _world(spark)
    # adversarial layouts: single partition, many partitions, key-skewed
    for n in (1, 7, 64):
        res = run_daily_pipeline(
            prices_state, incoming, shares, outstanding,
            history_state.repartition(n), market_days,
        )
        rows = res.sector_history.collect()
        keys = [(r["date"], r["sector"]) for r in rows]
        assert len(keys) == len(set(keys))  # exactly one row per key
        hist = {r["date"]: r["calc_price"] for r in rows}
        assert hist[D1] == 77.0  # state value kept, never fresh's 16.0 recompute
        assert hist[D2] == 20.5


def test_daily_run_is_idempotent(spark):
    prices_state, incoming, shares, outstanding, history_state, market_days = _world(spark)
    first = run_daily_pipeline(
        prices_state, incoming, shares, outstanding, history_state, market_days
    )
    again = run_daily_pipeline(
        first.prices, incoming, shares, outstanding, first.sector_history, market_days
    )
    assert again.prices.count() == first.prices.count()
    h1 = {(r["date"], r["sector"]): r["calc_price"] for r in first.sector_history.collect()}
    h2 = {(r["date"], r["sector"]): r["calc_price"] for r in again.sector_history.collect()}
    assert h1 == h2


def _history(spark, rows):
    return spark.createDataFrame(rows, "date date, sector string, calc_price double")


def test_refresh_fills_null_state_and_keeps_the_rest(spark):
    """UPDATE-where-NULL on every kind of state row: a NULL that fresh
    computes is filled, a NULL fresh cannot compute stays NULL, a state
    key fresh never produces is kept as it is."""
    prices_state, incoming, shares, outstanding, _, market_days = _world(spark)
    d0 = dt.date(2026, 1, 2)
    history_state = _history(
        spark,
        [
            (D1, "xlk", 77.0),   # computed: kept over fresh's 16.0
            (D2, "xlk", None),   # NULL, fresh computes 20.5: filled
            (D2, "xlf", None),   # NULL, no fresh row: stays NULL
            (d0, "xlk", 50.0),   # key absent from fresh: kept
        ],
    )
    res = run_daily_pipeline(
        prices_state, incoming, shares, outstanding, history_state, market_days
    )
    got = {(r["date"], r["sector"]): r["calc_price"] for r in res.sector_history.collect()}
    assert got == {
        (D1, "xlk"): 77.0,
        (D2, "xlk"): 20.5,
        (D2, "xlf"): None,
        (d0, "xlk"): 50.0,
    }


def test_refresh_schema_is_canonical(spark):
    # an empty state (the first run) and decimal prices still publish
    # (date date, sector string, calc_price double)
    _, _, shares, outstanding, _, market_days = _world(spark)
    dec = "date date, ticker string, close decimal(10,2)"
    prices_state = spark.createDataFrame(
        [(D1, "aapl", Decimal("100.00")), (D1, "msft", Decimal("200.00"))], dec
    )
    incoming = spark.createDataFrame(
        [(D2, "aapl", Decimal("110.00")), (D2, "msft", Decimal("190.00"))], dec
    )
    res = run_daily_pipeline(
        prices_state, incoming, shares, outstanding, _history(spark, []), market_days
    )
    hist = res.sector_history
    assert hist.schema.simpleString() == "struct<date:date,sector:string,calc_price:double>"
    assert {r["date"]: r["calc_price"] for r in hist.collect()} == {D1: 20.0, D2: 20.5}


def test_daily_run_builds_without_jobs_and_aggregates_once(spark):
    """Building the run and reading the two frames a daily caller
    persists launches no Spark job: the wide export, whose sector pivot
    needs one, is built only on first access. The history plan holds
    the (date, sector) aggregate once: the refresh joins fresh a single
    time. Its only other aggregate is the ingest cutoff, a global max."""
    world = _world(spark)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    res = run_daily_pipeline(*world, tickers=["aapl", "msft"])
    _, history = res.prices, res.sector_history
    assert set(tracker.getJobIdsForGroup(None)) == before
    plan = history._jdf.queryExecution().optimizedPlan().toString()
    aggregates = re.findall(r"Aggregate \[.*", plan)
    assert len(aggregates) == 2, plan
    assert sum("market_cap" in a for a in aggregates) == 1, plan
