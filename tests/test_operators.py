"""Operator semantics on literal frames: incremental append idempotence,
PK enforcement, coalesce-merge fill-only-NULL, set diffs, pivot/unpivot
round-trip, calendar densify and market-day gate."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from stock_data_pipeline_spark.operators import (
    append_incremental,
    coalesce_merge,
    densify_dates,
    enforce_primary_key,
    market_day_filter,
    membership_diff,
    pivot_wide,
    unpivot_long,
)


def _dates(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_append_incremental_drops_overlap(spark):
    existing = _dates(spark, [(dt.date(2026, 1, 1), 1.0), (dt.date(2026, 1, 2), 2.0)], ["date", "v"])
    incoming = _dates(
        spark,
        [(dt.date(2026, 1, 2), 99.0), (dt.date(2026, 1, 3), 3.0)],
        ["date", "v"],
    )
    out = append_incremental(existing, incoming, "date").orderBy("date").collect()
    # the overlapping 2026-01-02 row from `incoming` must be dropped
    assert [(r["date"], r["v"]) for r in out] == [
        (dt.date(2026, 1, 1), 1.0),
        (dt.date(2026, 1, 2), 2.0),
        (dt.date(2026, 1, 3), 3.0),
    ]


def test_append_incremental_empty_sink_takes_all(spark):
    existing = _dates(spark, [], "date date, v double")
    incoming = _dates(spark, [(dt.date(2026, 1, 3), 3.0)], ["date", "v"])
    assert append_incremental(existing, incoming, "date").count() == 1


def test_append_incremental_idempotent(spark):
    existing = _dates(spark, [(dt.date(2026, 1, 1), 1.0)], ["date", "v"])
    incoming = _dates(spark, [(dt.date(2026, 1, 2), 2.0)], ["date", "v"])
    once = append_incremental(existing, incoming, "date")
    twice = append_incremental(once, incoming, "date")
    assert twice.count() == 2  # re-appending the same batch adds nothing


def test_enforce_primary_key_deterministic(spark):
    df = _dates(
        spark,
        [("2026-01-01", 1, 10.0), ("2026-01-01", 2, 20.0), ("2026-01-02", 3, 30.0)],
        ["date", "seq", "v"],
    )
    out = enforce_primary_key(df, ["date"], order_by=["seq"]).orderBy("date").collect()
    assert [(r["date"], r["seq"]) for r in out] == [("2026-01-01", 2), ("2026-01-02", 3)]


def test_coalesce_merge_fills_only_nulls(spark):
    target = _dates(spark, [("a", 1.0), ("b", None), ("c", None)], "k string, v double")
    updates = _dates(spark, [("a", 99.0), ("b", 2.0)], "k string, v double")
    out = {r["k"]: r["v"] for r in coalesce_merge(target, updates, ["k"], ["v"]).collect()}
    assert out == {"a": 1.0, "b": 2.0, "c": None}  # a kept, b filled, c stays NULL


def test_membership_diff(spark):
    cur = _dates(spark, [("x",), ("y",), ("z",)], ["t"])
    prev = _dates(spark, [("w",), ("x",), ("y",)], ["t"])
    added, removed = membership_diff(cur, prev, ["t"])
    assert {r["t"] for r in added.collect()} == {"z"}
    assert {r["t"] for r in removed.collect()} == {"w"}


def test_pivot_unpivot_roundtrip(spark):
    long = _dates(
        spark,
        [("d1", "aapl", 10.0), ("d1", "msft", 20.0), ("d2", "aapl", 11.0)],
        ["date", "ticker", "price"],
    )
    wide = pivot_wide(long, "date", "ticker", "price", values=["aapl", "msft"])
    assert set(wide.columns) == {"date", "aapl", "msft"}
    # missing (d2, msft) cell must surface as NULL in wide layout
    d2 = wide.filter(F.col("date") == "d2").first()
    assert d2["msft"] is None
    back = unpivot_long(wide, ["date"], ["aapl", "msft"], "ticker", "price").filter(
        F.col("price").isNotNull()
    )
    assert back.count() == 3


def test_densify_dates_fills_gaps(spark):
    df = _dates(
        spark, [(dt.date(2026, 1, 1),), (dt.date(2026, 1, 5),)], "date date"
    )
    out = [r[0] for r in densify_dates(df, "date").orderBy("date").collect()]
    assert out == [dt.date(2026, 1, d) for d in range(1, 6)]


def test_market_day_filter_ignores_duplicate_calendar_dates(spark):
    # the calendar is semi-joined as it comes, not deduplicated first
    d1, d2 = dt.date(2026, 1, 5), dt.date(2026, 1, 6)
    facts = _dates(spark, [(d1, "a"), (d1, "b"), (d2, "a")], ["date", "ticker"])
    cal = _dates(spark, [(d1,), (d1,), (d1,)], ["day"])
    out = market_day_filter(facts, cal, "date").collect()
    assert sorted((r["date"], r["ticker"]) for r in out) == [(d1, "a"), (d1, "b")]


def test_upsert_replaces_and_inserts(spark):
    from stock_data_pipeline_spark.operators.merge import upsert

    existing = _dates(spark, [("a", 1.0), ("b", 2.0)], "k string, v double")
    updates = _dates(spark, [("b", 20.0), ("c", 30.0)], "k string, v double")
    out = {r["k"]: r["v"] for r in upsert(existing, updates, ["k"]).collect()}
    assert out == {"a": 1.0, "b": 20.0, "c": 30.0}
    # idempotent: same updates again change nothing
    again = {r["k"]: r["v"] for r in upsert(upsert(existing, updates, ["k"]), updates, ["k"]).collect()}
    assert again == out


def test_apply_changes_cdc_semantics(spark):
    from stock_data_pipeline_spark.operators.merge import apply_changes

    base = _dates(spark, [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double")
    changes = _dates(
        spark,
        [
            # stale update then delete for a (delete is latest → a gone)
            ("a", 10.0, "U", 1),
            ("a", 10.0, "D", 2),
            # out-of-order: delete at seq 1, update at seq 2 → update wins
            ("b", 20.0, "D", 1),
            ("b", 22.0, "U", 2),
            # brand-new key inserted
            ("d", 40.0, "U", 1),
        ],
        "k string, v double, op string, seq long",
    )
    out = {
        r["k"]: r["v"]
        for r in apply_changes(base, changes, ["k"], ["seq"]).collect()
    }
    assert out == {"b": 22.0, "c": 3.0, "d": 40.0}
    # idempotent: re-applying the same changelog is a no-op
    applied = apply_changes(base, changes, ["k"], ["seq"])
    again = {
        r["k"]: r["v"]
        for r in apply_changes(applied, changes, ["k"], ["seq"]).collect()
    }
    assert again == out


def test_merge_agg_state_monoid_merge(spark):
    from stock_data_pipeline_spark.operators.incremental import merge_agg_state

    state = _dates(
        spark, [("a", 2, 10.0, 7), ("b", 1, 5.0, 3)], "k string, n long, s double, mx long"
    )
    delta = _dates(
        spark, [("a", 3, 1.5, 9), ("c", 4, 2.0, 1)], "k string, n long, s double, mx long"
    )
    out = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in merge_agg_state(
            state, delta, ["k"], sum_cols=["n", "s"], max_cols=["mx"]
        ).collect()
    }
    # merged keys re-sum/re-max; one-sided keys pass through
    assert out == {"a": (5, 11.5, 9), "b": (1, 5.0, 3), "c": (4, 2.0, 1)}


def test_nyse_calendar_matches_reference_market_days(spark):
    """Every date the reference's daily CI actually committed data for
    must be a member of our NYSE market-day dimension — cross-validating
    the holiday table against ~150 real trading days."""
    import csv

    from stock_data_pipeline_spark.operators.calendar import nyse_market_days

    with open("/root/reference/data/xlu_sector_history.csv") as fh:
        dates = {r["date"] for r in csv.DictReader(fh)}
    cal = {
        str(r["date"]) for r in nyse_market_days(spark, "2025-01-01", "2026-12-31").collect()
    }
    missing = sorted(dates - cal)
    assert not missing, f"committed trading days absent from calendar: {missing[:5]}"
    # and the dimension correctly excludes holidays/weekends
    assert "2025-12-25" not in cal and "2026-08-15" not in cal  # Christmas, a Saturday
