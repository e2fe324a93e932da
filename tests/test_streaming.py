"""Streaming surface: batch/stream parity for the window aggregates and
a real readStream smoke through the memory sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from stock_data_pipeline_spark.catalog import load_events
from stock_data_pipeline_spark.streaming.events import (
    read_events_stream,
    sessionize,
    tumbling_window_agg,
)

SF = "/root/testdata/sf0.001"


def test_tumbling_counts_sum_to_total(spark):
    ev = load_events(spark, SF)
    agg = tumbling_window_agg(ev, "1 hour")
    assert agg.agg(F.sum("n_events")).first()[0] == ev.count()


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00"),
        (2, 100, "2024-01-01 00:10:00"),   # same session (10 min gap)
        (3, 100, "2024-01-01 01:00:00"),   # 50 min gap → new session
        (4, 200, "2024-01-01 00:00:00"),   # other user
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sessionize(df, gap_minutes=30)
    per_user = {(r["user_id"], r["session_id"]): r["n_events"] for r in out.collect()}
    assert per_user == {(100, 1): 2, (100, 2): 1, (200, 1): 1}


def test_stateful_running_totals(spark):
    """applyInPandasWithState: per-user state must accumulate across
    micro-batches (maxFilesPerTrigger=1 → here one batch, so totals
    equal the batch aggregate; cross-batch accumulation is the
    update-mode contract exercised via the state API)."""
    from stock_data_pipeline_spark.streaming.stateful import running_totals_per_user

    stream = read_events_stream(spark, SF).select("user_id", "value")
    out = running_totals_per_user(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .start()
    )
    try:
        q.processAllAvailable()
        # last update per user must equal the batch ground truth
        got = {
            r["user_id"]: (r["events_seen"], round(r["value_sum"], 6))
            for r in spark.sql(
                "SELECT user_id, events_seen, value_sum FROM ("
                "  SELECT *, row_number() OVER (PARTITION BY user_id "
                "         ORDER BY events_seen DESC) AS rn FROM running_totals"
                ") WHERE rn = 1"
            ).collect()
        }
        truth = {
            r["user_id"]: (r["n"], round(r["s"], 6))
            for r in load_events(spark, SF)
            .groupBy("user_id")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        assert got == truth
    finally:
        q.stop()


def test_threshold_alerts_match_batch_twin(spark):
    """Exactly-once threshold alerts: the streaming operator's
    incremental emissions must equal q135's full-log recompute row for
    row (same integer-cent fold, same (ts, event_id) order), and each
    user must alert at most once."""
    from stock_data_pipeline_spark.queries import REGISTRY
    from stock_data_pipeline_spark.streaming.stateful import threshold_alerts_per_user

    stream = read_events_stream(spark, SF).select(
        "user_id", "ts", "event_id", "value"
    )
    out = threshold_alerts_per_user(stream, threshold_cents=100000)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("threshold_alerts")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["user_id"]: (r["crossed_at_total"], r["events_until_cross"])
            for r in spark.sql("SELECT * FROM threshold_alerts").collect()
        }
        rows = spark.sql("SELECT count(*) AS n FROM threshold_alerts").collect()
        assert rows[0]["n"] == len(got)  # at most one alert per user
        truth = {
            r["user_id"]: (r["crossed_at_total"], r["events_until_cross"])
            for r in REGISTRY["q135_threshold_cross"].fn(spark, SF).collect()
        }
        assert got == truth
    finally:
        q.stop()


def test_threshold_alerts_group_spans_arrow_chunks(spark, tmp_path):
    """A single key whose micro-batch rows span several Arrow record
    batches must still fold in global (ts, event_id) order: the operator
    concatenates chunks before sorting, so shrinking
    ``arrow.maxRecordsPerBatch`` to 7 (forcing ~9 chunks for one user's
    60 rows) cannot change the alert. Values carry 3 decimals so the
    HALF_UP cent rounding is exercised too (1.005 → 101 cents, not the
    banker's 100)."""
    from stock_data_pipeline_spark.streaming.stateful import threshold_alerts_per_user

    rows = []
    # descending ts so the natural file order is the WRONG fold order
    for i in range(60):
        rows.append((i, f"2024-01-01 00:{59 - i:02d}:00", 7, "click", 1.005))
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    src = tmp_path / "src"
    spark.createDataFrame(rows, cols).withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.parquet(str(src))
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string, value double"
            ).parquet(str(src))
        ).select("user_id", "ts", "event_id", "value")
        # 1.005 → 101 cents each (HALF_UP); threshold 3030 crosses on
        # event #30 of the (ts,event_id)-ordered fold, i.e. event_id 30
        out = threshold_alerts_per_user(stream, threshold_cents=3030)
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName("chunked_alerts")
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT * FROM chunked_alerts").collect()
        finally:
            q.stop()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == 1
    r = got[0]
    assert (r["user_id"], r["crossed_at_total"], r["events_until_cross"]) == (
        7,
        30.30,
        30,
    )


def test_session_window_stream(spark):
    """Streaming-native sessionization (session_window) must produce the
    same (user, n_events-per-session) multiset as the batch lag+cumsum
    twin for the same 30-minute gap."""
    from stock_data_pipeline_spark.streaming.events import session_window_stream

    stream = read_events_stream(spark, SF)
    q = (
        session_window_stream(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = sorted(
            (r["user_id"], r["n_events"])
            for r in spark.sql("SELECT user_id, n_events FROM sess_stream").collect()
        )
    finally:
        q.stop()
    batch = sorted(
        (r["user_id"], r["n_events"])
        for r in sessionize(load_events(spark, SF), gap_minutes=30).collect()
    )
    assert streamed == batch


def test_readstream_tumbling_memory_sink(spark):
    stream = read_events_stream(spark, SF)
    assert stream.isStreaming
    agg = tumbling_window_agg(stream, "1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_smoke")
        .start()
    )
    try:
        q.processAllAvailable()
        total = spark.sql("SELECT sum(n_events) FROM tumbling_smoke").first()[0]
        assert total == load_events(spark, SF).count()
    finally:
        q.stop()


def test_stream_dedup_across_microbatches(spark, tmp_path):
    """Re-delivered events (same event_id in a later file → later
    micro-batch) must be dropped by dropDuplicatesWithinWatermark;
    maxFilesPerTrigger=1 forces the duplicate to arrive in a separate
    batch, so surviving requires cross-batch key state."""
    from stock_data_pipeline_spark.streaming.events import stream_dedup

    rows1 = [(1, "2024-01-01 00:00:00", 100, "click", 1.0)]
    rows2 = [
        (1, "2024-01-01 00:00:00", 100, "click", 1.0),   # re-delivery
        (2, "2024-01-01 00:05:00", 100, "click", 2.0),   # new event
    ]
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    src = tmp_path / "src"
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(str(src))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stream_dedup(stream, ["event_id"], watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_smoke")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["event_id"] for r in spark.sql("SELECT event_id FROM dedup_smoke").collect())
        assert got == [1, 2], f"expected each event once, got {got}"
    finally:
        q.stop()


def test_stream_dedup_batch_twin_keeps_first(spark):
    from stock_data_pipeline_spark.streaming.events import stream_dedup

    rows = [
        (1, "2024-01-01 00:10:00", 100),
        (1, "2024-01-01 00:00:00", 101),   # earlier ts wins
        (2, "2024-01-01 00:05:00", 102),
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = {r["event_id"]: r["user_id"] for r in stream_dedup(df, ["event_id"]).collect()}
    assert got == {1: 101, 2: 102}


def test_stateful_checkpoint_recovery(spark, tmp_path):
    """Restart recovery for applyInPandasWithState (r06 VERDICT item 8):
    stop the query, add new source files, restart from the SAME
    checkpoint — per-user state must carry across the restart (no
    losses), the already-committed source files must NOT be reprocessed
    (no dupes), and the final totals must equal the batch twin over all
    input. This is the day-one 100-TB streaming property: a stateful
    job that cannot resume its state store is a batch job with extra
    steps."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stock_data_pipeline_spark.streaming.stateful import running_totals_per_user

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    # The file source takes files oldest first by millisecond mtime, and
    # back-to-back writes often share one, which leaves their order to
    # the directory listing. Stamp each file one second after the last.
    stamp = [time.time_ns() - 10**10]

    def put(name: str, rows: list[tuple[int, float]]) -> None:
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([r[0] for r in rows], pa.int64()),
                    "value": pa.array([r[1] for r in rows], pa.float64()),
                }
            ),
            in_dir / name,
        )
        stamp[0] += 10**9
        os.utime(in_dir / name, ns=(stamp[0], stamp[0]))

    def run(query_name: str) -> list:
        # foreachBatch, not the memory sink: memory does not support
        # checkpoint recovery (AnalysisException on restart) — exactly
        # the property under test
        collected: list = []
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir))
        )
        q = (
            running_totals_per_user(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: collected.extend(df.collect()))
            .queryName(query_name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return collected

    # phase 1: two files, run to completion, stop
    put("f1.parquet", [(1, 10.0), (2, 5.0)])
    put("f2.parquet", [(1, 2.0)])
    run1 = run("rt_recovery_run1")
    last1 = {}
    for r in run1:  # update mode: later rows supersede
        last1[r["user_id"]] = (r["events_seen"], r["value_sum"])
    assert last1 == {1: (2, 12.0), 2: (1, 5.0)}

    # phase 2: new files appear while the query is DOWN, then restart
    # from the same checkpoint
    put("f3.parquet", [(1, 1.0), (2, 1.0)])
    put("f4.parquet", [(1, 4.0), (2, 2.0)])
    run2 = run("rt_recovery_run2")

    # no losses: state resumed, so counts/sums continue from phase 1
    last2 = {}
    for r in run2:
        last2[r["user_id"]] = (r["events_seen"], r["value_sum"])
    assert last2 == {1: (4, 17.0), 2: (3, 8.0)}

    # no dupes: f1/f2 must not be reprocessed after restart — every
    # user-1 total emitted in run 2 already includes the full phase-1
    # state (12.0); a replayed phase-1 file would emit 10.0/12.0 again
    # or inflate events_seen beyond 4
    u1_sums = sorted(r["value_sum"] for r in run2 if r["user_id"] == 1)
    assert u1_sums == [13.0, 17.0]
    assert all(r["events_seen"] <= 4 for r in run2 if r["user_id"] == 1)

    # batch twin equivalence over the union of all files
    batch = (
        spark.read.parquet(str(in_dir))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    twin = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert twin == last2


def test_watermark_eviction_matches_batch_cutoff_twin(spark, tmp_path):
    """The last untested streaming property (r07 VERDICT item 7): the
    rows a watermarked APPEND-mode stream DROPS as too-late are exactly
    the rows a batch twin filtered by the same cutoff drops — i.e. the
    stream's finalized windows equal tumbling_window_agg over (all rows
    minus the late arrival), and do NOT equal the batch over all rows.

    Construction (1 h windows, 10 min watermark, maxFilesPerTrigger=1
    so each file is its own micro-batch and the watermark advances
    between them). The timing subtlety this pins: a late row merges as
    long as its window's STATE still exists — eviction happens at the
    END of the batch in which the watermark first exceeds the window
    end — so "dropped" means arriving in a batch strictly AFTER the
    eviction batch (verified empirically before writing this test: the
    same 00:30 row lands one file earlier and it MERGES):
    - file 1 fills windows [00:00) and [01:00) and carries a 03:00 row;
    - file 2 is on-time data only; the watermark entering this batch is
      02:50, so both early windows are emitted and their state evicted
      at its end;
    - file 3 re-delivers a 00:30 row (state gone, watermark 08:50 →
      DROPPED by the state-store save, no duplicate emission) plus an
      on-time 09:20 row;
    - file 4 is a 23:00 sentinel whose only job is to push the final
      watermark past every compared window end so append mode emits
      them all (its own never-finalized window is excluded from both
      sides of the comparison)."""
    cols = ["ts", "event_type", "value"]
    files = [
        [
            ("2024-01-01 00:10:00", "click", 1.0),
            ("2024-01-01 00:20:00", "click", 2.0),
            ("2024-01-01 00:40:00", "view", 3.0),
            ("2024-01-01 01:10:00", "click", 4.0),
            ("2024-01-01 03:00:00", "view", 5.0),
        ],
        [
            ("2024-01-01 03:10:00", "view", 6.0),
            ("2024-01-01 09:00:00", "click", 7.0),
        ],
        [
            ("2024-01-01 00:30:00", "click", 100.0),  # late: dropped
            ("2024-01-01 09:20:00", "click", 9.0),
        ],
        [("2024-01-01 23:00:00", "view", 8.0)],  # watermark sentinel
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(files):
        spark.createDataFrame(rows, cols).withColumn(
            "ts", F.to_timestamp("ts")
        ).coalesce(1).write.mode("append" if i else "overwrite").parquet(str(src))
        import time as _t

        _t.sleep(1.1)  # FileStreamSource orders batches by mtime

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        tumbling_window_agg(stream, "1 hour", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_eviction")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT * FROM wm_eviction WHERE window_start < '2024-01-01 23:00:00'"
                ).collect(),
            )
        )
    finally:
        q.stop()

    def batch_twin(rows):
        df = spark.createDataFrame(rows, cols).withColumn("ts", F.to_timestamp("ts"))
        return sorted(
            map(
                tuple,
                tumbling_window_agg(df, "1 hour")
                .filter(F.col("window_start") < "2024-01-01 23:00:00")
                .collect(),
            )
        )

    all_rows = [r for f in files for r in f]
    kept_rows = [r for r in all_rows if r[2] != 100.0]
    assert got == batch_twin(kept_rows), (
        "stream's finalized windows diverge from the batch twin over "
        "the non-late rows — watermark eviction is not the cutoff filter"
    )
    # guard against vacuity: the late row WAS genuinely dropped (a batch
    # over every row gives a different [00:00) window)
    assert got != batch_twin(all_rows), (
        "late row survived eviction — the watermark never dropped it"
    )
