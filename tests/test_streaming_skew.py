"""Windowed, sessionized and anomaly rollups in batch and streaming mode."""

from __future__ import annotations

import datetime as dt


def test_windowed_counts_streaming_mode(spark, tmp_path):
    """The same windowed rollup plan as a real stream with watermarking."""
    import datetime as dt

    from eodatadown_spark.streaming.incremental import windowed_event_counts

    src = str(tmp_path / "ev_src")
    rows = [
        (dt.datetime(2024, 1, 1, 0, 10), "click", 1.0),
        (dt.datetime(2024, 1, 1, 0, 40), "click", 2.0),
        (dt.datetime(2024, 1, 1, 2, 10), "view", 3.0),  # advances watermark past hour 0
    ]
    spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(src)

    stream = windowed_event_counts(
        spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src),
        lateness="1 hour",
    )
    q = (stream.writeStream.format("memory").queryName("win_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # append mode emits only windows closed by the watermark (hour 0)
        got = {(r["win"]["start"].hour, r["event_type"]): (r["n"], r["total_value"])
               for r in spark.sql("SELECT * FROM win_out").collect()}
        assert got == {(0, "click"): (2, 3.0)}
    finally:
        q.stop()


def test_sliding_window_counts_batch_and_stream(spark, tmp_path):
    """Sliding windows: an event lands in duration/slide overlapping
    windows (2h/1h -> two each); the same plan runs as a stream and emits
    watermark-closed windows."""
    import datetime as dt

    from eodatadown_spark.streaming.incremental import sliding_window_counts

    rows = [
        (dt.datetime(2024, 1, 1, 1, 10), "click", 1.0),
        (dt.datetime(2024, 1, 1, 1, 50), "click", 2.0),
        (dt.datetime(2024, 1, 1, 2, 10), "view", 4.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = {
        (r["win"]["start"].hour, r["event_type"]): (r["n"], r["total_value"])
        for r in sliding_window_counts(df).collect()
    }
    # clicks at 1:10/1:50 cover windows starting 0:00 and 1:00; the view at
    # 2:10 covers 1:00 and 2:00
    assert got == {
        (0, "click"): (2, 3.0),
        (1, "click"): (2, 3.0),
        (1, "view"): (1, 4.0),
        (2, "view"): (1, 4.0),
    }

    src = str(tmp_path / "slide_src")
    extra = rows + [(dt.datetime(2024, 1, 1, 6, 0), "view", 0.5)]  # advances wm
    spark.createDataFrame(
        extra, "ts timestamp, event_type string, value double"
    ).coalesce(1).write.parquet(src)
    stream = sliding_window_counts(
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .parquet(src),
        lateness="1 hour",
    )
    q = (stream.writeStream.format("memory").queryName("slide_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        closed = {
            (r["win"]["start"].hour, r["event_type"])
            for r in spark.sql("SELECT * FROM slide_out").collect()
        }
        # every window ending at or before the 5:00 watermark is emitted
        assert closed == {(0, "click"), (1, "click"), (1, "view"), (2, "view")}
    finally:
        q.stop()


def test_daily_anomaly_scores(spark):
    """z-scores against each type's own daily distribution; single-day or
    zero-variance types yield NULL z instead of erroring."""
    import datetime as dt

    from eodatadown_spark.operators.temporal import daily_anomaly_scores

    rows = (
        # 'a': counts 1,1,4 across three days -> day3 is the spike
        [(dt.datetime(2024, 1, 1, 1), "a")]
        + [(dt.datetime(2024, 1, 2, 1), "a")]
        + [(dt.datetime(2024, 1, 3, h), "a") for h in range(1, 5)]
        # 'b': a single day -> stddev undefined -> NULL z
        + [(dt.datetime(2024, 1, 1, 1), "b")]
    )
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {(r["event_type"], str(r["day"])): (r["n"], r["z"])
           for r in daily_anomaly_scores(ev).collect()}
    assert got[("a", "2024-01-03")][0] == 4
    assert got[("a", "2024-01-03")][1] == round((4 - 2.0) / 1.7320508075688772, 3)
    assert got[("b", "2024-01-01")] == (1, None)


def test_sessionize_gap_semantics(spark):
    """Gap strictly > threshold starts a new session; ties at the threshold
    stay in-session; per-key numbering restarts at 1."""
    from eodatadown_spark.streaming.incremental import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: 0s, +1800s (== gap, same session), +1801s after that (new)
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=1800)),
        (3, 1, t0 + dt.timedelta(seconds=3601)),
        # user 2: single event
        (4, 2, t0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["session_id"]
           for r in sessionize(df, ["user_id"], "ts", 1800.0,
                               order_cols=["event_id"]).collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_subsecond_boundary(spark):
    """µs-exact: 1800.000001s is a new session, 1799.999999s is not —
    whole-second flooring (unix_timestamp) would get both wrong."""
    from eodatadown_spark.streaming.incremental import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + dt.timedelta(seconds=1800, microseconds=1)),
        (3, 2, t0),
        (4, 2, t0 + dt.timedelta(seconds=1799, microseconds=999999)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {r["event_id"]: r["session_id"]
           for r in sessionize(df, ["user_id"], "ts", 1800.0,
                               order_cols=["event_id"]).collect()}
    assert got == {1: 1, 2: 2, 3: 1, 4: 1}


def test_sessionize_timestamp_ntz(spark):
    """The driver's events.ts arrives as TIMESTAMP_NTZ on Spark 4.x; the
    operator must resolve (NTZ→LTZ→double) instead of the illegal direct
    NTZ→double cast."""
    from eodatadown_spark.streaming.incremental import sessionize

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1)), (2, 1, dt.datetime(2024, 1, 1, 2))],
        "event_id long, user_id long, ts timestamp_ntz",
    )
    got = sessionize(df, ["user_id"], "ts", 1800.0, order_cols=["event_id"]).collect()
    assert sorted(r["session_id"] for r in got) == [1, 2]


def test_session_window_rollup_streaming_mode(spark, tmp_path):
    """session_window_rollup runs as a REAL stream: watermark-gated append
    emits only sessions closed by the watermark — the live-sessionization
    path the lag+cumsum formulation cannot express."""
    from eodatadown_spark.operators.temporal import session_window_rollup

    src = str(tmp_path / "sess_src")
    rows = [
        (1, 1, dt.datetime(2024, 1, 1, 0, 0)),
        (2, 1, dt.datetime(2024, 1, 1, 0, 10)),   # same session as 1
        (3, 2, dt.datetime(2024, 1, 1, 0, 5)),
        (4, 1, dt.datetime(2024, 1, 1, 6, 0)),    # advances watermark far
    ]
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    ).coalesce(1).write.parquet(src)

    stream = session_window_rollup(
        spark.readStream.schema("event_id long, user_id long, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "1 hour"),
        ["user_id"],
        gap="30 minutes",
    )
    q = (stream.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = {(r["user_id"], r["n_events"])
               for r in spark.sql("SELECT * FROM sess_out").collect()}
        # sessions closed below the 05:00 watermark: user 1's 2-event
        # session and user 2's singleton; the 06:00 event's session is
        # still open state
        assert got == {(1, 2), (2, 1)}
    finally:
        q.stop()


def test_streaming_quality_filter_stateless(spark, tmp_path):
    """The text quality operators are pure projections, so the same plan
    runs as a Structured Streaming pipeline unchanged — the
    filter-as-you-ingest corpus shape."""
    from eodatadown_spark.operators.text import gopher_quality_flags

    src = str(tmp_path / "docs_stream")
    good = "the cats sat on top of the brown mat and it is good " * 5
    spark.createDataFrame(
        [(1, good), (2, "tiny")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = gopher_quality_flags(stream).where("keep")
    q = (out.writeStream.format("memory").queryName("quality_out")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT doc_id, keep FROM quality_out").collect()
        assert [(r["doc_id"], r["keep"]) for r in rows] == [(1, True)]
        # late-arriving file: stream picks it up incrementally
        spark.createDataFrame(
            [(3, good)], "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) FROM quality_out").first()[0] == 2
    finally:
        q.stop()
