"""Structured Streaming tests: the streaming aggregation must equal the
batch operator's result once the stream is drained (same logical plan,
incremental execution)."""

from __future__ import annotations

from vector_search_spark.operators.relational import events_tumbling_counts
from vector_search_spark.sources.tables import load_table
from vector_search_spark.streaming.events import (
    run_stream_to_memory,
    stream_events_from_parquet,
    streaming_tumbling_counts,
)

from conftest import SF_SMOKE as SF


def test_streaming_tumbling_equals_batch(spark):
    stream = stream_events_from_parquet(spark, SF)
    assert stream.isStreaming
    agg = streaming_tumbling_counts(stream, window="1 hour", watermark="2 hours")
    run_stream_to_memory(agg, "tumbling_test", mode="complete")
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["value_cents"])
        for r in events_tumbling_counts(load_table(spark, SF, "events")).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_session_windows(spark):
    """session_window also runs under streaming (update mode + watermark)."""
    from vector_search_spark.operators.relational import user_sessions

    stream = stream_events_from_parquet(spark, SF)
    sess = user_sessions(stream.withWatermark("ts", "2 hours"), gap_minutes=10)
    run_stream_to_memory(sess, "sessions_test", mode="append")
    got = spark.sql("SELECT * FROM sessions_test").collect()
    # with availableNow + append, only watermark-closed sessions emit;
    # all of them must exist in the batch result with identical aggregates
    want = {
        (r["user_id"], r["session_start_us"]): (r["n_events"], r["value_cents"])
        for r in user_sessions(load_table(spark, SF, "events")).collect()
    }
    assert len(got) > 0
    for r in got:
        key = (r["user_id"], r["session_start_us"])
        assert want.get(key) == (r["n_events"], r["value_cents"]), key


def test_streaming_dedup_equals_batch_distinct(spark):
    """Streaming dropDuplicates (keyed, watermarked) == batch distinct on
    the same key set — the streaming form of exact dedup."""
    stream = stream_events_from_parquet(spark, SF)
    dedup = (
        stream.withWatermark("ts", "1 day")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    run_stream_to_memory(dedup, "dedup_test", mode="append")
    got = {(r["user_id"], r["event_type"]) for r in spark.sql("SELECT * FROM dedup_test").collect()}
    want = {
        (r["user_id"], r["event_type"])
        for r in load_table(spark, SF, "events").select("user_id", "event_type").distinct().collect()
    }
    assert got == want and len(got) > 0


def test_stateful_running_totals(spark):
    """applyInPandasWithState custom operator: after draining the stream,
    the LAST emitted totals per user equal the batch aggregates."""
    from pyspark.sql import functions as F
    from vector_search_spark.operators.relational import cents
    from vector_search_spark.streaming.stateful import running_user_totals

    stream = stream_events_from_parquet(spark, SF)
    totals = running_user_totals(stream)
    q = (
        totals.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode emits one row per touched user per batch; the final row
    # per user (max last_seen_us, then max n) is the end state
    emitted = spark.sql("SELECT * FROM running_totals").collect()
    final = {}
    for r in emitted:
        cur = final.get(r["user_id"])
        if cur is None or (r["n_events"], r["last_seen_us"]) > (cur["n_events"], cur["last_seen_us"]):
            final[r["user_id"]] = r
    want = {
        r["user_id"]: (r["n"], r["cents"])
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("cents"))
        .collect()
    }
    assert len(final) == len(want) > 0
    for uid, row in final.items():
        assert want[uid] == (row["n_events"], row["value_cents"]), uid


def test_streaming_asof_equals_batch(spark):
    """Streaming as-of join (applyInPandasWithState, O(1) state per key) ==
    the batch union+window as-of operator, row for row, once drained:
    every click carries the cents of the user's latest purchase at or
    before it (-1 sentinel before any purchase)."""
    from pyspark.sql import functions as F
    from vector_search_spark.operators.asof import asof_join_backward
    from vector_search_spark.operators.relational import cents
    from vector_search_spark.streaming.stateful import streaming_asof_backward

    stream = stream_events_from_parquet(spark, SF)
    tagged = stream.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("tag"),
        F.when(F.col("event_type") == "purchase", cents("value")).alias("r_cents"),
    )
    out = streaming_asof_backward(tagged)
    q = (
        out.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: (r["user_id"], r["ts_us"], r["asof_value_cents"])
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }

    batch = load_table(spark, SF, "events")
    left = batch.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    right = batch.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        cents("value").alias("value_cents"),
    )
    # determinism precondition of both operators: right unique per (key, ts)
    assert right.groupBy("user_id", "ts_us").count().filter("count > 1").count() == 0
    joined = asof_join_backward(left, right, "user_id", "ts_us", ["value_cents"])
    want = {
        r["event_id"]: (
            r["user_id"],
            r["ts_us"],
            -1 if r["asof_value_cents"] is None else r["asof_value_cents"],
        )
        for r in joined.collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_stateful_per_event_running_value(spark):
    """Streaming per-event running sums == the batch ROWS-frame cumulative
    column (user_running_value), row for row, once the stream drains."""
    from vector_search_spark.operators.relational import user_running_value
    from vector_search_spark.streaming.stateful import per_event_running_value

    stream = stream_events_from_parquet(spark, SF)
    out = per_event_running_value(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("per_event_running")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: (r["user_id"], r["ts_us"], r["cum_value_cents"])
        for r in spark.sql("SELECT * FROM per_event_running").collect()
    }
    want = {
        r["event_id"]: (r["user_id"], r["ts_us"], r["cum_value_cents"])
        for r in user_running_value(load_table(spark, SF, "events")).collect()
    }
    assert len(got) == len(want) > 0
    assert got == want


def test_streaming_sliding_equals_batch(spark):
    """Sliding 2h/1h windows, drained with availableNow: the streaming
    aggregate must equal the batch twin row-for-row (same two windows per
    event, same integer cents)."""
    from vector_search_spark.operators.relational import events_sliding_counts
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import (
        stream_events_from_parquet,
        streaming_sliding_counts,
        run_stream_to_memory,
    )

    stream = stream_events_from_parquet(spark, SF)
    agg = streaming_sliding_counts(stream, window="2 hours", slide="1 hour")
    run_stream_to_memory(agg, "sliding_test", mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.value_cents)
        for r in spark.sql("SELECT * FROM sliding_test").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.value_cents)
        for r in events_sliding_counts(load_table(spark, SF, "events")).collect()
    }
    assert got == want
