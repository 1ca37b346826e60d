"""Advanced streaming behavior: watermark late-data drop (observable, with
hand-ordered micro-batches) and the foreachBatch idempotent index sink."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from vector_search_spark.streaming.sink import upsert_index_sink


def _write_batch_file(spark, directory, rows, name):
    """Write one flat parquet FILE into the stream source dir (the file
    source does not discover arbitrary subdirectories — only files and
    partition-style key=value dirs)."""
    import glob
    import shutil
    import tempfile

    df = spark.createDataFrame(rows, "event_id long, ts timestamp, v double")
    staging = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    part = glob.glob(f"{staging}/part-*.parquet")[0]
    shutil.copy(part, f"{directory}/{name}.parquet")
    shutil.rmtree(staging, ignore_errors=True)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Deterministic two-batch run: an availableNow pass over batch 1
    persists watermark 11:50 in the checkpoint; a second availableNow pass
    (same checkpoint) then processes batch 2, whose 10:00 row is behind the
    watermark → DROPPED, while 14:00 advances the watermark and closes the
    earlier windows."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    captured = []

    def run_pass():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp, v double")
            .parquet(str(src))
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"), F.collect_set("event_id").alias("ids"))
        )
        q = (
            agg.writeStream.foreachBatch(lambda df, bid: captured.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch_file(spark, str(src), [(1, T(11, 0), 1.0), (2, T(12, 0), 1.0)], "b1")
    run_pass()  # watermark after: 12:00 - 10min = 11:50 (checkpointed)
    _write_batch_file(
        spark, str(src), [(3, T(10, 0), 1.0), (4, T(14, 0), 1.0)], "b2"
    )  # event 3 is behind the watermark; event 4 closes windows ≤ 13:50
    run_pass()

    seen = {eid for r in captured for eid in r["ids"]}
    assert 3 not in seen, captured  # late row discarded by the watermark
    assert 1 in seen and 2 in seen  # closed windows emitted with on-time rows
    assert 4 not in seen  # its window (14:00) is still open


def test_foreach_batch_upsert_sink_idempotent(spark, tmp_path):
    out = str(tmp_path / "idx")
    sink = upsert_index_sink(out, "event_id")
    b = spark.createDataFrame([(1, "a"), (2, "b")], "event_id long, payload string")
    sink(b, 0)
    # replayed batch (at-least-once) + one new row
    b2 = spark.createDataFrame([(2, "b"), (3, "c")], "event_id long, payload string")
    sink(b2, 1)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_incremental_index_update(spark, issue_dir, tmp_path):
    from vector_search_spark.plans.ingest import update_index
    from vector_search_spark.sources.files import read_markdown_dir

    from conftest import GOLDEN_ISSUE_CHUNKS

    cut = "2019-01-11"
    want_first = sum(n for name, n in GOLDEN_ISSUE_CHUNKS.items() if name < cut)

    docs = read_markdown_dir(spark, issue_dir).cache()
    first_half = docs.filter(F.col("date") < cut)
    out = str(tmp_path / "vidx")
    n1 = update_index(spark, out, first_half)
    assert n1 == want_first > 0
    # re-running with the same docs appends NOTHING (content-hash ids)
    assert update_index(spark, out, first_half) == 0
    # the full corpus appends exactly the remaining chunks
    n2 = update_index(spark, out, docs)
    total = spark.read.parquet(out).count()
    assert n1 + n2 == total == sum(GOLDEN_ISSUE_CHUNKS.values())
    docs.unpersist()


def test_stream_stream_join_equals_batch_interval_join(spark):
    """Stream-stream time-bounded join drained over the fixture ==
    the batch bucketed interval join's (purchase, click) pair set."""
    from vector_search_spark.operators.rangejoin import interval_join
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import (
        run_stream_to_memory,
        stream_events_from_parquet,
        stream_stream_attribution_join,
    )

    from conftest import SF_SMOKE as SF

    stream = stream_events_from_parquet(spark, SF)
    joined = stream_stream_attribution_join(stream)
    run_stream_to_memory(joined, "ssjoin_test", mode="append")
    got = {
        (r["p_event_id"], r["c_event_id"])
        for r in spark.sql("SELECT * FROM ssjoin_test").collect()
    }

    window_us = 5 * 60 * 1_000_000
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", F.expr("ts_ns DIV 1000").alias("ts_us"), "event_type"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id",
        F.col("ts_us").alias("p_ts_us"),
        (F.col("ts_us") + window_us).alias("p_end_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"), "user_id",
        F.col("ts_us").alias("ts_us"),
    )
    hits = interval_join(
        clicks, purchases, key="user_id", point_ts="ts_us",
        start="p_ts_us", end="p_end_us", bucket_width=window_us,
    )
    want = {
        (r["p_event_id"], r["c_event_id"]) for r in hits.collect()
    }
    assert got == want and len(got) > 0


def test_streaming_hll_equals_batch_sketch(spark):
    """Drained streaming HLL == batch sketch registers AND estimate, per
    event type (register merge is commutative, so micro-batch order is
    irrelevant)."""
    from vector_search_spark.operators.sketches import hll_registers
    from vector_search_spark.registry import QUERIES
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import (
        run_stream_to_memory,
        stream_events_from_parquet,
    )
    from vector_search_spark.streaming.stateful import streaming_hll_distinct

    from conftest import SF_SMOKE as SF

    stream = stream_events_from_parquet(spark, SF)
    run_stream_to_memory(streaming_hll_distinct(stream), "hll_test", mode="update")
    # update mode: last emission per key is the drained state
    got = {
        r["event_type"]: (r["n_seen"], r["harm_scaled"], round(r["hll_est"], 4))
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (PARTITION BY event_type
                                              ORDER BY n_seen DESC, harm_scaled) rn
                 FROM hll_test) WHERE rn = 1"""
        ).collect()
    }

    batch = QUERIES["hll_distinct_users"](spark, SF).collect()
    ev = load_table(spark, SF, "events").select("event_type", "user_id")
    regs = (
        hll_registers(ev, "event_type", "user_id")
        .groupBy("event_type")
        .count()
        .collect()
    )
    n_seen_batch = {r["event_type"]: r["count"] for r in regs}
    for row in batch:
        g = got[row.event_type]
        assert g[0] == n_seen_batch[row.event_type]
        assert g[2] == round(row.hll_est, 4)


def test_streaming_hdr_quantiles_equal_batch_sketch(spark):
    """Drained streaming HDR quantiles must equal the batch sketch's
    estimates exactly — bucket counts are additive and extraction is a
    pure fold, so micro-batching cannot change the result."""
    import pyspark.sql.functions as F
    from conftest import SF_TEST
    from vector_search_spark.operators.sketches import hdr_quantile_sketch
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import (
        run_stream_to_memory,
        stream_events_from_parquet,
    )
    from vector_search_spark.streaming.stateful import streaming_hdr_quantiles

    stream = stream_events_from_parquet(spark, SF_TEST)
    run_stream_to_memory(streaming_hdr_quantiles(stream), "hdrq_test", mode="update")
    # update mode emits one row per group per micro-batch: keep the last
    # (highest n) emission per group
    emitted = {}
    for r in spark.sql("SELECT * FROM hdrq_test").collect():
        if r.event_type not in emitted or r.n > emitted[r.event_type].n:
            emitted[r.event_type] = r
    ev = load_table(spark, SF_TEST, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5))
        .cast("long").alias("c"),
    )
    batch = hdr_quantile_sketch(ev, "event_type", "c", ps=[50, 95, 99])
    want = {}
    for r in batch.collect():
        want.setdefault(r.event_type, {})[r.p] = (r.n, r.est_cents)
    assert set(emitted) == set(want)
    for et, row in emitted.items():
        assert (row.n, row.p50_cents) == want[et][50]
        assert (row.n, row.p95_cents) == want[et][95]
        assert (row.n, row.p99_cents) == want[et][99]


def test_streaming_cms_no_undercount(spark):
    """Drained streaming CMS must account for every event (n equals the
    batch row count per type — counter addition is commutative across
    micro-batches) and its top-user estimate can never undercount the
    true per-user count (the CMS guarantee)."""
    import pyspark.sql.functions as F
    from conftest import SF_TEST
    from vector_search_spark.operators.sketches import cms_counters
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.streaming.events import (
        run_stream_to_memory,
        stream_events_from_parquet,
    )
    from vector_search_spark.streaming.stateful import streaming_cms_counts

    stream = stream_events_from_parquet(spark, SF_TEST)
    run_stream_to_memory(streaming_cms_counts(stream), "cmss_test", mode="update")
    final = {}
    for r in spark.sql("SELECT * FROM cmss_test").collect():
        if r.event_type not in final or r.n > final[r.event_type].n:
            final[r.event_type] = r
    ev = load_table(spark, SF_TEST, "events")
    for et, row in final.items():
        sub = ev.filter(F.col("event_type") == et)
        assert row.n == sub.count()
        true_top = (
            sub.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").first()
        )
        assert row.top_est >= true_top["count"]  # CMS never undercounts


def test_streaming_session_funnel_equals_batch(spark):
    """Drained streaming session funnel == the batch `event_funnel`
    numbers: same session count and same strict-order stage counts.
    Stream state is 5 longs/user; emissions are monotone snapshots, so the
    per-(user, sid) final stage times are the per-column max."""
    import pandas as pd

    from conftest import SF_TEST
    from vector_search_spark import registry
    from vector_search_spark.streaming.events import stream_events_from_parquet
    from vector_search_spark.streaming.stateful import streaming_session_funnel

    out = streaming_session_funnel(stream_events_from_parquet(spark, SF_TEST))
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pdf = spark.sql("SELECT * FROM funnel_stream").toPandas()
    final = pdf.groupby(["user_id", "sid"])[["v_us", "c_us", "p_us"]].max()

    batch = registry.QUERIES["event_funnel"](spark, SF_TEST).collect()[0]
    assert len(final) == batch["n_sessions"] > 0
    assert int((final["v_us"] >= 0).sum()) == batch["n_view"]
    assert int((final["c_us"] >= 0).sum()) == batch["n_view_click"]
    assert int((final["p_us"] >= 0).sum()) == batch["n_full_funnel"]


def test_streaming_exp_decay_equals_batch(spark):
    """Drained streaming exp-decay == the batch registry query, value for
    value (same quantized integer weights, linear/commutative fold)."""
    from vector_search_spark.registry import QUERIES
    from vector_search_spark.streaming.events import (
        run_stream_to_memory,
        stream_events_from_parquet,
    )
    from vector_search_spark.streaming.stateful import streaming_exp_decay

    from conftest import SF_SMOKE as SF

    stream = stream_events_from_parquet(spark, SF)
    run_stream_to_memory(streaming_exp_decay(stream), "expdecay_test", mode="update")
    got = {
        r["day"]: r["decayed_micro_cents"]
        for r in spark.sql(
            """SELECT day, decayed_micro_cents FROM (
                 SELECT *, row_number() OVER (PARTITION BY day
                                              ORDER BY decayed_micro_cents DESC) rn
                 FROM expdecay_test) WHERE rn = 1"""
        ).collect()
    }
    import datetime

    batch = {
        r["day"].toordinal(): r["decayed_micro_cents"]
        for r in QUERIES["exp_decay_daily_value"](spark, SF).collect()
    }
    assert got == batch
