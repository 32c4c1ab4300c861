"""Structured Streaming conformance: a streaming aggregation over the
staged events must produce the same rows as the engine's batch windowed
operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.functions.aggregates import fixed_point_sum
from learn_etl_data_warehouse_spark.sources.parquet import load_table
from learn_etl_data_warehouse_spark.streaming.events import tumbling_window_batch


@pytest.mark.slow
def test_watermark_drops_late_data(spark, sf_small, tmp_path):
    """Append-mode aggregation with a watermark must drop events that
    arrive after the watermark passed their window."""
    import datetime

    from pyspark.sql import functions as F

    schema = "ts timestamp, k string"
    staged = str(tmp_path / "late_src")
    out = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    base = datetime.datetime(2024, 6, 1, 12, 0, 0)

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(staged)

    def run_once():
        # two runs share the checkpoint: the watermark persists across
        # restarts, so run 2 sees run 1's high-water mark
        stream = spark.readStream.schema(schema).parquet(staged)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "k")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "k", "n")
        )
        q = (
            agg.writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # run 1: on-time event at 13:00 → watermark checkpointed at 12:50
    write_file([(base + datetime.timedelta(hours=1), "on_time")])
    run_once()
    # run 2: an event a full hour behind the watermark must be dropped;
    # a second 13:01 event closes nothing yet (watermark still < 13:10)
    write_file(
        [
            (base, "too_late"),
            (base + datetime.timedelta(hours=1, minutes=1), "on_time"),
        ]
    )
    run_once()
    # run 3: a much later event finalizes every surviving window
    write_file([(base + datetime.timedelta(hours=3), "closer")])
    run_once()
    emitted = [r["k"] for r in spark.read.parquet(out).collect()]
    assert "too_late" not in emitted
    assert "on_time" in emitted  # the finalized on-time window did emit


def test_stream_sliding_matches_batch(spark, sf_small, tmp_path):
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.streaming.events import (
        sliding_window_batch,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_slide")
    events.write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    w = F.window(F.col("ts"), "10 minutes", "5 minutes")
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream_sliding")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_stream_sliding").collect()))
    want = sorted(map(tuple, sliding_window_batch(events).collect()))
    assert got == want


def test_stream_tumbling_matches_batch(spark, sf_small, tmp_path):
    events = load_table(spark, sf_small, "events")
    # Re-stage as microsecond-timestamp parquet (the raw fixture's NANOS
    # physical type is unreadable by the streaming source as well).
    staged = str(tmp_path / "events_stream")
    events.write.mode("overwrite").parquet(staged)
    schema = events.schema

    batch = tumbling_window_batch(events, minutes=10)

    stream = spark.readStream.schema(schema).parquet(staged)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window(F.col("ts"), "10 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum(F.col("value"), 100).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream_tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_stream_tumbling").collect()))
    want = sorted(map(tuple, batch.collect()))
    assert got == want


@pytest.mark.slow
def test_streaming_continuous_aggregate_matches_batch(spark, sf_small, tmp_path):
    """Streaming continuous aggregate: maintain_rollup inside foreachBatch.
    Micro-batches are insert-only diffs, so maintenance is a pure state
    merge (no dirty groups ever), and after the stream drains the
    maintained pre-agg must equal the batch hourly_preagg over all events
    — the streaming twin of e07's merge ≡ direct property."""
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.operators.rollups import (
        hourly_preagg,
        maintain_rollup,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_stream")
    # several files so availableNow produces real micro-batch boundaries
    events.repartition(4).write.mode("overwrite").parquet(staged)
    schema = events.schema

    rollup_dir = str(tmp_path / "rollup")
    empty = hourly_preagg(events.limit(0))
    empty.write.mode("overwrite").parquet(rollup_dir)

    def update_rollup(batch_df, batch_id):
        prev = batch_df.sparkSession.read.parquet(rollup_dir)
        diff = batch_df.withColumn("_change_type", F.lit("insert"))
        maintained, dirty = maintain_rollup(prev, diff)
        assert dirty.isEmpty()  # insert-only: min/max always mergeable
        out = maintained.collect()  # materialize before overwriting input
        batch_df.sparkSession.createDataFrame(
            out, maintained.schema
        ).coalesce(1).write.mode("overwrite").parquet(rollup_dir)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .writeStream.foreachBatch(update_rollup)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    finally:
        q.stop()

    got = {
        (r["hour"], r["event_type"]): (
            r["n"], r["sum_fp"], r["min_value"], r["max_value"]
        )
        for r in spark.read.parquet(rollup_dir).collect()
    }
    want = {
        (r["hour"], r["event_type"]): (
            r["n"], r["sum_fp"], r["min_value"], r["max_value"]
        )
        for r in hourly_preagg(events).collect()
    }
    assert got == want


@pytest.mark.slow
def test_streaming_cdf_with_deletes_matches_batch(spark, sf_small, tmp_path):
    """Delete-aware streaming IVM: a change-data-feed STREAM (insert and
    delete rows) applied batch-by-batch through maintain_rollup, with the
    delete-touched groups' min/max refreshed from the surviving snapshot
    at the end — the full IVM loop, streaming edition. Final state must
    equal hourly_preagg over the surviving events exactly.

    File delivery order matters (a delete must follow its insert), and
    FileStreamSource batch order is NOT reliably mtime-ordered — so this
    uses the repo's checkpointed availableNow-restart pattern (one file
    per run, same checkpoint), like the sessionizer tests."""
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.operators.rollups import (
        hourly_preagg,
        maintain_rollup,
        refresh_rollup_groups,
    )

    events = load_table(spark, sf_small, "events")
    cohort = F.col("event_id") % 7
    ins_a = events.filter(cohort < 3).withColumn("_change_type", F.lit("insert"))
    ins_b = events.filter(cohort >= 3).withColumn("_change_type", F.lit("insert"))
    dels = events.filter(cohort == 2).withColumn("_change_type", F.lit("delete"))
    survivors = events.filter(cohort != 2)

    cdf_dir = str(tmp_path / "cdf_stream")
    rollup_dir = str(tmp_path / "rollup")
    dirty_dir = str(tmp_path / "dirty")
    hourly_preagg(events.limit(0)).write.mode("overwrite").parquet(rollup_dir)
    schema = ins_a.schema

    def apply_cdf(batch_df, batch_id):
        s = batch_df.sparkSession
        prev = s.read.parquet(rollup_dir)
        maintained, dirty = maintain_rollup(prev, batch_df)
        out = maintained.collect()  # materialize before overwriting input
        dirty_rows = dirty.collect()
        s.createDataFrame(out, maintained.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(rollup_dir)
        if dirty_rows:
            s.createDataFrame(dirty_rows, dirty.schema).coalesce(1).write.mode(
                "append"
            ).parquet(dirty_dir)

    import os
    import shutil

    for i, frame in enumerate([ins_a, ins_b, dels]):
        frame.coalesce(1).write.parquet(
            str(tmp_path / f"file{i}"), mode="overwrite"
        )
        # one file per availableNow run → guaranteed in-order delivery
        src = str(tmp_path / "arrivals")
        os.makedirs(src, exist_ok=True)
        for f in os.listdir(str(tmp_path / f"file{i}")):
            if f.endswith(".parquet"):
                shutil.copy(
                    str(tmp_path / f"file{i}" / f), os.path.join(src, f"b{i}.parquet")
                )
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(apply_cdf)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(180)
        finally:
            q.stop()

    maintained = spark.read.parquet(rollup_dir)
    # deletes really marked groups dirty (null min/max awaiting refresh)
    dirty = spark.read.parquet(dirty_dir).distinct()
    assert dirty.count() > 0
    assert maintained.filter(F.col("min_value").isNull()).count() > 0
    final = refresh_rollup_groups(maintained, survivors, dirty)

    key = lambda r: (r["hour"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n"], r["sum_fp"], r["min_value"], r["max_value"])
           for r in final.collect()}
    want = {key(r): (r["n"], r["sum_fp"], r["min_value"], r["max_value"])
            for r in hourly_preagg(survivors).collect()}
    assert got == want


def test_multitouch_credit_conserved_and_remainder_to_earliest(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.streaming.events import (
        multitouch_credit_batch,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, user, typ, offset_min, value=0.0):
        return (eid, t0 + dt.timedelta(minutes=offset_min), user, typ, value, "{}")

    rows = [
        # user 1: three clicks then a 10.00 purchase → 3 touches
        ev(1, 1, "click", 0),
        ev(2, 1, "click", 5),
        ev(3, 1, "click", 10),
        ev(4, 1, "purchase", 20, 10.00),
        # user 2: one click out of window, one in
        ev(5, 2, "click", -60),
        ev(6, 2, "click", 15),
        ev(7, 2, "purchase", 25, 3.33),
        # user 3: purchase with no clicks → no rows
        ev(8, 3, "purchase", 0, 99.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    out = multitouch_credit_batch(df, 30)
    rows_out = out.collect()
    by_purchase = {}
    for r in rows_out:
        by_purchase.setdefault(r.purchase_id, []).append(r)
    assert set(by_purchase) == {4, 7}
    # conservation: credits sum to round(value*100)*10^4 per purchase
    assert sum(r.credit_micros for r in by_purchase[4]) == 10_000_000
    assert sum(r.credit_micros for r in by_purchase[7]) == 3_330_000
    # remainder lands on the EARLIEST click (id 1): 10_000_000 = 3*3_333_333 + 1
    credits = {r.click_id: r.credit_micros for r in by_purchase[4]}
    assert credits == {1: 3_333_334, 2: 3_333_333, 3: 3_333_333}
    assert {r.click_id for r in by_purchase[7]} == {6}
