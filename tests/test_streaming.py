"""Structured Streaming conformance: the streaming form of each windowed
operator must produce the same rows as its batch twin."""

from __future__ import annotations

from pyspark.sql import functions as F

from learn_etl_data_warehouse_spark.sources.parquet import load_table
from learn_etl_data_warehouse_spark.streaming.events import (
    stream_tumbling_counts,
    tumbling_window_batch,
)


def test_stream_session_window_matches_batch(spark, sf_small, tmp_path):
    """session_window under Structured Streaming (availableNow) must
    reproduce the batch sessionization."""
    from pyspark.sql import functions as F

    from learn_etl_data_warehouse_spark.streaming.events import (
        session_windows_native,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_sess")
    events.write.mode("overwrite").parquet(staged)
    stream = spark.readStream.schema(events.schema).parquet(staged)
    agg = session_windows_native(stream.withWatermark("ts", "1 hour"), gap_minutes=30)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream_session")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_stream_session").collect()))
    want = sorted(map(tuple, session_windows_native(events, gap_minutes=30).collect()))
    assert got == want


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

    q = (
        stream_tumbling_counts(spark, staged, schema, minutes=10)
        .writeStream.format("memory")
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


def test_stream_stream_attribution_join_matches_batch(spark, sf_small, tmp_path):
    """Stream-stream inner join (watermarked both sides, time-bounded
    condition) must emit exactly the batch twin's attribution pairs."""
    from learn_etl_data_warehouse_spark.streaming.events import (
        attribution_pairs_batch,
        stream_attribution_pairs,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_attr")
    events.write.mode("overwrite").parquet(staged)
    joined = stream_attribution_pairs(
        spark, staged, events.schema, attribution_minutes=30
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_stream_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_stream_attr").collect()))
    want = sorted(
        map(tuple, attribution_pairs_batch(events, attribution_minutes=30).collect())
    )
    assert want, "fixture should contain attributable click->purchase pairs"
    assert got == want


def test_stream_dedup_matches_batch_distinct(spark, sf_small, tmp_path):
    """Replayed/duplicated events across micro-batches dedup to exactly
    the batch dropDuplicates result — first arrival wins, state bounded
    by the watermark."""
    from learn_etl_data_warehouse_spark.streaming.events import stream_dedup

    events = load_table(spark, sf_small, "events").limit(200)
    staged = str(tmp_path / "events_dup_stream")
    # file 1: the events; file 2: a full replay plus a partial replay —
    # duplicates arrive in LATER micro-batches than the originals
    events.coalesce(1).write.mode("append").parquet(staged)
    events.limit(120).coalesce(1).write.mode("append").parquet(staged)
    schema = events.schema

    q = (
        stream_dedup(spark, staged, schema)
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = sorted(
        map(tuple, spark.table("t_stream_dedup").select("event_id").collect())
    )
    want = sorted(
        map(tuple, events.dropDuplicates(["event_id"]).select("event_id").collect())
    )
    assert got == want  # every duplicate dropped, nothing else lost


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


def test_stream_stream_outer_attribution_matches_batch(spark, sf_small, tmp_path):
    """Left-outer stream-stream join: in the watermark-closed region the
    stream must emit EXACTLY the batch twin's rows (including the
    null-purchase rows); in the open tail it may only emit a subset
    (null rows there would be premature — a purchase could still come)."""
    from learn_etl_data_warehouse_spark.streaming.events import (
        attribution_outer_batch,
        stream_attribution_outer,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_outer_attr")
    events.write.mode("overwrite").parquet(staged)
    joined = stream_attribution_outer(
        spark, staged, events.schema, attribution_minutes=30,
        watermark_minutes=30,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_stream_outer_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    import datetime

    # the joint watermark follows the SLOWEST side: min over the two
    # sides' max event times, minus the watermark delay; an unmatched
    # click is only emittable once that passes click_ts + attribution
    side_max = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    joint = min(r["m"] for r in side_max)
    closed = joint - datetime.timedelta(minutes=30 + 30 + 1)
    got_all = spark.table("t_stream_outer_attr").collect()
    key = lambda r: (r["user_id"], r["click_id"], r["purchase_id"],
                     r["lag_us"], r["attributed"])
    got_closed = sorted(key(r) for r in got_all if r["click_ts"] <= closed)
    batch = attribution_outer_batch(events, attribution_minutes=30)
    batch_rows = batch.join(
        events.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
        ),
        "click_id",
    ).collect()
    want_closed = sorted(key(r) for r in batch_rows if r["click_ts"] <= closed)
    assert want_closed, "closed region should be non-empty"
    assert any(not r[4] for r in want_closed), "should contain unattributed clicks"
    assert got_closed == want_closed
    # open tail: stream rows must be a subset of batch rows
    want_all = {key(r) for r in batch_rows}
    assert all(key(r) in want_all for r in got_all)


def test_stream_enrichment_sees_atomic_dim_updates(spark, sf_small, tmp_path):
    """Per-batch dim re-resolution: a dimension version ATOMICALLY
    republished (idempotent manifest commit replacing its batch) between
    micro-batches is picked up by the next batch, without restarting the
    stream and without any torn read."""
    import os

    from learn_etl_data_warehouse_spark.plans.manifest_warehouse import (
        manifest_stream_sink,
    )
    from learn_etl_data_warehouse_spark.streaming.events import (
        enriched_stream_sink,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "stream_src")
    dim_table = str(tmp_path / "dim_table")
    os.makedirs(src)
    os.makedirs(dim_table)
    types = [r["event_type"] for r in events.select("event_type").distinct().collect()]
    dim_sink = manifest_stream_sink(dim_table)
    dim_sink(
        spark.createDataFrame(
            [(t, "v1") for t in types], "event_type STRING, label STRING"
        ),
        0,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = spark.readStream.schema(events.schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                enriched_stream_sink(dim_table, out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    events.limit(100).coalesce(1).write.mode("append").parquet(src)
    run_once()

    # dim v2: replayed manifest batch 0 REPLACES v1 in one atomic publish
    dim_sink(
        spark.createDataFrame(
            [(t, "v2") for t in types], "event_type STRING, label STRING"
        ),
        0,
    )
    events.limit(250).coalesce(1).write.mode("append").parquet(src)
    run_once()

    got = spark.read.parquet(out)
    labels = {r["label"] for r in got.select("label").distinct().collect()}
    assert labels == {"v1", "v2"}  # each batch saw its era's dim version
    assert got.filter(F.col("label").isNull()).count() == 0
    assert got.count() >= 250


def test_stream_windowed_topk_matches_batch(spark, sf_small, tmp_path):
    """Streaming leaderboard (windowed counts → per-window rank in
    foreachBatch) must equal the batch twin on every window the
    watermark closed; open windows are withheld, not partially ranked."""
    import os

    from learn_etl_data_warehouse_spark.streaming.events import (
        stream_windowed_user_counts,
        windowed_topk_sink,
    )

    events = load_table(spark, sf_small, "events")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    events.coalesce(1).write.mode("append").parquet(src)

    agg = stream_windowed_user_counts(spark, src, events.schema, minutes=60)
    q = (
        agg.writeStream.foreachBatch(windowed_topk_sink(out, k=3))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    import __spark_entry__ as entrymod

    got_df = spark.read.parquet(out)
    batch = entrymod.queries()["e05_windowed_topk_users"](spark, sf_small)
    # the stream only emits watermark-closed windows: compare on those
    closed = {r["window_start"] for r in got_df.select("window_start").distinct().collect()}
    key = lambda r: (r["window_start"], r["user_id"], r["n_events"], r["rnk"])
    got = sorted(key(r) for r in got_df.collect())
    want = sorted(
        key(r) for r in batch.collect() if r["window_start"] in closed
    )
    assert len(closed) >= 5, "expected several closed windows"
    assert got == want


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


def test_stream_daily_active_users_matches_batch(spark, sf_small, tmp_path):
    """Streaming DAU (dedup-then-count, two chained stateful stages) must
    equal growth_accounting's dau on every watermark-closed day, with
    replayed events across micro-batches counted once."""
    from learn_etl_data_warehouse_spark.operators.product_analytics import (
        growth_accounting,
    )
    from learn_etl_data_warehouse_spark.streaming.events import (
        stream_daily_active_users,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_dau_stream")
    events.coalesce(1).write.mode("append").parquet(staged)
    # replay a slice: same (day, user) sightings must not double-count
    events.limit(150).coalesce(1).write.mode("append").parquet(staged)
    schema = events.schema

    q = (
        stream_daily_active_users(spark, staged, schema, watermark_hours=1)
        .writeStream.format("memory")
        .queryName("t_stream_dau")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    import datetime as dt

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    closed = lambda day: day + dt.timedelta(days=1) <= max_ts - dt.timedelta(hours=1)
    got = {
        r["day"]: r["dau"]
        for r in spark.table("t_stream_dau").collect()
        if closed(r["day"])
    }
    want = {
        r["day"]: r["dau"]
        for r in growth_accounting(events).collect()
        if closed(r["day"])
    }
    assert got == want
    assert len(want) >= 25  # the fixture spans ~30 days; most must close


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


def test_stream_stream_full_attribution_matches_batch(spark, sf_small, tmp_path):
    """Full-outer stream-stream join: the watermark-closed region must
    equal the batch twin exactly — including null rows on BOTH sides
    (clicks without conversion AND organic purchases); the open tail
    may only emit a subset."""
    import datetime

    from learn_etl_data_warehouse_spark.streaming.events import (
        attribution_full_batch,
        stream_attribution_full,
    )

    events = load_table(spark, sf_small, "events")
    staged = str(tmp_path / "events_full_attr")
    events.write.mode("overwrite").parquet(staged)
    joined = stream_attribution_full(
        spark, staged, events.schema, attribution_minutes=30,
        watermark_minutes=30,
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("t_stream_full_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    side_max = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    joint = min(r["m"] for r in side_max)
    closed = joint - datetime.timedelta(minutes=30 + 30 + 1)
    key = lambda r: (r["user_id"], r["click_id"], r["purchase_id"],
                     r["lag_us"], r["attributed"])
    anchor = lambda r: r["click_ts"] if r["click_ts"] is not None else r[
        "purchase_ts"
    ]
    norm = lambda t: tuple(
        (x is None, 0 if x is None else x) for x in t
    )
    got_all = spark.table("t_stream_full_attr").collect()
    got_closed = sorted(
        (key(r) for r in got_all if anchor(r) <= closed), key=norm
    )

    batch = attribution_full_batch(events, attribution_minutes=30)
    clicks_ts = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purch_ts = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch_rows = (
        batch.join(clicks_ts, "click_id", "left")
        .join(purch_ts, "purchase_id", "left")
        .collect()
    )
    want_closed = sorted(
        (key(r) for r in batch_rows if anchor(r) <= closed), key=norm
    )
    assert want_closed, "closed region should be non-empty"
    assert any(
        r[4] is False and r[1] is not None for r in want_closed
    ), "should contain unattributed clicks"
    assert any(
        r[1] is None for r in want_closed
    ), "should contain organic purchases (no preceding click)"
    assert got_closed == want_closed
    want_all = {key(r) for r in batch_rows}
    assert all(key(r) in want_all for r in got_all)
