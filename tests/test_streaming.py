"""Streaming semantics: stream/batch window equivalence (SURVEY.md Q22),
exactly-once LakeTable appends from foreachBatch, and late-data handling
under a watermark."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from de_gcp_lakehouse_iceberg_spark.lakehouse import LakeTable
from de_gcp_lakehouse_iceberg_spark.streaming import (
    read_events_stream,
    replay_windowed_aggregate,
    stream_append_to_laketable,
    windowed_aggregate,
)
from de_gcp_lakehouse_iceberg_spark.tables import table


def test_stream_equals_batch_windows(spark, sf_dir):
    # min_count=1: sf0.001 is too sparse for the default 5-event floor
    streamed = replay_windowed_aggregate(spark, sf_dir, min_count=1).collect()
    batch = (
        windowed_aggregate(table(spark, sf_dir, "events"), min_count=1)
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert len(streamed) > 0


def test_stream_append_exactly_once(spark, sf_dir, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "events_sink"))
    src = read_events_stream(spark, sf_dir)
    n_batches = stream_append_to_laketable(spark, src, t)
    assert n_batches >= 1
    expected = table(spark, sf_dir, "events").count()
    assert t.scan().count() == expected
    # each micro-batch is one snapshot commit on top of the create
    assert len(t.snapshots()) == 1 + n_batches


def test_windowed_aggregate_watermark_drops_late_rows(spark, tmp_path):
    """Rows later than the watermark relative to the max seen event time
    must be excluded from closed windows (append semantics). Replayed
    through a real stream in TWO micro-batches: the second batch's
    late row targets a window the watermark has already closed."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1, 12, 0, 0)
    on_time = [(1, base.replace(minute=0, second=30), "a", 1.0)] * 6
    advance = [(2, base.replace(minute=30), "a", 1.0)] * 6  # pushes watermark
    late = [(3, base.replace(minute=0, second=40), "a", 1.0)] * 6  # too late
    schema = "event_id long, ts timestamp, event_type string, value double"

    d = tmp_path / "late_src"
    d.mkdir()
    spark.createDataFrame(on_time + advance, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(d))
    agg = windowed_aggregate(stream, window="60 seconds", watermark="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # second batch arrives after watermark passed 12:25 → late row dropped
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(
        str(d)
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        (r.window_start, r.event_count)
        for r in spark.table("late_test").collect()
    }
    # the 12:00 window must contain only the 6 on-time rows — the late
    # batch (which would have made it 12) never lands
    assert (base.replace(second=0), 6) in rows
    assert (base.replace(second=0), 12) not in rows


def test_stream_append_idempotent_on_replayed_batch(spark, sf_dir, tmp_path):
    """Exactly-once under retry: if the checkpoint is lost and the
    bounded stream replays from scratch, already-committed batch_ids are
    skipped — no duplicate rows."""
    import shutil

    t = LakeTable.create(spark, str(tmp_path / "sink"))
    n1 = stream_append_to_laketable(
        spark, read_events_stream(spark, sf_dir), t, checkpoint_name="ck"
    )
    expected = table(spark, sf_dir, "events").count()
    assert n1 >= 1 and t.scan().count() == expected

    # resume with intact checkpoint: no new data, nothing committed
    n2 = stream_append_to_laketable(
        spark, read_events_stream(spark, sf_dir), t, checkpoint_name="ck"
    )
    assert n2 == 0 and t.scan().count() == expected

    # simulate a lost checkpoint (full replay, same batch ids)
    shutil.rmtree(f"{t.root}/_checkpoints/ck")
    n3 = stream_append_to_laketable(
        spark, read_events_stream(spark, sf_dir), t, checkpoint_name="ck"
    )
    assert n3 == 0 and t.scan().count() == expected


def test_append_mode_emits_watermark_closed_windows(spark, sf_dir, tmp_path):
    """Append mode (the mode a production sink runs in): replaying the
    events table must emit exactly the windows whose END the final
    watermark (max event time − delay) has passed, with per-window
    values identical to the batch aggregate. Complete-mode equality is
    covered by test_stream_equals_batch_windows; this pins the
    watermark-holdback semantics."""
    import uuid

    wm_delay = "10 minutes"
    window = "60 seconds"
    sink = f"append_replay_{uuid.uuid4().hex[:8]}"
    q = (
        windowed_aggregate(
            read_events_stream(spark, sf_dir),
            window=window,
            watermark=wm_delay,
            min_count=1,
        )
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_append"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.window_start, r.event_type): (r.event_count, r.total_value)
        for r in spark.table(sink).collect()
    }
    events = table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]
    batch = windowed_aggregate(events, window=window, min_count=1)
    closed = {
        (r.window_start, r.event_type): (r.event_count, r.total_value)
        for r in batch.withColumn(
            "window_end", F.col("window_start") + F.expr("INTERVAL 60 seconds")
        )
        .filter(
            F.col("window_end")
            <= F.lit(max_ts) - F.expr(f"INTERVAL {wm_delay}")
        )
        .drop("window_end")
        .collect()
    }
    assert len(closed) > 0  # the corpus spans >> the watermark delay
    assert streamed == closed


def test_stream_watermark_survives_interleaved_commits(spark, sf_dir, tmp_path):
    """The exactly-once high-watermark rides the snapshot summary and is
    carried forward through NON-streaming commits, so a maintenance op
    between micro-batches cannot reopen the door to duplicate appends."""
    import shutil

    t = LakeTable.create(spark, str(tmp_path / "sink_wm"))
    n1 = stream_append_to_laketable(
        spark, read_events_stream(spark, sf_dir), t, checkpoint_name="ck"
    )
    expected = table(spark, sf_dir, "events").count()
    assert n1 >= 1 and t.scan().count() == expected

    # interleave a non-streaming commit (append from batch)
    t.append(table(spark, sf_dir, "events").limit(5), operation="backfill")
    assert t.scan().count() == expected + 5

    # lost checkpoint → full replay with the same batch ids: watermark
    # (carried through the backfill snapshot) must still block them
    shutil.rmtree(f"{t.root}/_checkpoints/ck")
    n2 = stream_append_to_laketable(
        spark, read_events_stream(spark, sf_dir), t, checkpoint_name="ck"
    )
    assert n2 == 0 and t.scan().count() == expected + 5


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """Streaming dedup on event_id under a watermark: a replayed
    duplicate inside the watermark window is dropped; the sink sees
    each event once (the Kafka at-least-once → exactly-once pattern)."""
    import datetime as dt
    import uuid

    base = dt.datetime(2025, 1, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, value double"
    first = [(i, base + dt.timedelta(seconds=i), float(i)) for i in range(5)]
    # replay of ids 2-4 slightly later, plus one genuinely new event
    second = [
        (i, base + dt.timedelta(seconds=i + 1), float(i)) for i in (2, 3, 4)
    ] + [(9, base + dt.timedelta(seconds=30), 9.0)]

    d = tmp_path / "dup_src"
    d.mkdir()
    spark.createDataFrame(first, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))

    sink = f"dedup_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(second, schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(d))
    q.processAllAvailable()
    q.stop()

    got = sorted(r.event_id for r in spark.table(sink).collect())
    assert got == [0, 1, 2, 3, 4, 9]  # replays suppressed, new event kept


def test_stream_append_maintains_rollup(spark, sf_dir, tmp_path):
    """Streaming IVM: a rollup passed via refresh_rollups is delta-
    refreshed after every micro-batch commit, so when the stream
    drains the maintained aggregates equal a from-scratch recompute
    and the rollup's freshness marker sits at the sink's head."""
    from de_gcp_lakehouse_iceberg_spark.lakehouse.ivm import (
        IncrementalRollup,
    )

    t = LakeTable.create(spark, str(tmp_path / "sink"))
    # seed a first commit so the rollup can bootstrap a schema
    seed = table(spark, sf_dir, "events").limit(50)
    t.append(seed, operation="seed")
    rollup = IncrementalRollup.create(
        spark, str(tmp_path / "ru"), t,
        group_cols=["event_type"], sum_cols=["value"],
    )
    n = stream_append_to_laketable(
        spark,
        read_events_stream(spark, sf_dir),
        t,
        checkpoint_name="ivm_ck",
        refresh_rollups=[rollup],
    )
    assert n >= 1
    assert (
        rollup.table.snapshot().summary["source_version"]
        == t.current_version()
    )
    got = {
        r["event_type"]: (r["cnt"], float(r["sum_value"]))
        for r in rollup.df().collect()
    }
    want = {
        r["event_type"]: (r["cnt"], float(r["s"]))
        for r in t.scan()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("s"),
        )
        .collect()
    }
    assert got == want


def test_stream_append_poll_timeout_stops_a_hung_batch(spark, sf_dir, tmp_path):
    """`poll_timeout_s` bounds the run: a micro-batch still busy when it
    runs out (here a rollup refresh that hangs) stops the query and
    surfaces as TimeoutError instead of an unbounded wait."""
    import time

    class HungRollup:
        def refresh(self):
            time.sleep(4)

    t = LakeTable.create(spark, str(tmp_path / "sink"))
    with pytest.raises(TimeoutError):
        stream_append_to_laketable(
            spark,
            read_events_stream(spark, sf_dir),
            t,
            poll_timeout_s=1.0,
            checkpoint_name="hung",
            refresh_rollups=[HungRollup()],
        )
    assert not any(q.isActive for q in spark.streams.active)
