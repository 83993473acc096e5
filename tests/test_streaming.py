"""Structured Streaming tests: event-time windowed aggregation
(streaming result == batch result) and bounded dedup state."""

from __future__ import annotations

import os

from data_pipeline_spark_spark.operators.streaming_batch import windowed_event_counts


def test_windowed_stream_matches_batch(spark, sf_dir):
    from data_pipeline_spark_spark.operators.streaming_batch import stream_window_agg

    stream_df = windowed_event_counts(spark, os.path.join(sf_dir, "events.parquet"))
    q = (
        stream_df.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in stream_window_agg(spark, sf_dir).collect()
    }
    assert got == want


def test_bounded_vs_unbounded_dedup_state(spark, tmp_path):
    """Minimal repro of the contract stream_dedup_bounded_state
    asserts at fixture scale: after the watermark passes every real
    key, dropDuplicatesWithinWatermark's state store holds only the
    sentinel keys, while plain dropDuplicates still holds EVERY key
    ever seen — the difference between a bounded and an unbounded
    100 TB streaming job."""
    import datetime

    from pyspark.sql import functions as F

    import os

    from data_pipeline_spark_spark.operators.streaming_batch import (
        _stamp_in_order,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(minutes=i)) for i in range(50)]
    src = str(tmp_path / "src")
    s1 = base + datetime.timedelta(days=30)

    # WRITE order must drive the mtime stamps — part-file UUID names
    # do not sort in write order (the first version of this test
    # sorted them and flaked ~15% of runs on a shuffled batch order)
    order: list[str] = []

    def append(df) -> None:
        df.coalesce(1).write.mode("append").parquet(src)
        order.extend(
            f
            for f in os.listdir(src)
            if f.endswith(".parquet") and f not in order
        )

    append(spark.createDataFrame(rows, "event_id long, ts timestamp"))
    for k, off in ((-1, 0), (-2, 1)):
        append(
            spark.createDataFrame(
                [(k, s1 + datetime.timedelta(hours=off))],
                "event_id long, ts timestamp",
            )
        )
    _stamp_in_order(src, order)
    schema = spark.read.parquet(src).schema

    def final_state_rows(dedup):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "2 hours")
        )
        stream = (
            stream.dropDuplicatesWithinWatermark(["event_id"])
            if dedup == "bounded"
            else stream.dropDuplicates(["event_id"])
        )
        name = f"bvu_{dedup}_{os.getpid()}"
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.table(name).count()
        spark.catalog.dropTempView(name)
        return n, q.lastProgress["stateOperators"][0]["numRowsTotal"]

    n_b, state_b = final_state_rows("bounded")
    n_u, state_u = final_state_rows("unbounded")
    assert n_b == n_u == 52  # same emitted rows (no dups in feed)
    assert state_u == 52  # unbounded: every key ever seen, forever
    assert state_b <= 2  # bounded: only the sentinel-era keys remain
