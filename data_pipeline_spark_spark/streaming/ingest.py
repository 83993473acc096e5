"""Event-time windowed aggregation as a Structured Streaming query.

EEG ingest is not streamed: the reference's `.OK` sentinel triggered
one run over the staging folder (reference lambda-initiator-v2.py:27-39,
lambda-emr-initiator-spark.py:26-34), and ``sources.eeg_csv.ingest``
is that run: one call per trigger, its ledger making each call ingest
only the files that landed since the last.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import pin_utc


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window aggregation as a STREAM over the
    events table (readStream on the parquet dir), with a watermark for
    late data. The batch twin (operators/streaming_batch.py) is what
    the DuckDB oracle verifies; this streaming form is exercised by
    tests with a memory sink."""
    # same nanosecond-timestamp shim as catalog.load: read TIMESTAMP(NANOS)
    # as long nanos, floor to microseconds. Pin UTC first — the NTZ
    # retag below is only a metadata no-op under a UTC session zone,
    # and this entry point must not depend on catalog.load having
    # already run on this session.
    pin_utc(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch_schema = spark.read.parquet(events_path).schema
    # the streaming file source wants a DIRECTORY; narrow to the one
    # table file with a glob filter
    base_dir, file_name = os.path.split(events_path)
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", file_name)
        .parquet(base_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dict(stream.dtypes).get("ts") == "timestamp_ntz":
        # fixture parquet with no UTC-adjustment flag reads as NTZ;
        # withWatermark requires TIMESTAMP — retag under the UTC
        # session pin (pure metadata, same microseconds; see
        # catalog._ntz_to_ltz)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
