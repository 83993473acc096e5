"""Structured Streaming tests: availableNow incremental ingest
(checkpoint = exactly-once ledger) and event-time windowed aggregation
(streaming result == batch result)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from data_pipeline_spark_spark.sources import eeg_csv
from data_pipeline_spark_spark.sources.fixture import generate_corpus
from data_pipeline_spark_spark.streaming.ingest import (
    stream_ingest_eeg,
    windowed_event_counts,
)


def test_stream_ingest_exactly_once(spark, tmp_path):
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=2, max_sessions=1,
                    rows_per_session=40, n_signals=8, seed=3)
    out = str(tmp_path / "curated_stream")

    n1 = stream_ingest_eeg(spark, src, out, settle_s=0.0)
    assert n1 == 2 * 40

    # second availableNow run over the same dir: checkpoint makes it a
    # no-op — and the return value is rows written THIS run, so 0
    n2 = stream_ingest_eeg(spark, src, out, settle_s=0.0)
    assert n2 == 0

    # new file arrives → only its rows are added (and reported)
    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=25, n_signals=8, seed=11,
                    patient_offset=10)
    n3 = stream_ingest_eeg(spark, src, out, settle_s=0.0)
    assert n3 == 25

    assert os.path.isdir(os.path.join(out, "_checkpoint"))

    # the streaming curated schema carries per-file patient metadata,
    # exactly like the batch path
    curated = spark.read.parquet(os.path.join(out, "data"))
    assert {"PatientID", "PatientName", "PatientBirthDate", "TestDate",
            "TestTime"} <= set(curated.columns)
    patients = {r.PatientID for r in curated.select("PatientID").distinct().collect()}
    assert len(patients) == 3 and all(p for p in patients)


def test_stream_ingest_settle_guard_defers_inflight_files(spark, tmp_path):
    """A CSV whose mtime is inside the settle window is a possibly
    in-flight write: it must be DEFERRED (absent from this snapshot,
    so the checkpoint never marks it processed), then ingested once
    its mtime is old enough — the r17 advisor's in-flight-write race
    on the hardlinked staging snapshot."""
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=20, n_signals=8, seed=5)
    out = str(tmp_path / "curated_stream")

    # freshly written (mtime = now) → deferred under a wide window
    n = stream_ingest_eeg(spark, src, out, settle_s=3600.0)
    assert n == 0

    # backdate the file past the window → ingested in full
    for f in os.listdir(src):
        p = os.path.join(src, f)
        st = os.stat(p)
        os.utime(p, (st.st_atime, st.st_mtime - 7200))
    n = stream_ingest_eeg(spark, src, out, settle_s=3600.0)
    assert n == 20


def test_stream_ingest_recovers_crashed_dir_and_odd_filenames(spark, tmp_path):
    """Two recovery paths: (a) a staged filename with a space must
    still match its probed metadata — _metadata.file_name is
    percent-encoded, so without url_decode the metadata lookup
    silently yields null patient columns; (b) a data dir left behind
    by a crashed first run (exists, zero committed files) must read
    as 0 rows, not throw schema-inference errors on the re-run."""
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=30, n_signals=8, seed=7)
    [old] = [f for f in os.listdir(src) if f.endswith(".csv")]
    os.rename(os.path.join(src, old), os.path.join(src, "patient one.csv"))

    out = str(tmp_path / "curated_stream")
    os.makedirs(os.path.join(out, "data"))  # crashed-run debris: no files

    n = stream_ingest_eeg(spark, src, out, settle_s=0.0)
    assert n == 30

    curated = spark.read.parquet(os.path.join(out, "data"))
    assert curated.filter(curated.PatientID.isNull()).count() == 0


def test_stream_ingest_rejects_mixed_headers(spark, tmp_path):
    """The streaming source reads a directory under one schema: a
    later file with an extra channel would be parsed positionally
    under the first file's names, its extra column silently dropped.
    It must be refused by name instead."""
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=2, max_sessions=1,
                    rows_per_session=20, n_signals=2, seed=4)
    out = str(tmp_path / "curated_stream")
    assert stream_ingest_eeg(spark, src, out, settle_s=0.0) == 40

    [wide] = generate_corpus(str(tmp_path / "wide"), n_patients=1, max_sessions=1,
                             rows_per_session=20, n_signals=3, seed=5,
                             patient_offset=10)
    os.replace(wide, os.path.join(src, os.path.basename(wide)))
    with pytest.raises(ValueError, match=re.escape(os.path.basename(wide))) as exc:
        stream_ingest_eeg(spark, src, out, settle_s=0.0)
    assert "eeg_csv.ingest" in str(exc.value)
    assert spark.read.parquet(os.path.join(out, "data")).count() == 40


def test_batch_and_stream_curate_agree_on_encoded_names(spark, tmp_path):
    """Both paths look metadata up by the percent-encoded
    _metadata.file_name: names with a space, a literal '%20' and a
    '+' must all match their probed headers."""
    src = str(tmp_path / "staging")
    paths = generate_corpus(src, n_patients=3, max_sessions=1,
                            rows_per_session=20, n_signals=3, seed=6)
    for p, name in zip(paths, ["patient one.csv", "a%20b.csv", "c+d.csv"]):
        os.rename(p, os.path.join(src, name))
    batch_out = str(tmp_path / "batch")
    stream_out = str(tmp_path / "stream")
    assert eeg_csv.ingest(spark, src, batch_out) == 3
    assert stream_ingest_eeg(spark, src, stream_out, settle_s=0.0) == 60

    batch = spark.read.parquet(os.path.join(batch_out, "data"))
    stream = spark.read.parquet(os.path.join(stream_out, "data"))
    assert batch.columns == stream.columns
    assert sorted(batch.collect()) == sorted(stream.collect())
    meta = batch.select(
        F.count("PatientID").alias("ids"),
        F.count("PatientBirthDate").alias("births"),
        F.countDistinct("PatientID").alias("patients"),
    ).first()
    assert (meta.ids, meta.births, meta.patients) == (60, 60, 3)


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
