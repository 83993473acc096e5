"""Incremental ingest via Structured Streaming (availableNow).

The reference's ingest is EVENT-DRIVEN micro-batch: an `.OK` sentinel
upload triggers a Lambda that launches a transient EMR run over the
staging folder (reference lambda-initiator-v2.py:27-39,
lambda-emr-initiator-spark.py:26-34), with at-most-once achieved by
moving files to processed/ (sparkle-v9.py:19-29). Structured
Streaming's file source replaces that whole choreography: the
checkpoint directory IS the ledger (exactly-once file tracking), and
`trigger(availableNow=True)` IS the "run once over whatever arrived"
semantics. No sentinel, no file moves, no duplicate-append bug.

Scale: the file-source checkpoint scales to millions of tracked files
(maxFilesPerTrigger bounds batch size); the sink write is the same
shuffle-free partitioned parquet append as the batch path.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import pin_utc
from ..sources.eeg_csv import build_schema, curate, probe_header


def stream_ingest_eeg(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    settle_s: float = 2.0,
) -> int:
    """availableNow streaming ingest of an EEG staging directory.
    Returns the number of rows written by THIS run (0 on a no-op
    re-run — the checkpoint already tracks every file).

    The curated transform is the batch path's ``curate``, INCLUDING
    per-file patient metadata: each staged file's 8-row prelude is
    probed driver-side (bounded, same probe the batch path runs), and
    ``curate`` looks each row's metadata up by its source file name,
    so the streaming curated schema is identical to the batch one.

    The streaming file source reads every file under one schema, so
    every file in the directory must carry the same header row; a
    mixed-header directory raises ValueError naming the odd files
    (batch ``eeg_csv.ingest`` groups files by header instead). Files
    already ingested by an earlier run count: the check covers the
    whole directory the source lists.
    """
    # Settle guard (r17 advisor fix): the staging hardlinks share the
    # source inode, so a CSV still being APPENDED after the listdir
    # snapshot would be ingested half-written through the staged link
    # and checkpoint-marked processed forever — staging closes the
    # new-file race, not the in-flight-write one. Guard (two
    # observations): a file whose mtime is within ±`settle_s` of now
    # is deferred to the next run (abs(), so a producer with a
    # skewed-FORWARD clock defers one cycle instead of forever),
    # and any file whose (size, mtime) changes between this stat and
    # a re-stat after the metadata-probe pass below is dropped from
    # the snapshot (a deferred/dropped file is absent from this
    # snapshot entirely, so the checkpoint never sees it). Residual,
    # stated honestly: a producer that stalls for > settle_s AND
    # writes nothing during the probe pass still slips through —
    # only the reference's atomic upload→rename pattern fully closes
    # that; renames preserve the completed file's mtime, so atomic
    # movers always pass immediately. Callers whose producer is
    # known quiescent (tests, the inventory demo — files fully
    # written before the call, same thread) pass ``settle_s=0.0``.
    import time as _time

    now = _time.time()
    files = []
    first_stat = {}
    for f in sorted(os.listdir(input_dir)):
        if not f.endswith(".csv"):
            continue
        try:
            st = os.stat(os.path.join(input_dir, f))
        except OSError:
            continue  # vanished between listdir and stat
        if abs(now - st.st_mtime) >= settle_s:
            files.append(f)
            first_stat[f] = (st.st_size, st.st_mtime)
    if not files:
        return 0

    # Per-file metadata lookup. Probing is O(files) driver-side reads
    # of ≤8 rows each — the same cost the batch path already pays; at
    # cluster scale this is a metadata pass, not a data pass.
    headers = {f: probe_header(spark, os.path.join(input_dir, f)) for f in files}
    # Second observation: drop any file whose (size, mtime) moved
    # while the probes above ran — an active writer observed across
    # a real I/O interval, not a point-in-time mtime guess. Only
    # meaningful when the caller asked for settling at all.
    if settle_s > 0:
        settled = []
        for f in files:
            try:
                st = os.stat(os.path.join(input_dir, f))
            except OSError:
                continue  # vanished mid-probe: defer, not ingest
            if (st.st_size, st.st_mtime) == first_stat[f]:
                settled.append(f)
        files = settled
        if not files:
            return 0
    columns = headers[files[0]].columns
    odd = [f for f in files if headers[f].columns != columns]
    if odd:
        raise ValueError(
            f"mixed headers in {input_dir}: {odd} differ from {files[0]}'s "
            f"{len(columns)} columns; the streaming file source reads one "
            "schema per directory, so ingest these with the batch "
            "eeg_csv.ingest, which groups files by header"
        )

    checkpoint = os.path.join(output_dir, "_checkpoint")
    data_dir = os.path.join(output_dir, "data")
    before_files = _committed_files(data_dir)

    # Stream a STABLE staging dir holding exactly the snapshot just
    # probed (hardlink per file, copy across devices) rather than
    # input_dir itself (r16 self-review): the source does its own
    # listing, so a CSV landing between the os.listdir snapshot and
    # the source's list would otherwise be ingested with NULL
    # metadata (it is absent from the metadata lookup) and
    # checkpoint-marked processed forever. Staged names are the
    # original names, so the checkpoint's no-op re-run contract
    # holds; files that land later are staged — with their metadata
    # probed — on the next run.
    staged_dir = os.path.join(output_dir, "_staged")
    os.makedirs(staged_dir, exist_ok=True)
    for f in files:
        dst = os.path.join(staged_dir, f)
        if not os.path.exists(dst):
            try:
                os.link(os.path.join(input_dir, f), dst)
            except OSError:
                import shutil

                shutil.copy2(os.path.join(input_dir, f), dst)

    raw = (
        spark.readStream.schema(build_schema(columns))
        .option("header", "false")
        .option("pathGlobFilter", "*.csv")
        .csv(staged_dir)
    )
    stream = curate(raw, headers)
    query = (
        stream.writeStream.format("parquet")
        .option("path", data_dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy("Year", "Month", "Day")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # rows written THIS run = footer row counts of the files this run
    # COMMITTED (the file sink reports numOutputRows = -1, and the
    # sink's total count would over-report on every incremental
    # re-run). The before/after diff of the _spark_metadata manifest
    # is O(new files) — parquet footers carry exact row counts, so no
    # data is scanned and no O(total-history) count() job runs (the
    # previous delta read the ENTIRE store twice per trigger, and a
    # failed after-read could even report a negative delta). The sink
    # is single-writer — the checkpoint serializes runs — so the diff
    # is exact.
    new_files = _committed_files(data_dir) - before_files
    return _rows_in_files(new_files)


def _committed_files(data_dir: str) -> set[str]:
    """Absolute paths of data files the streaming file sink has
    COMMITTED, from its _spark_metadata manifest (v1 line format:
    'v1' header then one JSON entry per file; .compact files carry
    the full history). Files present on disk but absent from the
    manifest are uncommitted debris and excluded — the same
    source-of-truth the sink's own readers use."""
    md = os.path.join(data_dir, "_spark_metadata")
    files: set[str] = set()
    if not os.path.isdir(md):
        return files
    for name in os.listdir(md):
        base = name[: -len(".compact")] if name.endswith(".compact") else name
        if not base.isdigit():
            continue
        try:
            with open(os.path.join(md, name)) as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    if entry.get("action", "add") == "add":
                        files.add(_manifest_local_path(entry["path"]))
        except (OSError, json.JSONDecodeError, KeyError):
            continue  # half-written manifest file: not committed yet
    return files


def _manifest_local_path(p: str) -> str:
    """Local filesystem path for a sink-manifest entry. The manifest
    records URIs in whatever form the sink's Hadoop FS produced —
    'file://host/x', 'file:/x', or a bare '/x' — and a naive
    prefix-strip of just 'file://' leaves the other forms unusable,
    making every footer read miss silently (r8 ADVICE: the run then
    reports 0 rows written instead of erroring). Non-file schemes
    (hdfs://, s3a://) have no local path; returned as-is so the
    footer read raises loudly below instead of being half-stripped."""
    from urllib.parse import unquote, urlparse

    parsed = urlparse(p)
    if parsed.scheme in ("file", ""):
        return unquote(parsed.path) or p
    return p


def _rows_in_files(paths: set[str]) -> int:
    """Exact row count from parquet FOOTERS — metadata reads only.
    A MISSING file is tolerated (the sink's log compaction deletes
    data files whose rows were already counted when they were new);
    any other read failure on a manifest-committed file means the
    count would silently undercount, so it raises."""
    import pyarrow.parquet as pq

    total = 0
    for p in paths:
        try:
            total += pq.ParquetFile(p).metadata.num_rows
        except FileNotFoundError:
            pass  # compacted-away file; its rows were counted when new
        except OSError as exc:
            raise RuntimeError(
                f"unreadable committed data file {p!r}: {exc}"
            ) from exc
    return total


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
