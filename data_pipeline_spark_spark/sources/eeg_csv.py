"""EEG session-CSV → partitioned-parquet ingest, Spark-first.

Re-expresses the reference's ETL app (reference
spark-apps/sparkle-v9.py:77-141, with the metadata handling of
sparkle-v5.py:49-102) with its four bugs fixed (SURVEY.md §4):

1. append-only-new: the reference re-read the whole curated store,
   union'd the new batch and APPENDED — duplicating everything on
   every run (sparkle-v9.py:128-138). We append only the new batch
   and make re-runs no-ops via a processed-file ledger.
2. unionByName everywhere (the reference's positional union at
   sparkle-v9.py:130 breaks on column reorder).
3. real patient metadata (v5 semantics, sparkle-v5.py:65-102) with
   the v9 performance approach (schema from header probe, no
   inference — sparkle-v9.py:92-102; inference was "REALLY slow",
   sparkle-v7.py:14).
4. the 8 metadata/header rows are skipped on the full read (v9 left
   them in as null-ish rows, sparkle-v9.py:105).

Pipeline per run, then per header group (files whose header rows are
identical):
    settle guard: defer files that may still be being written
    probe each file (≤8 rows, driver-side) → metadata + header; every
    header checked before the first write
    schema build (all-double, v9)  → ONE schema-explicit CSV scan
    ``curate``: prelude skip, per-file metadata by file-name lookup,
                ×1e5 timestamp decode, Year/Month/Day derivation
    ONE partitioned write job      → staged, then committed (intent,
                                     rename into data/, ledger)
    schema-registry JSON export + ingest log, once per run

``ingest`` is the only writer of a curated store, and ``curate`` the
only curated transform.

Scale: the probe reads 8 rows per file; each group is one distributed
scan whose splits never span files, and one shuffle-free write
(partitionBy fan-out at the task level), so a monthly batch of N
same-header files costs one job, not N.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema_rules import fold_supercategories

PRELUDE_ROWS = 8  # 6 metadata rows + supercategory row + header row
META_KEYS = (
    "File",
    "PatientName",
    "PatientID",
    "PatientBirthDate",
    "TestDate",
    "TestTime",
)
# curated metadata columns, in store order
META_COLUMNS = ("PatientName", "PatientID", "PatientBirthDate", "TestDate", "TestTime")


@dataclass
class SessionHeader:
    metadata: dict[str, str]
    columns: list[str]
    supercategories: dict[str, list[str]]


# ---------------------------------------------------------------------------
# probe (driver-side, ≤8 rows — reference sparkle-v9.py:92-93 pattern)
# ---------------------------------------------------------------------------


def probe_header(spark: SparkSession, path: str) -> SessionHeader:
    """Read the 8-row prelude of one session file: key/value metadata
    (rows 1-6), super-category row (7), header row (8) — reference
    sparkle-v5.py:49-68 / sparkle-v9.py:92-93.

    Local files take a plain ``open()`` fast path: the prelude is 8
    short lines, and launching a Spark job per probe turns a staging
    dir of N files into N scheduler round-trips (~50-100 ms each,
    r8 review). Non-local URIs (s3://, hdfs://) keep the bounded
    spark.read.text probe."""
    if os.path.exists(path):
        lines = []
        with open(path, "r", encoding="utf-8") as fh:
            for _ in range(PRELUDE_ROWS):
                line = fh.readline()
                if not line:  # EOF — same short-file shape as limit()
                    break
                lines.append(line.rstrip("\n"))
    else:
        raw = (
            spark.read.schema("value string")
            .option("lineSep", "\n")
            .text(path)
            .limit(PRELUDE_ROWS)
            .collect()
        )
        # universal-newlines parity with the local open() branch: a
        # CRLF file read with lineSep='\n' leaves a trailing \r on
        # every line, which would smuggle a \r-suffixed last header
        # column into the curated store (r16 self-review)
        lines = [r.value.rstrip("\r") for r in raw]
    meta: dict[str, str] = {}
    for line in lines[:6]:
        key, _, value = line.partition(",")
        if key in META_KEYS:
            meta[key] = value.strip()
    supercat_row = lines[6].split(",") if len(lines) > 6 else []
    header_row = lines[7].split(",") if len(lines) > 7 else []
    return SessionHeader(
        metadata=meta,
        columns=header_row,
        supercategories=fold_supercategories(supercat_row, header_row),
    )


def build_schema(columns: list[str]) -> T.StructType:
    """All-double schema from the header names (the v9 approach,
    reference sparkle-v9.py:100-102): signal files are numeric; typed
    metadata enters as literal columns, not by casting the scan."""
    return T.StructType([T.StructField(c, T.DoubleType(), True) for c in columns])


# ---------------------------------------------------------------------------
# the curated transform
# ---------------------------------------------------------------------------


def decode_clock(col):
    """×1e5 ClockDateTime decode (reference sparkle-v9.py:114-118),
    with reference bug #5 fixed: the raw value is unix_seconds/1e5
    (random_generator.py:48), and (s/1e5)*1e5 can land up to ~2.4e-7
    BELOW the integer (double ulp at 1e9 magnitude). The reference's
    plain double→timestamp cast truncates, decoding ~1 in 500
    timestamps one second early (found by hypothesis,
    tests/test_properties.py::test_ts_codec_roundtrip). The encoding
    is integer-second resolution by construction (1 Hz), so
    round-to-nearest-second is the faithful inverse."""
    import pyspark.sql.functions as F

    return F.timestamp_seconds(F.round(col * F.lit(1e5), 0).cast("long"))


def _parse_ref_date(value: str | None):
    """Reference dates are 'Y/M/D' strings; curated type is date.
    try_to_date, not to_date: Spark 4 defaults to ANSI mode, where
    to_date RAISES on malformed input — one 'PatientBirthDate,unknown'
    row would abort the whole ingest run instead of landing as the
    null the curated schema already allows."""
    if not value:
        return F.lit(None).cast("date")
    return F.try_to_date(F.lit(value), "y/M/d")


def _source_file_name():
    """Raw base name of the file each row was read from.
    ``_metadata.file_name`` is percent-encoded (``patient one.csv``
    reads as ``patient%20one.csv``); url_decode undoes that, but it
    also decodes a literal '+' to a space, so '+' is escaped first."""
    name = F.col("_metadata.file_name")
    return F.url_decode(F.replace(name, F.lit("+"), F.lit("%2B")))


def curate(raw: DataFrame, headers: dict[str, SessionHeader]) -> DataFrame:
    """The curated transform, used by ``ingest`` and ``read_session``:
    a raw schema-explicit CSV frame (any number of files) → raw
    signals + typed patient metadata + decoded Timestamp +
    Year/Month/Day.

    ``headers`` maps each file's base name to its probed header. Each
    row's patient metadata is a lookup in a literal map keyed on its
    source file name (the file source exposes ``_metadata``), so no
    join is needed."""
    meta = F.create_map(
        *(
            x
            for name, h in headers.items()
            for x in (F.lit(name), _metadata_struct(h.metadata))
        )
    )[_source_file_name()]
    # The load-bearing ×1e5 decode (see decode_clock for the
    # truncation bug this avoids).
    ts = decode_clock(F.col("ClockDateTime"))
    # Prelude skip: the 8 prelude rows parse as all-null ClockDateTime
    # under the double schema (string keys don't cast); data rows always
    # carry a ClockDateTime. Declarative, distributed, no zipWithIndex.
    return raw.filter(F.col("ClockDateTime").isNotNull()).select(
        "*",
        *(meta[f].alias(f) for f in META_COLUMNS),
        ts.alias("Timestamp"),
        F.year(ts).alias("Year"),
        F.month(ts).alias("Month"),
        F.dayofmonth(ts).alias("Day"),
    )


def _metadata_struct(meta: dict[str, str]):
    return F.struct(
        F.lit(meta.get("PatientName", "")).alias("PatientName"),
        F.lit(meta.get("PatientID", "")).alias("PatientID"),
        _parse_ref_date(meta.get("PatientBirthDate")).alias("PatientBirthDate"),
        _parse_ref_date(meta.get("TestDate")).alias("TestDate"),
        F.lit(meta.get("TestTime", "")).alias("TestTime"),
    )


def scan_csv(spark: SparkSession, paths: list[str], columns: list[str]) -> DataFrame:
    """One schema-explicit scan over session files sharing a header."""
    return spark.read.schema(build_schema(columns)).option("header", "false").csv(paths)


def read_session(spark: SparkSession, path: str, header: SessionHeader | None = None) -> DataFrame:
    """One session file → curated DataFrame (``curate`` over one file)."""
    if header is None:
        header = probe_header(spark, path)
    return curate(scan_csv(spark, [path], header.columns), {os.path.basename(path): header})


# ---------------------------------------------------------------------------
# batch ingest with ledger idempotency
# ---------------------------------------------------------------------------


def _ledger_path(output_dir: str) -> str:
    return os.path.join(output_dir, "_ingest_ledger.json")


def _read_ledger(output_dir: str) -> set[str]:
    try:
        with open(_ledger_path(output_dir)) as f:
            return set(json.load(f))
    except (FileNotFoundError, json.JSONDecodeError):
        return set()


def _write_ledger(output_dir: str, processed: set[str]) -> None:
    _write_json(_ledger_path(output_dir), sorted(processed))


def _write_json(target: str, payload) -> None:
    """Atomic replace: writing in place with mode 'w' truncates first,
    so a crash mid-dump would leave an empty/partial JSON — for the
    ledger, one that _read_ledger treats as 'nothing processed', and
    the next run would re-append EVERY file (r8 review)."""
    os.makedirs(os.path.dirname(target), exist_ok=True)
    tmp = target + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, target)


def export_schema_registry(df: DataFrame, output_dir: str, run_id: str | None = None) -> str:
    """Serialize the curated schema as [{Name, Type}] JSON beside the
    table (reference write_schema_to_s3, sparkle-v9.py:31-61) — the
    registry the catalog layer reads instead of re-crawling."""
    run_id = run_id or time.strftime("%Y%m%d-%H%M%S")
    reg_dir = os.path.join(output_dir, "_schema_registry")
    os.makedirs(reg_dir, exist_ok=True)
    out = os.path.join(reg_dir, f"schema-{run_id}.json")
    payload = [
        {"Name": f.name, "Type": f.dataType.simpleString()} for f in df.schema.fields
    ]
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    return out


def list_input_files(input_dir: str) -> list[str]:
    return sorted(
        os.path.join(input_dir, f)
        for f in os.listdir(input_dir)
        if f.endswith(".csv")
    )


def ingest(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    run_id: str | None = None,
    settle_s: float = 0.0,
) -> int:
    """Ingest every unprocessed CSV in input_dir into the curated
    partitioned-parquet store. Returns the number of files ingested.

    Idempotent: a processed-file ledger replaces the reference's
    .OK-sentinel + move-to-processed choreography
    (lambda-initiator-v2.py:27-69, sparkle-v9.py:19-29); re-running
    over the same staging dir is a no-op (empty-input guard — the v5
    fix, reference sparkle-v5.py:43-46).

    Batched: each file's prelude is probed once, files are grouped by
    header signature (the column tuple), and each group is one scan
    and one partitioned write job, not one per file.

    Settle guard: a CSV may still be being written when ingest runs.
    A file whose mtime is within ±``settle_s`` of now is deferred
    (abs(), so a producer whose clock runs ahead defers one run, not
    forever), and with ``settle_s`` > 0 a file whose (size, mtime)
    changed while the probes ran is deferred too. A deferred file
    stays out of the ledger, so a later run ingests it. What still
    slips through: a writer that stalls for longer than ``settle_s``
    and writes nothing during the probes; only an atomic
    upload-then-rename closes that (a rename keeps the finished
    file's mtime, so it passes at once). The default 0.0 suits callers
    whose files are complete before the call.

    Poison files: every probed header must carry ``ClockDateTime``. A
    file truncated inside its prelude (or with a foreign header row)
    raises ValueError naming it before anything is written, so it
    cannot leave earlier groups committed and block every later run.

    Crash-safety contract (exactly-once): a group's write lands in
    ``_pending/<txn>`` and is committed in three steps — (1) an
    atomically written intent file names the group's CSVs, (2) the
    part files are renamed into ``data/``, (3) the ledger is written,
    then the intent and the staging dir are removed. Every call first
    recovers unfinished transactions: one with an intent file is rolled
    forward (renames are idempotent, the ledger update is a set
    union), one without is discarded and its CSVs, not in the ledger,
    are ingested again. One ingest per output_dir at a time: recovery
    treats every staging dir it finds as abandoned."""
    processed = _read_ledger(output_dir)
    headers = _probe_settled(spark, input_dir, processed, settle_s)
    bad = [p for p, h in headers.items() if "ClockDateTime" not in h.columns]
    if bad:
        raise ValueError(
            f"no header row with ClockDateTime in {bad}; nothing was "
            "ingested — repair or remove these files and run again"
        )
    done = _recover(output_dir, processed)
    groups: dict[tuple[str, ...], list[str]] = {}
    for path, h in headers.items():
        if os.path.basename(path) not in processed:  # not just recovered
            groups.setdefault(tuple(h.columns), []).append(path)
    if not groups and not done:
        return 0

    schema_df: DataFrame | None = None
    for columns, paths in groups.items():
        names = [os.path.basename(f) for f in paths]
        df = curate(
            scan_csv(spark, paths, list(columns)),
            {n: headers[p] for n, p in zip(names, paths)},
        )
        txn = uuid.uuid4().hex
        df.write.partitionBy("Year", "Month", "Day").parquet(
            os.path.join(_pending_dir(output_dir), txn)
        )
        _write_json(_intent_path(output_dir, txn), names)
        _roll_forward(output_dir, txn, names, processed)
        done += names
        empty = df.limit(0)
        schema_df = (
            empty
            if schema_df is None
            else schema_df.unionByName(empty, allowMissingColumns=True)
        )
    if schema_df is not None:
        os.rmdir(_pending_dir(output_dir))  # every staging dir committed
        export_schema_registry(schema_df, output_dir, run_id=run_id)
    append_ingest_log(output_dir, run_id or "batch", done)
    return len(done)


def _probe_settled(
    spark: SparkSession, input_dir: str, processed: set[str], settle_s: float
) -> dict[str, SessionHeader]:
    """Probe every CSV in input_dir that is not in the ledger and has
    settled (``ingest`` states the guard); maps path → header."""
    now = time.time()
    first: dict[str, tuple[int, float]] = {}
    for path in list_input_files(input_dir):
        if os.path.basename(path) in processed:
            continue
        st = _stat(path)
        if st is not None and abs(now - st[1]) >= settle_s:
            first[path] = st
    headers = {p: probe_header(spark, p) for p in first}
    if settle_s > 0:
        # second observation: drop files that moved across the probes
        headers = {p: h for p, h in headers.items() if _stat(p) == first[p]}
    return headers


def _stat(path: str) -> tuple[int, float] | None:
    """(size, mtime), or None for a file that vanished."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime


def _pending_dir(output_dir: str) -> str:
    # underscore-prefixed: Hadoop's hidden-file filter keeps readers of
    # output_dir out of uncommitted writes
    return os.path.join(output_dir, "_pending")


def _intent_path(output_dir: str, txn: str) -> str:
    return os.path.join(_pending_dir(output_dir), f"{txn}.intent.json")


def _roll_forward(output_dir: str, txn: str, names: list[str], processed: set[str]) -> None:
    """Steps 2 and 3 of the commit; safe to repeat after a crash at
    any point inside them."""
    stage = os.path.join(_pending_dir(output_dir), txn)
    data_dir = os.path.join(output_dir, "data")
    for root, _, files in os.walk(stage):
        rel = os.path.relpath(root, stage)
        if rel == os.curdir:
            continue  # the job's _SUCCESS marker, not data
        os.makedirs(os.path.join(data_dir, rel), exist_ok=True)
        for f in files:
            # part names carry the write job's UUID: never a clash
            os.replace(os.path.join(root, f), os.path.join(data_dir, rel, f))
    processed.update(names)
    _write_ledger(output_dir, processed)
    os.remove(_intent_path(output_dir, txn))
    shutil.rmtree(stage)


def _recover(output_dir: str, processed: set[str]) -> list[str]:
    """Finish every committed transaction left by a crashed run and
    discard the uncommitted ones; returns the CSV names committed."""
    pending = _pending_dir(output_dir)
    if not os.path.isdir(pending):
        return []
    done: list[str] = []
    for entry in sorted(os.listdir(pending)):
        if entry.endswith(".intent.json"):
            with open(os.path.join(pending, entry)) as f:
                names = json.load(f)
            _roll_forward(output_dir, entry[: -len(".intent.json")], names, processed)
            done += names
    shutil.rmtree(pending)  # staging dirs without an intent, temp files
    return done


def append_ingest_log(output_dir: str, run_id: str, files: list[str]) -> str:
    """Append one line per ingested file to the run log (reference
    lambda-initiator-v2.py:47-65 logged filenames + timestamp to a
    CSV log on every trigger)."""
    # NOT underscore-prefixed: Hadoop's hidden-file filter silently
    # excludes _*/.* paths from reads, and the log must be scannable.
    log_path = os.path.join(output_dir, "ingest-log.csv")
    stamp = time.strftime("%Y-%m-%dT%H:%M:%S")
    with open(log_path, "a") as f:
        for name in files:
            f.write(f"{stamp},{run_id},{name}\n")
    return log_path


def register_curated(spark: SparkSession, output_dir: str, view: str = "eeg") -> DataFrame:
    """Catalog sync: expose the curated store to SQL (replaces the
    reference's Glue crawler step, emr-no-vpc.py:159-169).

    Merges the part files' schemas: the channel set drifts between
    monthly batches, and an unmerged read takes its schema from the
    path-sorted first part file, dropping every column a later batch
    added."""
    df = spark.read.option("mergeSchema", "true").parquet(os.path.join(output_dir, "data"))
    df.createOrReplaceTempView(view)
    return df


# ---------------------------------------------------------------------------
# wide → tidy (the 100 TB query layout, SURVEY.md §7 step 5)
# ---------------------------------------------------------------------------


def melt_signals(df: DataFrame, signal_cols: list[str]) -> DataFrame:
    """Unpivot the wide signal columns into
    (Timestamp, PatientID, channel, value) long format.

    6k-wide rows defeat whole-stage codegen
    (spark.sql.codegen.maxFields default 100); the long format keeps
    every downstream plan narrow, at the cost of ×n_channels rows —
    which parquet run-length + dictionary encoding absorbs. Uses the
    built-in unpivot (ids stay typed; no stack() string-building)."""
    return df.unpivot(
        ids=["Timestamp", "PatientID"],
        values=signal_cols,
        variableColumnName="channel",
        valueColumnName="value",
    )
