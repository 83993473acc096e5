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
    ONE partitioned write job      → staged in _pending/<txn>, part
                                     files renamed into data/
    ONE commit-log entry           → _log/<version>.json: CSV names,
                                     txn, part files, merged schema

``ingest`` is the only writer of a curated store, and ``curate`` the
only curated transform. The commit log is the store's only commit
state: the processed-file ledger, the schema registry and the run log
are all read from it, and ``snapshot`` / ``register_curated`` bind
every reader to one committed version.

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
# the commit log: ``ingest`` appends to it, every reader binds to it
# ---------------------------------------------------------------------------


def _log_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "_log")


def _data_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "data")


def read_log(output_dir: str) -> list[dict]:
    """The store's commit log, oldest entry first. Entry ``v`` is
    ``_log/<v>.json``: version, run_id, ts, the CSV names (``csv``),
    the staged ``txn``, the part ``files`` it added (relative to
    ``data/``) and the store's merged ``schema`` after it."""
    try:
        names = os.listdir(_log_dir(output_dir))
    except FileNotFoundError:
        return []
    entries = []
    for v in sorted(int(n[: -len(".json")]) for n in names if n.endswith(".json")):
        with open(os.path.join(_log_dir(output_dir), f"{v}.json")) as f:
            entries.append(json.load(f))
    return entries


def snapshot(output_dir: str) -> tuple[int, list[str], list[dict]]:
    """The newest committed version of the store: (version, its part
    file paths, its [{Name, Type}] schema); version 0 is the empty
    store. A commit's files are in ``data/`` before its log entry is
    written and a committed file is never deleted, so every file of a
    snapshot stays readable."""
    entries = read_log(output_dir)
    if not entries:
        return 0, [], []
    files = [os.path.join(_data_dir(output_dir), f) for e in entries for f in e["files"]]
    return entries[-1]["version"], files, entries[-1]["schema"]


def _read_ledger(output_dir: str) -> set[str]:
    """The processed-file ledger: every CSV a committed version holds."""
    return {n for e in read_log(output_dir) for n in e["csv"]}


def _write_ledger(output_dir: str, entry: dict) -> None:
    """The commit point: write log entry ``entry["version"]`` by atomic
    replace, so a crash mid-dump leaves only a .tmp file, which
    ``read_log`` ignores, never a partial entry."""
    target = os.path.join(_log_dir(output_dir), f"{entry['version']}.json")
    os.makedirs(_log_dir(output_dir), exist_ok=True)
    with open(target + ".tmp", "w") as f:
        json.dump(entry, f, indent=1)
    os.replace(target + ".tmp", target)


def export_schema_registry(schema: T.StructType) -> list[dict]:
    """A curated schema as [{Name, Type}] (reference write_schema_to_s3,
    sparkle-v9.py:31-61), the form each log entry carries: the
    registry the catalog layer reads instead of re-crawling."""
    return [{"Name": f.name, "Type": f.dataType.simpleString()} for f in schema.fields]


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

    Idempotent: the processed-file ledger (the CSV names in the commit
    log) replaces the reference's .OK-sentinel + move-to-processed
    choreography (lambda-initiator-v2.py:27-69, sparkle-v9.py:19-29);
    re-running over the same staging dir is a no-op (empty-input
    guard — the v5 fix, reference sparkle-v5.py:43-46).

    Batched: each file's prelude is probed once, files are grouped by
    header signature (the column tuple), and each group is one scan,
    one partitioned write job and one commit-log version.

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
    ``_pending/<txn>``, its part files are renamed into ``data/``, and
    then ``_log/<version>.json`` is written atomically; that write is
    the commit point, and the stage is deleted after it. Every call
    first rolls back what a crashed run left: a stage the log names is
    deleted; a stage it does not name first has the part files it
    already renamed removed from ``data/`` (only in that stage's
    partition dirs, and never a file the log names), and its CSVs,
    absent from the ledger, are ingested again. One ingest per
    output_dir at a time: recovery treats every staging dir it finds
    as abandoned."""
    entries = read_log(output_dir)
    processed = {n for e in entries for n in e["csv"]}
    headers = _probe_settled(spark, input_dir, processed, settle_s)
    bad = [p for p, h in headers.items() if "ClockDateTime" not in h.columns]
    if bad:
        raise ValueError(
            f"no header row with ClockDateTime in {bad}; nothing was "
            "ingested — repair or remove these files and run again"
        )
    _recover(output_dir, entries)
    groups: dict[tuple[str, ...], list[str]] = {}
    for path, h in headers.items():
        groups.setdefault(tuple(h.columns), []).append(path)

    version, schema = (entries[-1]["version"], entries[-1]["schema"]) if entries else (0, [])
    for columns, paths in groups.items():
        names = [os.path.basename(f) for f in paths]
        df = curate(
            scan_csv(spark, paths, list(columns)),
            {n: headers[p] for n, p in zip(names, paths)},
        )
        txn = uuid.uuid4().hex
        stage = os.path.join(_pending_dir(output_dir), txn)
        df.write.partitionBy("Year", "Month", "Day").parquet(stage)
        files = _publish(stage, _data_dir(output_dir))
        known = {c["Name"] for c in schema}
        schema = schema + [c for c in export_schema_registry(df.schema) if c["Name"] not in known]
        version += 1
        _write_ledger(output_dir, {
            "version": version,
            "run_id": run_id,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "csv": names,
            "txn": txn,
            "files": files,
            "schema": schema,
        })
        shutil.rmtree(stage)
    if groups:
        os.rmdir(_pending_dir(output_dir))  # every staging dir committed
    return sum(len(paths) for paths in groups.values())


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


def _publish(stage: str, data_dir: str) -> list[str]:
    """Rename a stage's part files into ``data/`` under the same
    Year=/Month=/Day= dirs; returns them relative to ``data/``. The
    writer's .crc side files stay behind and go with the stage."""
    files = []
    for root, _, names in os.walk(stage):
        rel = os.path.relpath(root, stage)
        for n in names:
            if n.endswith(".parquet"):
                os.makedirs(os.path.join(data_dir, rel), exist_ok=True)
                # part names carry the write job's UUID: never a clash
                os.replace(os.path.join(root, n), os.path.join(data_dir, rel, n))
                files.append(os.path.join(rel, n))
    return sorted(files)


def _recover(output_dir: str, entries: list[dict]) -> None:
    """Roll back what a crashed run left in ``_pending``: a stage the
    log names was committed and is only deleted; one it does not name
    first has the part files it already renamed into ``data/``
    removed. Only that stage's partition dirs are looked at, and a
    file the log names is never removed."""
    pending = _pending_dir(output_dir)
    if not os.path.isdir(pending):
        return
    committed = {f for e in entries for f in e["files"]}
    for txn in set(os.listdir(pending)) - {e["txn"] for e in entries}:
        stage = os.path.join(pending, txn)
        for root, _, _ in os.walk(stage):
            rel = os.path.relpath(root, stage)
            target = os.path.join(_data_dir(output_dir), rel)
            if not os.path.isdir(target):
                continue
            for n in os.listdir(target):
                if n.endswith(".parquet") and os.path.join(rel, n) not in committed:
                    os.remove(os.path.join(target, n))
    shutil.rmtree(pending)


def register_curated(spark: SparkSession, output_dir: str, view: str = "eeg") -> DataFrame:
    """Catalog sync: expose the newest committed version of the
    curated store to SQL (replaces the reference's Glue crawler step,
    emr-no-vpc.py:159-169). The read is bound to a ``snapshot``: part
    files and schema come from the commit log, so Spark neither lists
    ``data/`` nor reads footers to plan it, and a commit in flight
    stays invisible until its log entry lands.

    The schema is the union over every commit, so a channel a later
    batch added is a column (null in older rows). Column order: the
    first commit's columns, then each column a later commit added, in
    commit order, then the Year/Month/Day partition columns last."""
    _, files, schema = snapshot(output_dir)
    ddl = ", ".join(f"`{c['Name'].replace('`', '``')}` {c['Type']}" for c in schema)
    df = spark.read.schema(ddl).option("basePath", _data_dir(output_dir)).parquet(*files)
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
