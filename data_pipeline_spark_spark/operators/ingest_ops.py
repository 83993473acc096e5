"""Ingest pipeline exposed as driver-checkable queries (rows-only —
the EEG format isn't SQL-oracle-expressible; SURVEY.md §5).

Each query generates the deterministic EEG fixture corpus
(sources/fixture.py, seeded), runs the relevant slice of the ingest
pipeline into a fresh temp dir, and returns a small result frame.
Covers SURVEY.md §2A keys: csv_header_probe, csv_meta_extract,
supercat_map, csv_scan_schema + row_offset_filter + ts_decode +
date_parts + add_literal_cols + parquet_write_part (composed in
`eeg_ingest`), plus the tidy-format melt.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import materialize
from ..registry import query
from ..sources import eeg_csv
from ..sources.fixture import generate_corpus
from ..sources.schema_rules import supercat_mapping_df

_FIXTURE_DIR = os.path.join(tempfile.gettempdir(), "dps_eeg_fixture_v1")


def _promote_staged(stage: str, target: str) -> None:
    """Atomically promote a complete staging dir (marker already
    written inside) to ``target``. The fast path is a bare rename —
    it wins iff the target is absent. When the rename fails, either
    another builder won (its marker exists: discard our stage) or a
    stale MARKERLESS target blocks the slot (killed pre-staging
    build, /tmp age-pruning) and must be replaced. The replacement is
    serialized through ``flock`` on a lock file: without it, two
    losers can interleave so one rmtree's the other's just-renamed
    complete store, and a reader in that window sees a missing/
    partial dir despite an earlier successful build (r8 ADVICE).

    Kernel-owned ``flock`` instead of an O_EXCL-file + mtime-stale
    heuristic: a dead holder's lock vanishes with its process, so
    there is no break path at all. Two generations of break schemes
    each left a two-holder window (r9's rename-aside restore could
    clobber a waiter's fresh lock; r10's serialized-guard unlink
    still had a stat→unlink TOCTOU against a holder that resumed
    after reading stale — r10 review). The lock FILE is deliberately
    never unlinked: unlink-while-locked is flock-by-path's one hole
    (A locks inode, B unlinks path, C creates+locks a NEW inode
    while A still holds the old one), and a leftover empty
    ``.lock`` beside the store is free."""
    import fcntl
    import time

    marker = os.path.join(target, ".complete")
    try:
        os.rename(stage, target)
        return
    except OSError:
        pass
    lock = target + ".lock"
    # a fixture/tidy-store build takes seconds; minutes of waiting
    # means a live-but-wedged holder, which no heuristic can safely
    # distinguish from a slow one — give up loudly. The deadline is
    # env-tunable because "slow" scales with the build (a loaded host
    # building a large fixture is legitimately minutes, r10 ADVICE);
    # on timeout the COMPLETE stage is left on disk and named in the
    # error so a retry can re-promote it instead of rebuilding.
    raw_timeout = os.environ.get("DPS_FIXTURE_LOCK_TIMEOUT_SEC", "240")
    try:
        timeout_sec = float(raw_timeout)
    except ValueError:
        raise ValueError(
            f"DPS_FIXTURE_LOCK_TIMEOUT_SEC={raw_timeout!r} is not a "
            "number — set it to a timeout in seconds (default 240)"
        ) from None
    deadline = time.monotonic() + timeout_sec
    fd = os.open(lock, os.O_CREAT | os.O_WRONLY, 0o644)
    try:
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                if os.path.exists(marker):
                    # the holder (or an earlier winner) promoted a
                    # complete store — ours loses, no need to wait
                    shutil.rmtree(stage, ignore_errors=True)
                    return
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"gave up waiting for fixture lock {lock!r}; "
                        f"complete stage kept at {stage!r} — retry "
                        "with DPS_FIXTURE_LOCK_TIMEOUT_SEC raised, "
                        "or promote the stage manually"
                    ) from None
                time.sleep(0.1)
        # re-check under the lock: the previous holder may have just
        # promoted a complete store
        if os.path.exists(marker):
            shutil.rmtree(stage, ignore_errors=True)
        else:
            shutil.rmtree(target, ignore_errors=True)
            try:
                os.rename(stage, target)
            except OSError:
                # a lock-free fast-path builder (first rename above)
                # can slide its complete store into the emptied slot
                # between our rmtree and rename; if a marker-bearing
                # store now occupies the target, the machine has a
                # good fixture and ours loses
                if not os.path.exists(marker):
                    raise
                shutil.rmtree(stage, ignore_errors=True)
    finally:
        os.close(fd)  # releases the flock


def fixture_dir() -> str:
    """Deterministic corpus, generated once per machine. Built in a
    private staging dir and atomically renamed into place so a
    concurrent builder (driver + pytest on a fresh machine) can never
    interleave a rmtree with the other's writes and bake a truncated
    corpus under the marker (r8 review finding — the downstream tidy
    store would cache the corruption forever)."""
    marker = os.path.join(_FIXTURE_DIR, ".complete")
    if not os.path.exists(marker):
        stage = tempfile.mkdtemp(prefix="dps_eeg_fixture_stage_")
        generate_corpus(stage, n_patients=3, max_sessions=2,
                        rows_per_session=120, n_signals=12, seed=42)
        with open(os.path.join(stage, ".complete"), "w") as f:
            f.write("ok")
        _promote_staged(stage, _FIXTURE_DIR)
    return _FIXTURE_DIR


@query("eeg_ingest")
def eeg_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ingest: fixture corpus → curated partitioned
    parquet → per-(PatientID, Year, Month, Day) row counts and a
    signal aggregate. Fresh output dir per call; counts are stable
    because the fixture is seeded."""
    out = tempfile.mkdtemp(prefix="dps_eeg_out_")
    try:
        eeg_csv.ingest(spark, fixture_dir(), out, run_id="driver")
        curated = eeg_csv.register_curated(spark, out, view="eeg_curated")
        result = (
            curated.groupBy("PatientID", "Year", "Month", "Day")
            .agg(
                F.count("*").alias("n_rows"),
                F.round(F.avg("S1_1"), 4).alias("avg_s1"),
            )
            .orderBy("PatientID", "Year", "Month", "Day")
        )
        # pin before the temp dir disappears — executor-side
        # localCheckpoint, not a driver collect (catalog.materialize)
        return materialize(result)
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query("csv_meta_extract")
def eeg_meta_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-probe metadata extraction (reference sparkle-v5.py:49-68
    semantics): one row per session file with its parsed patient
    metadata."""
    rows = []
    for path in eeg_csv.list_input_files(fixture_dir()):
        h = eeg_csv.probe_header(spark, path)
        rows.append(
            (
                os.path.basename(path),
                h.metadata.get("PatientName", ""),
                h.metadata.get("PatientID", ""),
                h.metadata.get("TestDate", ""),
                h.metadata.get("TestTime", ""),
                len(h.columns),
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, patient_name string, patient_id string, "
        "test_date string, test_time string, n_columns int",
    )


@query("supercat_map")
def eeg_supercat_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Super-category taxonomy fold (reference crawler.py:27-32 →
    mapping.json shape): (column, super_category) mapping table with
    group sizes."""
    path = eeg_csv.list_input_files(fixture_dir())[0]
    h = eeg_csv.probe_header(spark, path)
    mdf = supercat_mapping_df(spark, h.supercategories)
    return (
        mdf.groupBy("super_category")
        .agg(F.count("*").alias("n_columns"), F.min("column").alias("first_column"))
        .orderBy("super_category")
    )


@query("distinct_files")
def eeg_distinct_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct source files of a multi-file read via
    input_file_name() (reference sparkle-v5.py:55-58) — the lineage
    primitive behind per-file processing."""
    src = fixture_dir()
    paths = eeg_csv.list_input_files(src)
    h = eeg_csv.probe_header(spark, paths[0])
    schema = eeg_csv.build_schema(h.columns)
    df = spark.read.schema(schema).csv(paths)
    files = (
        df.select(F.input_file_name().alias("path"))
        .distinct()
        # input_file_name() is percent-encoded; decode so a staged
        # 'my session.csv' reports under its real name — the same
        # fix eeg_csv._source_file_name documents for this primitive
        # (r16 self-review)
        .select(
            F.url_decode(
                F.element_at(F.split("path", "/"), -1)
            ).alias("file")
        )
        .orderBy("file")
    )
    return files


@query("row_offset_filter")
def eeg_row_offset_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prelude skip two ways (reference sparkle-v5.py:89
    rdd.zipWithIndex().filter(idx > 7) vs our declarative
    ClockDateTime-null filter) — both must agree. Returns the counts
    side by side per file."""
    rows = []
    for path in eeg_csv.list_input_files(fixture_dir()):
        rdd_count = (
            spark.sparkContext.textFile(path)
            .zipWithIndex()
            .filter(lambda x: x[1] > 7)
            .count()
        )
        df_count = eeg_csv.read_session(spark, path).count()
        rows.append((os.path.basename(path), rdd_count, df_count))
    return spark.createDataFrame(
        rows, "file string, rdd_skip_count long, filter_skip_count long"
    )


@query("csv_scan_infer")
def eeg_csv_scan_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-INFERRED scan of a session file (reference
    sparkle-v5.py:87 / sparkle-v7.py:134) — kept as the explicit
    anti-pattern, now measuring BOTH failure modes (r16 self-review:
    the earlier single raw-infer row reported a different phenomenon
    than its docstring claimed): ``raw`` infers over the whole file,
    where the CSV reader sizes the schema from the metadata
    prelude's first 2-field line and silently TRUNCATES all signal
    columns; ``data_section`` infers over the prelude-stripped lines
    and shows inference's remaining costs (the extra pass — why v8
    went schema-explicit: 'REALLY slow', sparkle-v7.py:14 — and
    any mixed-type column degrading to string). Returns both shapes
    so the contrast with the schema-explicit scan is visible."""
    path = eeg_csv.list_input_files(fixture_dir())[0]

    def shape(mode, df):
        str_cols = sum(1 for _, t in df.dtypes if t == "string")
        return (
            mode,
            os.path.basename(path),
            len(df.columns),
            str_cols,
            df.count(),
        )

    raw = spark.read.option("inferSchema", "true").csv(path)
    body = (
        spark.sparkContext.textFile(path)
        .zipWithIndex()
        .filter(lambda x: x[1] >= 7)  # header line + data rows
        .map(lambda x: x[0])
    )
    data = spark.read.option("inferSchema", "true").option(
        "header", "true"
    ).csv(body)
    return spark.createDataFrame(
        [shape("raw", raw), shape("data_section", data)],
        "mode string, file string, n_columns int,"
        " n_string_columns int, n_rows long",
    )


@query("cast_by_prefix")
def eeg_cast_by_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-prefix bulk cast (reference sparkle-v7.py:151-154: every
    I*-column → double) applied to an all-string read of a session
    file; returns the resulting dtype per column."""
    from ..sources.schema_rules import cast_by_prefix

    path = eeg_csv.list_input_files(fixture_dir())[0]
    h = eeg_csv.probe_header(spark, path)
    # all-string read with positional names (the CSV reader sizes rows
    # from the first line, so the width must be schema-explicit here too)
    str_schema = ", ".join(f"c{i} string" for i in range(len(h.columns)))
    raw = spark.read.schema(str_schema).csv(path)
    renamed = raw.toDF(*h.columns)  # rename_all (reference sparkle-v5.py:95)
    cast = cast_by_prefix(renamed, "S", "double")
    return spark.createDataFrame(
        sorted(cast.dtypes), "column string, dtype string"
    )


@query("eeg_tidy_melt")
def eeg_tidy_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → tidy unpivot of the curated signals + broadcast join to
    the super-category mapping — the 6k-column scale strategy
    (SURVEY.md §7 step 5): per (channel, super_category) stats."""
    out = tempfile.mkdtemp(prefix="dps_eeg_tidy_")
    try:
        src = fixture_dir()
        eeg_csv.ingest(spark, src, out, run_id="melt")
        curated = eeg_csv.register_curated(spark, out, view="eeg_tidy_src")
        h = eeg_csv.probe_header(spark, eeg_csv.list_input_files(src)[0])
        signal_cols = [c for c in h.columns if c.startswith("S")]
        tidy = eeg_csv.melt_signals(curated, signal_cols)
        mapping = supercat_mapping_df(spark, h.supercategories)
        result = (
            tidy.join(F.broadcast(mapping), tidy.channel == mapping.column)
            .groupBy("channel", "super_category")
            .agg(F.count("*").alias("n_obs"), F.round(F.avg("value"), 4).alias("avg_value"))
            .orderBy("channel")
        )
        return materialize(result)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# oracle-checked tidy-layout rollup (SURVEY.md §7 step 5 with a SQL
# oracle: the wide→tidy strategy itself, not just its row counts)
# ---------------------------------------------------------------------------

_TIDY_STORE = os.path.join(tempfile.gettempdir(), "dps_eeg_tidy_store_v1")
_TIDY_SIGNALS = [f"S{i + 1}_1" for i in range(12)]  # fixture n_signals=12


def tidy_store(spark: SparkSession) -> str:
    """Materialize the curated WIDE table + super-category mapping to
    a deterministic parquet path, once per machine. Both engines then
    read the SAME bytes: Spark unpivots/joins/aggregates with
    DataFrame ops, DuckDB independently with SQL UNPIVOT — so the
    oracle verifies the melt + mapping-join + rollup logic, with the
    (already rows-only-checked) ingest as shared input."""
    marker = os.path.join(_TIDY_STORE, ".complete")
    if not os.path.exists(marker):
        # build in a session-private staging dir and atomically rename
        # into place: a concurrent builder (driver + pytest) must never
        # observe a half-written store, and the loser's rename simply
        # fails after the winner's marker already exists
        stage = tempfile.mkdtemp(prefix="dps_eeg_tidy_stage_")
        ingest_out = os.path.join(stage, "ingest")
        eeg_csv.ingest(spark, fixture_dir(), ingest_out, run_id="tidy-store")
        wide = eeg_csv.register_curated(spark, ingest_out, view="eeg_tidy_wide")
        wide.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stage, "wide")
        )
        h = eeg_csv.probe_header(
            spark, eeg_csv.list_input_files(fixture_dir())[0]
        )
        supercat_mapping_df(spark, h.supercategories).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, "mapping"))
        with open(os.path.join(stage, ".complete"), "w") as f:
            f.write("ok")
        _promote_staged(stage, _TIDY_STORE)
    return _TIDY_STORE


# NB this oracle reads the CURATED STORE the Spark side writes, not
# the immutable sf fixtures like every other oracle — so it is
# ORDER-DEPENDENT: the harness must run the Spark query before the
# SQL (the round driver does; a fresh machine evaluating the oracle
# first gets a missing-file error, not a wrong answer — loud, by
# design, since replaying the whole EEG ingest in SQL would
# duplicate the pipeline under test). (r16 self-review note.)
_TIDY_HOURLY_SQL = f"""
    WITH tidy AS (
      UNPIVOT (SELECT * FROM
               read_parquet('{_TIDY_STORE}/wide/*.parquet'))
      ON {", ".join(_TIDY_SIGNALS)}
      INTO NAME channel VALUE value
    ),
    m AS (SELECT * FROM read_parquet('{_TIDY_STORE}/mapping/*.parquet'))
    SELECT m.super_category,
           (CAST(floor(epoch(t."Timestamp")) AS BIGINT) // 3600) % 24
             AS hour_utc,
           COUNT(*) AS n_obs,
           CAST(SUM(CAST(round(t.value * 100000000) AS BIGINT)) AS DOUBLE)
             / (100000000.0 * COUNT(*)) AS mean_value
    FROM tidy t JOIN m ON t.channel = m."column"
    GROUP BY m.super_category, hour_utc
"""


@query("tidy_supercat_hourly", oracle=_TIDY_HOURLY_SQL)
def tidy_supercat_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-super-category hourly mean over the TIDY layout — the
    oracle-checked form of the SURVEY §7 wide-data strategy
    ([[eeg_tidy_melt]] is the rows-only composition): unpivot the
    curated wide store into (Timestamp, channel, value), broadcast-
    join the crawler's super-category mapping (reference
    crawler.py:27-32), and roll up mean signal per (group,
    hour-of-day).

    Cross-engine exactness: the fixture writes signals as 8-decimal
    strings, so CSV-parse → ×1e8 → round is the same integer in both
    engines; sums stay bigint (associative — any partial-agg merge
    order matches DuckDB's sequential fold) and the one double
    division at the end is the same IEEE op. Hour-of-day is integer
    epoch arithmetic (no timezone functions, so a hostile session TZ
    cannot skew it). Scale shape: unpivot is a row-local generator
    (no shuffle), the mapping joins as a broadcast, and the single
    shuffle is the final (group, hour) rollup — O(|groups|·24)
    output from partial aggregation, the same plan at 6,039 columns
    as at 12."""
    store = tidy_store(spark)
    wide = spark.read.parquet(os.path.join(store, "wide"))
    # the oracle UNPIVOTs the literal _TIDY_SIGNALS names, so a
    # fixture-shape drift must fail LOUDLY here rather than let the
    # engines silently aggregate different column subsets
    actual = [c for c in wide.columns if c.startswith("S")]
    if sorted(actual) != sorted(_TIDY_SIGNALS):
        raise ValueError(
            f"tidy store signals {actual} != oracle's {_TIDY_SIGNALS}"
        )
    tidy = wide.unpivot(
        ids=["Timestamp"],
        values=_TIDY_SIGNALS,
        variableColumnName="channel",
        valueColumnName="value",
    # Spark's unpivot RETAINS null cells; DuckDB's UNPIVOT excludes
    # them by default — align explicitly (a malformed CSV cell parses
    # to a null signal and survives ingest)
    ).filter(F.col("value").isNotNull())
    mapping = spark.read.parquet(os.path.join(store, "mapping"))
    secs = F.col("Timestamp").cast("long")
    return (
        tidy.join(F.broadcast(mapping), tidy.channel == mapping.column)
        .select(
            "super_category",
            ((F.floor(secs / 3600)) % 24).cast("bigint").alias("hour_utc"),
            F.round(F.col("value") * 100000000).cast("bigint").alias("v_e8"),
        )
        .groupBy("super_category", "hour_utc")
        .agg(
            F.count("*").alias("n_obs"),
            (
                F.sum("v_e8").cast("double")
                / (F.lit(100000000.0) * F.count("*"))
            ).alias("mean_value"),
        )
    )


_RT_FORMATS = ("parquet", "parquet_gzip", "orc", "json", "csv")

_RT_SQL = "\nUNION ALL\n".join(
    f"""
    SELECT '{fmt}' AS fmt,
           COUNT(*) AS n,
           CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_mv,
           COUNT(DISTINCT user_id) AS n_users,
           MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts_epoch,
           MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts_epoch
    FROM events
    """
    for fmt in _RT_FORMATS
)


@query("format_roundtrip", oracle=_RT_SQL)
def format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source/sink coverage beyond the reference's CSV-in/parquet-out
    pair: write the events table through FIVE sinks (snappy parquet,
    GZIP parquet, orc, json-lines, csv), read each back with an
    explicit schema (never inference — the v7→v8 lesson, reference
    sparkle-v7.py:14), and aggregate identical exact statistics from
    every copy. The oracle computes the same statistics straight from
    the parquet fixture, so a mismatch in ANY format's row means that
    sink/source pair dropped or mangled data. The gzip leg covers the
    reference's codec trade-off (README.md:25-27 ships gzip parquet
    for storage cost, snappy for scan speed) — same bytes back either
    way, only size/CPU differ.

    Timestamps travel as epoch-second bigints and the measure as
    exact milli-units, so text formats (csv/json) round-trip
    bit-exactly — the same discipline a multi-format 100 TB lake
    needs at its format boundaries. All four writes are shuffle-free
    task fan-outs; the reads are schema-explicit scans."""
    import shutil

    from pyspark.sql import types as T

    from ..catalog import load

    e = load(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.col("user_id"),
        F.round(F.col("value") * 1000).cast("bigint").alias("value_mv"),
        F.col("ts").cast("long").alias("ts_epoch"),
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value_mv", T.LongType()),
            T.StructField("ts_epoch", T.LongType()),
        ]
    )
    root = tempfile.mkdtemp(prefix="dps_roundtrip_")
    try:
        parts = []
        for fmt in _RT_FORMATS:
            path = os.path.join(root, fmt)
            base, _, codec = fmt.partition("_")
            writer = e.write.format(base).option("header", "true")
            if codec:
                writer = writer.option("compression", codec)
            writer.mode("overwrite").save(path)
            reader = spark.read.schema(schema)
            if base == "csv":
                reader = reader.option("header", "true")
            back = reader.format(base).load(path)
            parts.append(
                back.agg(
                    F.lit(fmt).alias("fmt"),
                    F.count("*").alias("n"),
                    F.sum("value_mv").alias("sum_mv"),
                    F.count_distinct(F.col("user_id")).alias("n_users"),
                    F.min("ts_epoch").alias("min_ts_epoch"),
                    F.max("ts_epoch").alias("max_ts_epoch"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
