"""EEG ingest pipeline tests (SURVEY.md §2A re-expression).

Pins: prelude skip, metadata extraction, the ×1e5 timestamp decode,
partitioned write, ledger idempotency (the reference's
read-union-append duplication bug #1 must NOT reproduce), schema
registry, supercategory fold, wide→tidy melt, the settle guard for
files still being written, poison-header refusal, crash recovery and
one ingest per event trigger.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import threading
import time

import pytest

from pyspark.sql import functions as F

from data_pipeline_spark_spark.sources import eeg_csv
from data_pipeline_spark_spark.sources.fixture import generate_corpus
from data_pipeline_spark_spark.sources.schema_rules import (
    fold_supercategories,
    type_for_column,
)

from .test_catalog import _jobs


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("eeg_in"))
    paths = generate_corpus(
        d, n_patients=2, max_sessions=2, rows_per_session=50, n_signals=10, seed=7
    )
    return d, paths


def test_probe_header(spark, corpus):
    _, paths = corpus
    h = eeg_csv.probe_header(spark, paths[0])
    assert h.metadata["PatientID"].startswith("P")
    assert h.metadata["PatientName"].startswith("Patient ")
    assert h.columns[:2] == ["ClockDateTime", "Time"]
    assert len(h.columns) == 12  # 2 + 10 signals
    # supercategory fold: labels span groups of SUPERCAT_SPAN columns
    assert "" in h.supercategories  # ClockDateTime/Time are unlabeled
    assert any(k.startswith("Group ") for k in h.supercategories)


def test_read_session_skips_prelude_and_decodes(spark, corpus):
    _, paths = corpus
    df = eeg_csv.read_session(spark, paths[0])
    assert df.count() == 50  # 8 prelude rows skipped
    row = df.orderBy("ClockDateTime").first()
    # ×1e5 decode (reference sparkle-v9.py:114-118): Timestamp must
    # round-trip the encoded ClockDateTime to the exact second
    expected = dt.datetime.fromtimestamp(
        round(row.ClockDateTime * 1e5), tz=dt.timezone.utc
    ).replace(tzinfo=None)
    assert row.Timestamp == expected
    assert (row.Year, row.Month, row.Day) == (
        expected.year,
        expected.month,
        expected.day,
    )
    # v5-semantics metadata (not v9's empty literals)
    assert row.PatientID != ""
    assert row.PatientBirthDate is not None


def test_one_second_cadence(spark, corpus):
    _, paths = corpus
    df = eeg_csv.read_session(spark, paths[0])
    ts = [r.Timestamp for r in df.orderBy("Time").collect()]
    deltas = {(b - a).total_seconds() for a, b in zip(ts, ts[1:])}
    assert deltas == {1.0}  # 1 Hz rows (reference random_generator.py:47)


def test_ingest_idempotent(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    n1 = eeg_csv.ingest(spark, src, out, run_id="r1")
    assert n1 == len(paths)
    count1 = spark.read.parquet(os.path.join(out, "data")).count()

    # re-run over the same staging dir: MUST be a no-op (reference
    # bug #1: re-read + union + append duplicated everything)
    n2 = eeg_csv.ingest(spark, src, out, run_id="r2")
    assert n2 == 0
    count2 = spark.read.parquet(os.path.join(out, "data")).count()
    assert count1 == count2


def test_ingest_incremental_new_file(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    before = spark.read.parquet(os.path.join(out, "data")).count()

    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=30, n_signals=10, seed=99)
    n = eeg_csv.ingest(spark, src, out, run_id="r2")
    assert n >= 1
    after = spark.read.parquet(os.path.join(out, "data")).count()
    assert after == before + 30 * n


def test_partitioned_layout_and_registry(spark, corpus, tmp_path):
    src, _ = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    # hive partition dirs Year=/Month=/Day= (reference sparkle-v9.py:136-138)
    years = [p for p in os.listdir(os.path.join(out, "data")) if p.startswith("Year=")]
    assert years
    _, _, payload = eeg_csv.snapshot(out)
    names = {e["Name"] for e in payload}
    assert {"Timestamp", "PatientID", "ClockDateTime"} <= names
    assert all({"Name", "Type"} <= set(e) for e in payload)
    # partition pruning works against the curated store
    curated = eeg_csv.register_curated(spark, out, view="eeg_test")
    one_year = curated.filter(F.col("Year") == int(years[0].split("=")[1]))
    assert one_year.count() > 0


def test_melt_tidy(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="r1")
    curated = eeg_csv.register_curated(spark, out, view="eeg_melt")
    h = eeg_csv.probe_header(spark, paths[0])
    signals = [c for c in h.columns if c.startswith("S")]
    tidy = eeg_csv.melt_signals(curated, signals)
    assert tidy.columns == ["Timestamp", "PatientID", "channel", "value"]
    assert tidy.count() == curated.count() * len(signals)


def test_type_rules():
    # reference gen_schema.py:5-14 name-based rules
    assert type_for_column("Comment") == "string"
    assert type_for_column("TestTime") == "string"
    assert type_for_column("ClockDateTime") == "timestamp"
    assert type_for_column("I42_1") == "double"


def test_supercat_fold():
    # reference crawler.py:27-32: label applies to its span
    sc = ["", "", "A", "", "B", ""]
    hdr = ["ts", "t", "c1", "c2", "c3", "c4"]
    m = fold_supercategories(sc, hdr)
    assert m == {"": ["ts", "t"], "A": ["c1", "c2"], "B": ["c3", "c4"]}


def test_empty_input_guard(spark, tmp_path):
    src = tmp_path / "empty_in"
    src.mkdir()
    out = str(tmp_path / "curated")
    assert eeg_csv.ingest(spark, str(src), out) == 0  # no crash, no output
    assert not os.path.exists(os.path.join(out, "data"))


def test_ingest_log(spark, corpus, tmp_path):
    src, paths = corpus
    out = str(tmp_path / "curated")
    eeg_csv.ingest(spark, src, out, run_id="logrun")
    logged = [(e["run_id"], n) for e in eeg_csv.read_log(out) for n in e["csv"]]
    # other tests may have appended files to the shared corpus dir
    assert len(logged) == len(eeg_csv.list_input_files(src))
    assert all(run_id == "logrun" for run_id, _ in logged)


def test_cast_by_prefix_single_projection(spark):
    from data_pipeline_spark_spark.sources.schema_rules import cast_by_prefix

    df = spark.createDataFrame([("1.5", "2.5", "x")], "S1 string, S2 string, note string")
    out = cast_by_prefix(df, "S", "double")
    assert dict(out.dtypes) == {"S1": "double", "S2": "double", "note": "string"}
    row = out.first()
    assert row.S1 == 1.5 and row.note == "x"


def test_ingest_at_reference_width(spark, tmp_path):
    """Ingest at the reference's TRUE width — 6,039 columns
    (sparkle-v8.py:90 hard-codes num_columns = 6039; n_signals=6037 +
    ClockDateTime + Time reaches it). The narrow fixtures exercise
    the logic; this pins that nothing in probe/read/write assumes a
    plan-manageable column count (whole-stage codegen is fully
    fallen back at this width — scripts/wide_probe.py measures the
    consequences; this test pins correctness there). Row count is
    tiny because width, not volume, is the variable under test."""
    src = str(tmp_path / "wide_in")
    out = str(tmp_path / "wide_out")
    generate_corpus(
        src, n_patients=1, max_sessions=1, rows_per_session=10,
        n_signals=6037, seed=13,
    )
    paths = [os.path.join(src, p) for p in sorted(os.listdir(src))]
    h = eeg_csv.probe_header(spark, paths[0])
    assert len(h.columns) == 6039
    n = eeg_csv.ingest(spark, src, out)
    assert n == 1
    back = spark.read.parquet(os.path.join(out, "data"))
    # width survives the round-trip: all signals + metadata + decode
    assert len([c for c in back.columns if c.startswith("S")]) == 6037
    assert back.count() == 10
    # a pruned narrow read off the wide store stays correct
    row = back.select("S1_1", "S6037_1", "Time").orderBy("Time").first()
    assert row.S1_1 is not None and row.S6037_1 is not None


def test_registered_view_carries_channels_added_by_later_batch(spark, tmp_path):
    """Channel drift between batches: a later batch adds S3_1. Without
    schema merging, Spark takes the schema from the path-sorted first
    part file; seeds 2 then 3 put a narrow file there, so the view
    must still carry the union of every batch's columns."""
    import glob

    import pyarrow.parquet as pq

    staging = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    first = generate_corpus(staging, n_signals=2, seed=2)
    eeg_csv.ingest(spark, staging, out, run_id="r1")
    later_dir = str(tmp_path / "later")
    for p in generate_corpus(later_dir, n_signals=3, seed=3):
        os.replace(p, os.path.join(staging, "later_" + os.path.basename(p)))
    later = eeg_csv.ingest(spark, staging, out, run_id="r2")
    parts = sorted(glob.glob(os.path.join(out, "data", "**", "*.parquet"), recursive=True))
    assert "S3_1" not in pq.read_schema(parts[0]).names  # the drift case

    view = eeg_csv.register_curated(spark, out, view="eeg_drift")
    assert "S3_1" in view.columns
    n = spark.sql("SELECT COUNT(*) AS n, COUNT(S3_1) AS with_s3 FROM eeg_drift").first()
    assert (n.n, n.with_s3) == (100 * (len(first) + later), 100 * later)


def test_same_header_files_ingest_in_one_job(spark, tmp_path):
    src = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    paths = generate_corpus(src, n_patients=4, max_sessions=1, rows_per_session=20,
                            n_signals=3, seed=5)
    assert len(paths) == 4
    assert _jobs(spark, lambda: eeg_csv.ingest(spark, src, out)) == 1
    assert spark.read.parquet(os.path.join(out, "data")).count() == 4 * 20


def test_mixed_header_dir_ingests_one_job_per_signature(spark, tmp_path):
    src = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    narrow = generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                             n_signals=2, seed=2)
    wide = generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                           n_signals=3, seed=3, patient_offset=10)
    n = []
    assert _jobs(spark, lambda: n.append(eeg_csv.ingest(spark, src, out))) == 2
    assert n == [len(narrow) + len(wide)]
    eeg_csv.register_curated(spark, out, view="eeg_mixed")
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(S3_1) AS with_s3, COUNT(PatientID) AS with_meta "
        "FROM eeg_mixed"
    ).first()
    assert (got.n, got.with_s3, got.with_meta) == (80, 40, 80)


def _crash_after_write(monkeypatch):
    real = os.replace

    def replace(src, dst):
        if f"{os.sep}_log{os.sep}" in dst:
            raise OSError("crash on the log-entry write, after every rename")
        real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def _crash_mid_rename(monkeypatch):
    real = os.replace
    renamed = []

    def replace(src, dst):
        if f"{os.sep}data{os.sep}" in dst:
            if len(renamed) == 2:
                raise OSError("crash midway through the renames")
            renamed.append(dst)
        real(src, dst)

    monkeypatch.setattr(os, "replace", replace)


def _crash_after_ledger(monkeypatch):
    real = eeg_csv._write_ledger

    def write_ledger(output_dir, entry):
        real(output_dir, entry)
        raise OSError("crash before cleanup")

    monkeypatch.setattr(eeg_csv, "_write_ledger", write_ledger)


@pytest.mark.parametrize(
    "crash", [_crash_after_write, _crash_mid_rename, _crash_after_ledger],
    ids=["after_write", "mid_rename", "after_ledger"],
)
def test_crashed_ingest_recovers_exactly_once(spark, tmp_path, monkeypatch, crash):
    """A crash at any point of the staged commit, then a clean run:
    every CSV's rows are in the store exactly once, and the ledger
    names every CSV. The log entry is the commit point: a crash before
    it is rolled back and the recovery run ingests every CSV again; a
    crash after it leaves nothing for the recovery run to ingest."""
    src = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    paths = generate_corpus(src, n_patients=3, max_sessions=1, rows_per_session=20,
                            n_signals=3, seed=9)
    with monkeypatch.context() as m:
        crash(m)
        with pytest.raises(OSError, match="crash"):
            eeg_csv.ingest(spark, src, out, run_id="crashed")
    [staged] = os.listdir(os.path.join(out, "_pending"))
    logged = {e["txn"] for e in eeg_csv.read_log(out)}
    assert (staged in logged) == (crash is _crash_after_ledger)

    recovered = 0 if crash is _crash_after_ledger else len(paths)
    assert eeg_csv.ingest(spark, src, out, run_id="recovery") == recovered
    assert eeg_csv.ingest(spark, src, out, run_id="rerun") == 0
    store = spark.read.parquet(os.path.join(out, "data"))
    assert store.count() == 20 * len(paths)
    assert store.select("PatientID", "Time").distinct().count() == 20 * len(paths)
    assert eeg_csv._read_ledger(out) == {os.path.basename(p) for p in paths}
    assert not os.path.exists(os.path.join(out, "_pending"))
    assert sorted(n for e in eeg_csv.read_log(out) for n in e["csv"]) == sorted(
        os.path.basename(p) for p in paths
    )


def test_reader_never_sees_part_of_a_commit(spark, tmp_path, monkeypatch):
    """A view registered after each rename of a group's part files into
    data/ shows the store before the group or after it, never a part
    of it: the rows of a version that was never committed."""
    src = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                    n_signals=3, seed=9)
    assert eeg_csv.ingest(spark, src, out) == 2
    generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                    n_signals=3, seed=10, patient_offset=2)
    real = os.replace
    seen = []

    def replace(src, dst):
        real(src, dst)
        if f"{os.sep}data{os.sep}" in dst:
            seen.append(eeg_csv.register_curated(spark, out, view="eeg_torn").count())

    with monkeypatch.context() as m:
        m.setattr(os, "replace", replace)
        assert eeg_csv.ingest(spark, src, out) == 2
    assert len(seen) >= 2  # a reader ran between two renames of one group
    assert set(seen) <= {40, 80}
    assert eeg_csv.register_curated(spark, out, view="eeg_torn").count() == 80


def test_concurrent_queries_see_only_committed_versions(spark, tmp_path, monkeypatch):
    """An ingest thread lands three batches while a query thread
    registers its own view and counts, over and over. Each rename into
    data/ is slowed, as on an object store where a rename is a copy.
    Every count is the total of some committed version."""
    staging = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    batches = [
        generate_corpus(str(tmp_path / f"batch{i}"), n_patients=2, max_sessions=1,
                        rows_per_session=20, n_signals=3, seed=20 + i, patient_offset=2 * i)
        for i in range(4)
    ]
    os.makedirs(staging)
    for p in batches[0]:
        shutil.copy(p, staging)
    eeg_csv.ingest(spark, staging, out)
    real = os.replace

    def slow_replace(src, dst):
        real(src, dst)
        if f"{os.sep}data{os.sep}" in dst:
            time.sleep(0.3)

    monkeypatch.setattr(os, "replace", slow_replace)
    done, errors = threading.Event(), []

    def land_batches():
        try:
            for batch in batches[1:]:
                for p in batch:
                    shutil.copy(p, staging)
                eeg_csv.ingest(spark, staging, out)
                eeg_csv.register_curated(spark, out, view="eeg_ingest_side")
        except Exception as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            done.set()

    writer = threading.Thread(target=land_batches)
    writer.start()
    counts, deadline = [], time.monotonic() + 300
    while not done.is_set() and time.monotonic() < deadline:
        eeg_csv.register_curated(spark, out, view="eeg_query_side")
        counts.append(spark.sql("SELECT COUNT(*) FROM eeg_query_side").first()[0])
    writer.join(timeout=60)
    assert not writer.is_alive()
    assert errors == []
    assert counts and set(counts) <= {40 * v for v in range(1, len(batches) + 1)}
    assert eeg_csv.snapshot(out)[0] == len(batches)


def test_version_bumps_once_per_header_group(spark, tmp_path):
    """Two header signatures are two commits; a no-op run commits
    nothing; a later one-signature batch is one more."""
    src = str(tmp_path / "staging")
    out = str(tmp_path / "curated")
    generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                    n_signals=2, seed=2)
    generate_corpus(src, n_patients=2, max_sessions=1, rows_per_session=20,
                    n_signals=3, seed=3, patient_offset=10)
    assert eeg_csv.snapshot(out) == (0, [], [])
    versions = []
    for extra in (None, None, 20):
        if extra is not None:
            generate_corpus(src, n_patients=1, max_sessions=1, rows_per_session=20,
                            n_signals=3, seed=4, patient_offset=extra)
        eeg_csv.ingest(spark, src, out)
        versions.append(eeg_csv.snapshot(out)[0])
    assert versions == [2, 2, 3]
    assert [e["version"] for e in eeg_csv.read_log(out)] == [1, 2, 3]


def _backdate(src, seconds=7200):
    for f in os.listdir(src):
        p = os.path.join(src, f)
        st = os.stat(p)
        os.utime(p, (st.st_atime, st.st_mtime - seconds))


def test_settle_guard_defers_inflight_files(spark, tmp_path):
    """A CSV whose mtime is inside the settle window may still be being
    written: it is deferred (kept out of the ledger), then ingested
    once its mtime is old enough."""
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=20, n_signals=8, seed=5)
    out = str(tmp_path / "curated")

    assert eeg_csv.ingest(spark, src, out, settle_s=3600.0) == 0
    assert eeg_csv._read_ledger(out) == set()

    _backdate(src)
    assert eeg_csv.ingest(spark, src, out, settle_s=3600.0) == 1
    assert spark.read.parquet(os.path.join(out, "data")).count() == 20


def test_settle_guard_defers_file_written_during_probes(spark, tmp_path, monkeypatch):
    """Second observation: a file whose mtime passed the window but
    whose (size, mtime) changes while the headers are probed is
    deferred too; the next run picks it up."""
    src = str(tmp_path / "staging")
    paths = generate_corpus(src, n_patients=3, max_sessions=1,
                            rows_per_session=20, n_signals=3, seed=8)
    out = str(tmp_path / "curated")
    _backdate(src)
    growing = paths[1]
    real = eeg_csv.probe_header

    def probe_while_writing(spark, path):
        if path == growing:
            with open(growing, "a") as fh:
                fh.write("\n")
        return real(spark, path)

    with monkeypatch.context() as m:
        m.setattr(eeg_csv, "probe_header", probe_while_writing)
        assert eeg_csv.ingest(spark, src, out, settle_s=60.0) == len(paths) - 1
    assert os.path.basename(growing) not in eeg_csv._read_ledger(out)

    _backdate(src)
    assert eeg_csv.ingest(spark, src, out, settle_s=60.0) == 1
    assert spark.read.parquet(os.path.join(out, "data")).count() == 20 * len(paths)


def test_ingest_recovers_crashed_dir_and_odd_filenames(spark, tmp_path):
    """A file named with a space lands next to an empty data/ left by
    a crashed first run: the run ingests it with its metadata (the
    lookup key is the decoded _metadata.file_name) instead of failing
    on the empty dir."""
    src = str(tmp_path / "staging")
    generate_corpus(src, n_patients=1, max_sessions=1,
                    rows_per_session=30, n_signals=8, seed=7)
    [old] = os.listdir(src)
    os.rename(os.path.join(src, old), os.path.join(src, "patient one.csv"))
    out = str(tmp_path / "curated")
    os.makedirs(os.path.join(out, "data"))  # crashed-run debris: no files

    assert eeg_csv.ingest(spark, src, out) == 1
    curated = spark.read.parquet(os.path.join(out, "data"))
    assert curated.count() == 30
    assert curated.filter(curated.PatientID.isNull()).count() == 0


def test_curate_matches_encoded_names(spark, tmp_path):
    """Metadata is looked up by the percent-encoded
    _metadata.file_name: names with a space, a literal '%20' and a
    '+' must all match their probed headers."""
    src = str(tmp_path / "staging")
    paths = generate_corpus(src, n_patients=3, max_sessions=1,
                            rows_per_session=20, n_signals=3, seed=6)
    for p, name in zip(paths, ["patient one.csv", "a%20b.csv", "c+d.csv"]):
        os.rename(p, os.path.join(src, name))
    out = str(tmp_path / "curated")
    assert eeg_csv.ingest(spark, src, out) == 3

    meta = spark.read.parquet(os.path.join(out, "data")).select(
        F.count("*").alias("rows"),
        F.count("PatientID").alias("ids"),
        F.count("PatientBirthDate").alias("births"),
        F.countDistinct("PatientID").alias("patients"),
    ).first()
    assert (meta.rows, meta.ids, meta.births, meta.patients) == (60, 60, 60, 3)


def test_poison_header_refused_before_any_write(spark, tmp_path):
    """A CSV truncated inside its 8-row prelude has no header row, and
    one cut inside the header row lacks ClockDateTime. Ingest names
    both in a ValueError before writing anything (no group committed,
    no ledger), and once they are removed every good file lands."""
    src = str(tmp_path / "staging")
    paths = generate_corpus(src, n_patients=4, max_sessions=1,
                            rows_per_session=20, n_signals=3, seed=12)
    no_header, cut_header = paths[1], paths[3]
    with open(no_header) as fh:
        prelude = [next(fh) for _ in range(eeg_csv.PRELUDE_ROWS)]
    with open(no_header, "w") as fh:
        fh.write("".join(prelude[:5]))  # cut inside the metadata rows
    with open(cut_header, "w") as fh:
        fh.write("".join(prelude[:7]) + prelude[7][:5])  # row 8 is "Clock"
    out = str(tmp_path / "curated")

    with pytest.raises(ValueError, match="ClockDateTime") as exc:
        eeg_csv.ingest(spark, src, out)
    assert os.path.basename(no_header) in str(exc.value)
    assert os.path.basename(cut_header) in str(exc.value)
    assert not os.path.exists(os.path.join(out, "data"))
    assert eeg_csv._read_ledger(out) == set()

    os.remove(no_header)
    os.remove(cut_header)
    assert eeg_csv.ingest(spark, src, out) == 2
    assert spark.read.parquet(os.path.join(out, "data")).count() == 40


def test_event_trigger_ingests_each_landing_once(spark, sf_dir):
    """The event_trigger key: one ingest per trigger. The last file
    lands alone on trigger 2; trigger 3 finds nothing new and adds no
    file and no row."""
    from data_pipeline_spark_spark import registry
    from data_pipeline_spark_spark.operators.ingest_ops import fixture_dir

    registry.load_all()
    corpus = eeg_csv.list_input_files(fixture_dir())
    rows_in = []
    for p in corpus:
        with open(p) as fh:
            rows_in.append(sum(1 for _ in fh) - eeg_csv.PRELUDE_ROWS)
    per_file, total = rows_in[-1], sum(rows_in)

    rows = sorted(registry.QUERIES["event_trigger"](spark, sf_dir).collect())
    assert [(r.trigger, r.files, r.curated_rows) for r in rows] == [
        (1, len(corpus) - 1, total - per_file),
        (2, 1, total),
        (3, 0, total),
    ]
    assert rows[-1].n_patients == len(
        {eeg_csv.probe_header(spark, p).metadata["PatientID"] for p in corpus}
    )
