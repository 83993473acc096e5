"""Remaining SURVEY.md §2A operator-inventory keys, each as a named
driver-checkable query.

These are the reference's ETL primitives that the composed pipelines
(`eeg_ingest`, `sources/eeg_csv.py`) already use internally; here each
one is ALSO exposed individually under its §2 inventory key so the
operator coverage can be audited line by line. Where the semantics are
SQL-expressible over the driver fixtures, the query carries a DuckDB
oracle; the EEG-fixture-bound ones are deterministic (seeded corpus)
rows-only checks.

Reference citations per operator are on each function (SURVEY.md §2A).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, materialize
from ..registry import query
from ..sources import eeg_csv
from ..sources.schema_rules import type_for_column
from .ingest_ops import fixture_dir


# ---------------------------------------------------------------------------
# scan primitives (reference sparkle-v9.py:92-105)
# ---------------------------------------------------------------------------


@query("csv_scan_schema")
def csv_scan_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-explicit CSV scan, no header, no inference (reference
    sparkle-v9.py:105, sparkle-v8.py:100 — the 'REALLY slow' v7
    inference fix). Per file: row/column counts under the probed
    all-double schema."""
    rows = []
    for path in eeg_csv.list_input_files(fixture_dir()):
        h = eeg_csv.probe_header(spark, path)
        df = spark.read.schema(eeg_csv.build_schema(h.columns)).csv(path)
        rows.append((os.path.basename(path), df.count(), len(df.columns)))
    return spark.createDataFrame(rows, "file string, n_rows long, n_columns int")


@query("csv_header_probe")
def csv_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-row prelude probe → header names + metadata, the v9 schema
    derivation (reference sparkle-v9.py:92-102): a bounded limit(8)
    driver read, never a full-file pass."""
    rows = []
    for path in eeg_csv.list_input_files(fixture_dir()):
        h = eeg_csv.probe_header(spark, path)
        rows.append(
            (
                os.path.basename(path),
                len(h.columns),
                h.columns[0],
                h.columns[-1],
                h.metadata.get("PatientID", ""),
            )
        )
    return spark.createDataFrame(
        rows,
        "file string, n_columns int, first_column string, "
        "last_column string, patient_id string",
    )


@query("header_extract")
def header_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical row-8 header extraction two ways (reference
    sparkle-v5.py:92 rdd.zipWithIndex().filter(idx==7) vs the v9
    limit(8) probe) — both must yield the same header."""
    rows = []
    for path in eeg_csv.list_input_files(fixture_dir()):
        rdd_header = (
            spark.sparkContext.textFile(path)
            .zipWithIndex()
            .filter(lambda x: x[1] == 7)
            .map(lambda x: x[0])
            .first()
        ).split(",")
        probe = eeg_csv.probe_header(spark, path).columns
        rows.append(
            (os.path.basename(path), len(rdd_header), len(probe), rdd_header == probe)
        )
    return spark.createDataFrame(
        rows, "file string, n_rdd long, n_probe long, headers_match boolean"
    )


# ---------------------------------------------------------------------------
# projection-shape primitives (oracle-checked on the driver fixtures)
# ---------------------------------------------------------------------------


@query(
    "rename_all",
    oracle="""
    SELECT n_nationkey AS nation_key, n_name AS nation_name,
           n_regionkey AS region_key
    FROM nation
    """,
)
def rename_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk positional rename via toDF(*names) (reference
    sparkle-v5.py:95 renames all 6,039 columns to the extracted
    header) — one projection node, not a withColumnRenamed loop."""
    return load(spark, sf_dir, "nation").toDF(
        "nation_key", "nation_name", "region_key"
    )


@query(
    "add_literal_cols",
    oracle="""
    SELECT n_nationkey, n_name,
           'eeg-platform' AS source_system,
           9 AS schema_version,
           DATE '2024-01-15' AS batch_date
    FROM nation
    """,
)
def add_literal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant typed metadata columns (reference sparkle-v5.py:98-102
    attaches 5 patient fields; empty-literal variant
    sparkle-v9.py:108-112)."""
    return load(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.lit("eeg-platform").alias("source_system"),
        F.lit(9).alias("schema_version"),
        F.lit("2024-01-15").cast("date").alias("batch_date"),
    )


@query(
    "ts_decode",
    oracle="""
    SELECT event_id,
           floor(epoch(ts)) / 100000.0 AS clock_raw,
           TIMESTAMP '1970-01-01 00:00:00'
             + to_seconds(CAST(round(floor(epoch(ts)) / 100000.0 * 100000.0)
                               AS BIGINT)) AS decoded_ts
    FROM events
    """,
)
def ts_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The load-bearing ×1e5 timestamp decode (reference
    sparkle-v9.py:114-118; encoding written as unix_seconds/1e5 by
    random_generator.py:48): round-trip events.ts through the
    reference's raw double encoding and back with the engine's
    decode_clock. Round-to-nearest on BOTH engines: (s/1e5)*1e5 can
    land just below the integer (double ulp at 1e9), and the
    reference's truncating cast loses a second there (bug #5, caught
    by hypothesis — tests/test_properties.py)."""
    from ..sources.eeg_csv import decode_clock

    e = load(spark, sf_dir, "events")
    unix = F.unix_timestamp("ts").cast("double")
    raw = unix / F.lit(1e5)
    return e.select(
        "event_id",
        raw.alias("clock_raw"),
        decode_clock(raw).alias("decoded_ts"),
    )


@query(
    "date_parts",
    oracle="""
    SELECT year(o_orderdate) AS o_year, month(o_orderdate) AS o_month,
           day(o_orderdate) AS o_day, COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year/Month/Day derivation (reference sparkle-v9.py:120-122) —
    the partition-column factory for the curated layout."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            F.dayofmonth("o_orderdate").alias("o_day"),
        )
        .groupBy("o_year", "o_month", "o_day")
        .agg(F.count("*").alias("n_orders"))
    )


@query(
    "union_append",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
    UNION ALL
    SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
    WHERE o_orderdate BETWEEN DATE '1995-02-01' AND DATE '1995-02-28'
    """,
)
def union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-append union, BY NAME (fixes reference bug #2: positional
    union at sparkle-v9.py:130 breaks on column reorder — the second
    branch here is deliberately built with reordered columns)."""
    o = load(spark, sf_dir, "orders")
    jan = o.filter(F.col("o_orderdate").between("1995-01-01", "1995-01-31")).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    feb = o.filter(F.col("o_orderdate").between("1995-02-01", "1995-02-28")).select(
        "o_totalprice", "o_orderkey", "o_orderdate"  # reordered on purpose
    )
    return jan.unionByName(feb)


@query(
    "parquet_scan",
    oracle="""
    SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem
    WHERE l_orderkey < 200
    """,
)
def parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-parquet scan with column pruning + predicate pushdown
    (reference sparkle-v9.py:129 reads the whole store; here the scan
    reads 3 of 16 columns and skips row groups via the pushed
    l_orderkey filter — check .explain() for PushedFilters/ReadSchema)."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 200)
        .select("l_orderkey", "l_quantity", "l_shipdate")
    )


@query(
    "parquet_write_part",
    oracle="""
    SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows
    FROM orders GROUP BY 1
    """,
)
def parquet_write_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet append write + read-back (reference
    sparkle-v9.py:136-138 partitionBy Year/Month/Day, mode append):
    orders written partitioned by order year, then re-read and counted
    per partition — the oracle recomputes the same counts straight
    from the source, so the round-trip is verified end to end."""
    out = tempfile.mkdtemp(prefix="dps_pq_part_")
    try:
        o = load(spark, sf_dir, "orders").withColumn(
            "o_year", F.year("o_orderdate")
        )
        o.write.partitionBy("o_year").mode("append").parquet(out)
        back = spark.read.parquet(out)
        result = back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
            F.count("*").alias("n_rows")
        )
        return materialize(result)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# ingest-lifecycle primitives (EEG fixture; rows-only, seeded)
# ---------------------------------------------------------------------------


@query("schema_export")
def schema_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-registry export (reference write_schema_to_s3,
    sparkle-v9.py:31-61): ingest → the [{Name, Type}] schema of the
    newest commit-log version → rows."""
    out = tempfile.mkdtemp(prefix="dps_schema_exp_")
    try:
        eeg_csv.ingest(spark, fixture_dir(), out, run_id="schema-export")
        _, _, schema = eeg_csv.snapshot(out)
        rows = [(c["Name"], c["Type"]) for c in schema]
        return spark.createDataFrame(rows, "name string, type string")
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query("empty_input_guard")
def empty_input_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empty-staging-dir guard (the v5 fix, reference
    sparkle-v5.py:43-46, sparkle-v9.py:82-85): ingest of an empty dir
    is a clean no-op, not a crash."""
    empty = tempfile.mkdtemp(prefix="dps_empty_in_")
    out = tempfile.mkdtemp(prefix="dps_empty_out_")
    try:
        n = eeg_csv.ingest(spark, empty, out, run_id="guard")
        wrote_data = eeg_csv.snapshot(out)[0] > 0
        return spark.createDataFrame(
            [(n, wrote_data, "skipped" if n == 0 else "ingested")],
            "n_files_ingested int, wrote_data boolean, status string",
        )
    finally:
        shutil.rmtree(empty, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query("file_move_processed")
def file_move_processed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reprocessing guard (reference moves ingested files to
    processed/, sparkle-v9.py:19-29; ours is a processed-file ledger):
    the second run over the same staging dir ingests 0 files and the
    curated row count does not change — precisely the duplicate-append
    bug (#1, SURVEY.md §4) the reference had."""
    out = tempfile.mkdtemp(prefix="dps_ledger_")
    try:
        src = fixture_dir()
        n1 = eeg_csv.ingest(spark, src, out, run_id="run1")
        rows1 = eeg_csv.register_curated(spark, out, view="eeg_ledger").count()
        n2 = eeg_csv.ingest(spark, src, out, run_id="run2")
        rows2 = eeg_csv.register_curated(spark, out, view="eeg_ledger").count()
        return spark.createDataFrame(
            [(1, n1, rows1), (2, n2, rows2)],
            "run int, n_files_ingested int, curated_rows long",
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)


@query(
    "type_rules",
    oracle="""
    SELECT name,
           CASE WHEN contains(lower(name), 'comment') THEN 'string'
                WHEN lower(name) = 'clockdatetime' THEN 'timestamp'
                WHEN lower(name) LIKE '%time' THEN 'string'
                ELSE 'double' END AS sql_type
    FROM (VALUES ('ClockDateTime'), ('Time'), ('TestTime'), ('Comment'),
                 ('PatientComment'), ('S1_1'), ('S12_4'), ('I272_1'),
                 ('Amplitude')) t(name)
    """,
)
def type_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-based column typing (reference gen_schema.py:5-14:
    comment→string, *time→string, clockdatetime→timestamp, else
    double); the oracle re-implements the rules independently in SQL
    over the same name list."""
    names = [
        "ClockDateTime", "Time", "TestTime", "Comment", "PatientComment",
        "S1_1", "S12_4", "I272_1", "Amplitude",
    ]
    return spark.createDataFrame(
        [(n, type_for_column(n)) for n in names], "name string, sql_type string"
    )


@query("synth_gen")
def synth_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic EEG corpus generator stats (reference
    random_generator.py:5-53: patients × sessions × rows @ 1 Hz with
    the 8-row prelude). Seeded → stable counts."""
    src = fixture_dir()
    files = eeg_csv.list_input_files(src)
    h = eeg_csv.probe_header(spark, files[0])
    data_rows = (
        spark.read.schema(eeg_csv.build_schema(h.columns))
        .csv(files)
        .filter(F.col("ClockDateTime").isNotNull())
        .count()
    )
    patients = {
        eeg_csv.probe_header(spark, f).metadata.get("PatientID", "") for f in files
    }
    return spark.createDataFrame(
        [(len(files), len(patients), len(h.columns), data_rows)],
        "n_files int, n_patients int, n_columns int, n_data_rows long",
    )


@query("catalog_sync")
def catalog_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-ingest catalog sync (replaces the reference's Glue crawler
    step, emr-no-vpc.py:159-169): curated store registered as a SQL
    view, then queried THROUGH the catalog — proving the query layer
    sees what ingest wrote."""
    out = tempfile.mkdtemp(prefix="dps_catalog_")
    try:
        eeg_csv.ingest(spark, fixture_dir(), out, run_id="catalog")
        eeg_csv.register_curated(spark, out, view="eeg_catalog_sync")
        result = spark.sql(
            """
            SELECT PatientID, COUNT(*) AS n_rows,
                   COUNT(DISTINCT Year * 10000 + Month * 100 + Day) AS n_days
            FROM eeg_catalog_sync GROUP BY PatientID ORDER BY PatientID
            """
        )
        return materialize(result)
    finally:
        spark.catalog.dropTempView("eeg_catalog_sync")
        shutil.rmtree(out, ignore_errors=True)


@query("event_trigger")
def event_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-triggered incremental ingest (reference .OK-sentinel →
    Lambda → EMR run over the staging folder,
    lambda-initiator-v2.py:27-39) re-expressed as one ``ingest`` per
    trigger over a staging dir; the ledger makes each trigger ingest
    only what landed since the last. Three triggers: the corpus minus
    one file lands, then the last file, then nothing (a no-op). Per
    trigger: files ingested, and the store's rows and patients after
    it (a re-ingest would grow the rows; a metadata-less store would
    count 0 patients)."""
    paths = eeg_csv.list_input_files(fixture_dir())
    staging = tempfile.mkdtemp(prefix="dps_evt_staging_")
    out = tempfile.mkdtemp(prefix="dps_evt_out_")
    try:
        rows = []
        for trigger, landing in enumerate((paths[:-1], paths[-1:], []), start=1):
            for p in landing:
                shutil.copy(p, staging)
            files = eeg_csv.ingest(spark, staging, out, run_id=f"trigger-{trigger}")
            store = eeg_csv.register_curated(spark, out, view="eeg_trigger").agg(
                F.count("*"),
                F.countDistinct(F.when(F.col("PatientID") != "", F.col("PatientID"))),
            )
            rows.append((trigger, files, *store.first()))
        return spark.createDataFrame(
            rows, "trigger int, files long, curated_rows long, n_patients long"
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


@query("ingest_log")
def ingest_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest run log (reference lambda-initiator-v2.py:47-65 appends
    timestamp+filenames to a CSV log per trigger): one row per
    ingested file, read from the commit log's entries. Timestamps are
    dropped for determinism."""
    out = tempfile.mkdtemp(prefix="dps_ingest_log_")
    try:
        eeg_csv.ingest(spark, fixture_dir(), out, run_id="logged-run")
        rows = sorted(
            ((e["run_id"], name) for e in eeg_csv.read_log(out) for name in e["csv"]),
            key=lambda r: r[1],
        )
        return spark.createDataFrame(rows, "run_id string, file string")
    finally:
        shutil.rmtree(out, ignore_errors=True)


# ---------------------------------------------------------------------------
# §2C key alias: multimodal_cols (the inventory name for the
# multimodal metadata surface; multimodal_meta/multimodal_decode are
# the fuller pipeline)
# ---------------------------------------------------------------------------


@query(
    "multimodal_cols",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MAX(CASE WHEN json_extract(props, '$.k') IS NOT NULL
                    THEN 1 ELSE 0 END) AS has_props
    FROM (
      SELECT d.source, d.text, e.props
      FROM documents d
      LEFT JOIN events e ON d.doc_id = e.event_id
    )
    GROUP BY source
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column surface (§2C inventory key): opaque binary
    payloads + JSON props side by side — byte lengths JVM-side, JSON
    probed with get_json_object, grouped by source."""
    d = load(spark, sf_dir, "documents").withColumn(
        "payload", F.encode(F.col("text"), "UTF-8")
    )
    e = load(spark, sf_dir, "events").select("event_id", "props")
    joined = d.join(e, d.doc_id == e.event_id, "left")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("payload")).cast("bigint").alias("total_bytes"),
        F.max(
            F.get_json_object("props", "$.k").isNotNull().cast("int")
        ).alias("has_props"),
    )


@query(
    "catalog_repair",
    oracle="""
    SELECT year(o_orderdate) AS o_year, COUNT(*) AS n_rows
    FROM orders GROUP BY 1
    """,
)
def catalog_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Glue-crawler replacement (reference
    emr-no-vpc.py:159-169 + README.md:13): partitioned parquet written
    OUTSIDE the catalog, then an external table is declared over the
    path and `MSCK REPAIR TABLE` discovers the partition directories —
    exactly what the reference's crawler did after each ingest. The
    post-repair per-partition counts must equal recomputing from
    source (the oracle)."""
    loc = tempfile.mkdtemp(prefix="dps_msck_")
    tbl = "dps_repair_orders"
    try:
        (
            load(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.partitionBy("o_year")
            .mode("overwrite")
            .parquet(loc)
        )
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"""
            CREATE TABLE {tbl} (o_orderkey BIGINT, o_custkey BIGINT,
                o_orderstatus STRING, o_totalprice DOUBLE,
                o_orderdate TIMESTAMP, o_orderpriority STRING)
            USING parquet
            PARTITIONED BY (o_year INT)
            LOCATION '{loc}'
            """
        )
        # before repair the catalog knows zero partitions; MSCK walks
        # the directory tree and registers them
        spark.sql(f"MSCK REPAIR TABLE {tbl}")
        result = spark.sql(
            f"SELECT o_year, COUNT(*) AS n_rows FROM {tbl} GROUP BY o_year"
        )
        return materialize(result)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(loc, ignore_errors=True)


@query("csv_malformed_handling")
def csv_malformed_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row policy for hospital uploads (the reference
    crashes on bad rows — its only guard is the empty-dir check,
    sparkle-v5.py:43-46): the same file read under PERMISSIVE (keep
    + quarantine via corrupt-record column), DROPMALFORMED (silent
    drop), and the counts of each. Production ingest runs PERMISSIVE
    and routes the quarantine column to a dead-letter table — at
    100 TB you never fail a batch for one bad row, and you never
    silently lose one either."""
    work = tempfile.mkdtemp(prefix="dps_malformed_")
    try:
        path = os.path.join(work, "upload.csv")
        with open(path, "w") as f:
            f.write("1,100.5,ok\n")
            f.write("2,not_a_number,ok\n")     # bad double
            f.write("3,300.25,ok\n")
            f.write("4,400.0\n")               # missing column
            f.write("5,500.75,ok\n")
        schema = "id int, reading double, status string, _corrupt string"
        # cache before referencing only the corrupt-record column —
        # Spark forbids that projection on an uncached lazy CSV scan
        permissive = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(path)
            .cache()
        )
        n_total = permissive.count()
        n_quarantined = permissive.filter(F.col("_corrupt").isNotNull()).count()
        permissive.unpersist()
        dropped = (
            spark.read.schema("id int, reading double, status string")
            .option("mode", "DROPMALFORMED")
            .csv(path)
        )
        # NOT dropped.count(): CSV column pruning means count() parses
        # no typed columns, so malformed values are never detected and
        # nothing drops — the count must materialize every column
        n_kept_strict = len(dropped.collect())
        return spark.createDataFrame(
            [(n_total, n_quarantined, n_kept_strict)],
            "n_rows_permissive long, n_quarantined long, n_rows_dropmalformed long",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
