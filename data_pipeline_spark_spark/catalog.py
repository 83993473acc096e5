"""Catalog: register the curated parquet tables as queryable views.

Replaces the reference's Glue-crawler + Athena-catalog layer
(reference emr-no-vpc.py:159-169, README.md:13-16): the reference
crawled the store once after each ingest and served every query from
that catalog; here the session catalog serves that role —
``register_views`` is the crawler, ``spark.table``/``spark.sql`` is
Athena.

Like the crawler, the catalog derives table metadata once per data
generation, not once per query. Per SparkSession it remembers:

* the parquet schema inferred for each path, keyed on the files'
  generation stamp (inode, mtime, size of the file, or of every part
  file under a directory) and the nanosAsLong conf. ``load`` on an
  unchanged path reads with that schema and launches no inference job;
  a rewritten or appended path stamps differently and is inferred
  again. Every call still builds a fresh plan with a fresh file
  listing.
* the (data dir, stamps) ``register_views`` last registered, so a
  repeat call over unchanged files costs ten ``stat``s and leaves the
  views as they are.

Non-local URIs (``s3a://``, ``hdfs://``, ...) cannot be stamped with
``os.stat`` and bypass both: they are inferred and registered on every
call.
"""

from __future__ import annotations

import os
import stat
import weakref
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The driver-fixture star schema + extension tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

#: session -> {absolute path: ((stamp, nanosAsLong), inferred schema)};
#: one entry per path, replaced when the path's generation changes
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
#: session -> (absolute data dir, table stamps, nanosAsLong) of the
#: views ``register_views`` last created
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table. Parquet => predicate pushdown +
    column pruning + partition pruning happen in the file source.

    The schema is inferred (one footer-reading Spark job) only the
    first time this session reads a given generation of the path;
    later calls read with the remembered schema and launch no job
    until the files change (module docstring).

    Nanosecond-timestamp shim: `events.ts` is parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    ([PARQUET_TYPE_ILLEGAL]). We read it as raw nanos via the
    legacy nanosAsLong conf and floor-divide to microseconds —
    exactly the truncation DuckDB applies when it reads the same
    column as TIMESTAMP, so both engines see identical values.
    """
    # Pin UTC on the caller's session, which may arrive with any
    # zone: every LTZ date_trunc / cast-to-date shifts day boundaries
    # with the session timezone, while the DuckDB oracle always
    # computes UTC wall time — under any other zone the same query
    # returns different days. The engine's declared semantics are
    # UTC; idempotent one-liner, same pattern as the nanos shim below.
    pin_utc(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # DELIBERATE session-wide conf, same contract as the UTC pin
        # above: it cannot be save/restored around this call because
        # the returned DataFrame is lazy — executors consult the conf
        # again when the scan actually runs, long after this function
        # returned. Consequence: any LATER read of an unrelated
        # TIMESTAMP(NANOS) parquet column in this session also comes
        # back as bigint nanos instead of erroring; wrap it with the
        # same timestamp_micros(ts div 1000) shim used here.
        spark.conf.set(_NANOS_AS_LONG, "true")
        df = _read_parquet(spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _ntz_to_ltz(df)
    return _ntz_to_ltz(_read_parquet(spark, path))


def _stamp(path: str) -> tuple | None:
    """Generation stamp of a local parquet file or directory: (inode,
    mtime_ns, size) of the file, or the sorted (relative name, inode,
    mtime_ns, size) of every file under the directory. An atomic
    replace changes the inode even within one mtime tick. None for a
    non-local URI or a path that cannot be listed — the caller then
    goes to Spark uncached, which raises its usual error for a
    missing path."""
    if urlsplit(path).scheme:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_mtime_ns, st.st_size)
        parts = []
        for root, _, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                fst = os.stat(full)
                parts.append((os.path.relpath(full, path), fst.st_ino, fst.st_mtime_ns, fst.st_size))
    except OSError:  # listed while a writer renames or deletes files
        return None
    return tuple(sorted(parts))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the inferred schema reused
    while the path's generation stamp and the nanosAsLong conf are
    unchanged. A miss returns the DataFrame that did the inferring."""
    stamp = _stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (stamp, spark.conf.get(_NANOS_AS_LONG))
    path = os.path.abspath(path)
    seen = _SCHEMAS.setdefault(spark, {})
    hit = seen.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    seen[path] = (key, df.schema)
    return df


def pin_utc(spark: SparkSession) -> None:
    """Idempotently pin the session timezone to UTC — the engine's
    declared timestamp semantics. Shared by catalog.load and every
    streaming entry point that retags NTZ columns, so an NTZ->LTZ
    cast is always the pure metadata retag described in
    ``_ntz_to_ltz`` regardless of which code path ran first."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-zone TIMESTAMP.

    The fixture parquet writes plain ``timestamp[us]`` (no UTC
    adjustment flag), which Spark >=3.4 infers as TIMESTAMP_NTZ.
    NTZ breaks the engine's declared UTC-timestamp contract:
    ``withWatermark`` requires TIMESTAMP, ``cast(ts as bigint)`` is
    illegal on NTZ, and NTZ/LTZ unions fail to resolve. Under the
    UTC session pin above, NTZ -> LTZ is a pure metadata retag (the
    stored microseconds are reinterpreted as UTC wall time — exactly
    the value DuckDB's naive TIMESTAMP sees), so every oracle stays
    bit-identical."""
    ntz = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to spread COMPUTE-heavy downstream work
    (shingling, pandas UDFs, pairwise scoring) across cores.

    Needed because the local fixtures are single-row-group parquet
    files — an unsplittable scan, so everything downstream of it runs
    in one task unless redistributed. On a real cluster the scan
    itself parallelizes over many files/row groups and this becomes a
    cheap no-op-ish shuffle; it is deliberately NOT applied to
    scan-bound plans (plain filter/agg), where an extra shuffle only
    adds cost — measured locally: agg 0.4s→1.5s with it, pandas-UDF
    4.1s→2.8s without/with."""
    from .session import default_parallelism

    return df.repartition(partitions or default_parallelism())



def materialize(df: DataFrame) -> DataFrame:
    """Pin a result whose inputs are temp dirs deleted before the
    driver consumes the DataFrame. localCheckpoint cuts the lineage
    and keeps the (tiny, final) partitions in EXECUTOR block storage
    — no driver-memory materialization; at scale these results would
    be written to a real table instead. Shared by the maintenance and
    scale-pattern operators (two identical private copies drifted
    apart once — r8 review)."""
    return df.localCheckpoint(eager=True)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every fixture table as a temp view for spark.sql use.

    Registers once per data generation: when this session last
    registered the same directory and no table file has changed since,
    the views already point at it and the call returns after one
    ``stat`` per table. The views named in ``TABLES`` belong to this
    function; replacing one by hand is only undone by a data change
    or a call on another directory."""
    pin_utc(spark)
    root = os.path.abspath(sf_dir)
    stamps = tuple(_stamp(os.path.join(root, f"{t}.parquet")) for t in TABLES)
    if None not in stamps and _REGISTERED.get(spark) == (
        root, stamps, spark.conf.get(_NANOS_AS_LONG)
    ):
        return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    _REGISTERED[spark] = (root, stamps, spark.conf.get(_NANOS_AS_LONG))
