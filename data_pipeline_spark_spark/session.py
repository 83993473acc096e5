"""SparkSession factory.

Centralizes the engine's session configuration so every entry point
(tests, perfbench, driver contract) runs with the same Catalyst/AQE
settings. The reference delegated all of this to EMR defaults
(reference lambda-functions/lambda-initiator-v2.py:77-176); here the
session IS the cluster interface, and the config choices are the
scale knobs:

- AQE on: runtime partition coalescing + skew-join splitting + runtime
  broadcast decisions — the local stand-in for "managed scaling".
- shuffle.partitions sized to cores locally; on a real 1000-executor
  cluster this (or AQE's initialPartitionNum) is sized to data volume.
- UTC session timezone: pins timestamp semantics for the DuckDB oracle
  and for cross-engine portability.
- snappy parquet: the reference measured gzip ~1.5x vs snappy ~2x and
  found gzip slightly slower to query (reference README.md:25-27).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Local core count: ``SPARK_GRAFT_CPUS`` when set, else the CPUs
    this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM`` when set, else half of
    the host's MemTotal, floored at 1 GiB."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, kib // 2048)}m"


def adaptive_shuffle_width(df, per_split: int = 4, floor: int = 8) -> int:
    """Explicit-repartition width that tracks data volume instead of
    hardcoding cluster parallelism. Some stages need a PINNED width
    (AQE's size-based coalescing would squeeze a CPU-bound fan-out —
    pair expansion, window sort — down to ~1 task because its INPUT
    bytes are small), but a blanket default_parallelism() is wrong at
    fixture scale: 32 tasks over a few MB is pure scheduling overhead
    (measured 1.12 s → 0.64 s on dedup_span_exact at sf0.1). Scale by
    ``per_split`` reducers per input split — a split is
    ``spark.sql.files.maxPartitionBytes`` of scan, so at 100 TB this
    grows with the data — floored so local mode never single-tasks
    and capped at 8× cluster parallelism. ``df.rdd.getNumPartitions``
    on a scan plans the splits without running a job."""
    splits = df.rdd.getNumPartitions()
    return min(max(floor, per_split * splits), 8 * default_parallelism())


def get_explicit_conf(spark: SparkSession, key: str):
    """The EXPLICITLY-set value of a session conf, or None when the
    key rides the session default. Restoring a default via
    conf.set() would freeze the default's string form into the
    session as an explicit value (conf.get can't tell the two
    apart), so save/restore pairs must go through this +
    restore_conf — the get/set form silently pins defaults, a bug
    this module hoists out of the operators that each re-invented
    the fix (r8 review)."""
    conf = spark.conf
    jconf = getattr(conf, "_jconf", None)
    if jconf is not None:
        opt = jconf.getOption(key)
        return opt.get() if opt.isDefined() else None
    # Spark Connect (no _jconf): fall back to the effective value —
    # set/set restore, slightly lossy but correct-valued
    return conf.get(key)


def restore_conf(spark: SparkSession, key: str, old) -> None:
    """Counterpart of get_explicit_conf: unset when the key was a
    default, set when it was explicit."""
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def get_spark(app_name: str = "data-pipeline-spark-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for this environment; the same config block is what we
    would submit cluster-side — nothing here is local-only except the
    master URL.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- Catalyst / AQE -------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect the advisory target size when coalescing instead of
        # preserving parallelism — the Spark-docs-recommended production
        # setting: post-shuffle partitions become few and right-sized
        # rather than many and tiny (cuts task-scheduling floor locally,
        # cuts small-file output and reducer overhead on a cluster).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a sort-merge join to a shuffled HASH join at
        # runtime when every post-shuffle partition is under this
        # threshold (default 0 = never). Set equal to
        # advisoryPartitionSizeInBytes per the Spark SQL performance
        # docs' recommendation — a partition AQE already targets to
        # 64m can always build a 64m hash table. Decision is made
        # from RUNTIME sizes per join, so it is scale-adaptive, not a
        # local-mode tune: it fires exactly when sorting both sides
        # costs more than hashing the partition (the engine's
        # remaining sort-merge joins are full-outer merges —
        # merge_upsert, mv_incremental_refresh, retrieval_hybrid_rrf
        # — which cannot broadcast; guide §3.1).
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "64m",
        )
        # NB: r17 also set spark.sql.join.preferSortMergeJoin=false
        # (static SHJ preference). Dropped in r18 per ADVICE: the
        # static planner decides from size ESTIMATES, and SHJ's
        # build side cannot spill — a post-filter misestimate would
        # OOM where sort-merge spills. The AQE threshold above is
        # the runtime-sized version of the same rewrite, and the one
        # join the static flip provably helped (merge_upsert's
        # full-outer) now carries a scoped SHUFFLE_HASH hint on its
        # bounded CDC-batch side instead (operators/cdc.py).
        .config("spark.sql.shuffle.partitions", str(cpus))
        # --- semantics ------------------------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # explain() metadata (ReadSchema/PushedFilters) truncates at
        # 100 chars by default — wide-schema plan assertions
        # (plans/analyze.py) would silently parse a '...'-clipped
        # column list
        .config("spark.sql.maxMetadataStringLength", "10000")
        # --- IO -------------------------------------------------------------
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- python boundary ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode hygiene ----------------------------------------------
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
