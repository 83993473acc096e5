"""Wide-table probe at the reference's TRUE width: 6,039 columns
(reference sparkle-v8.py:90-94 hard-codes num_columns = 6039; our
fixture reaches it with n_signals=6037 + ClockDateTime + Time).

SURVEY §4 claims the tidy-melt layer exists because 6k-wide rows
defeat whole-stage codegen (spark.sql.codegen.maxFields default 100)
— this script turns that claim into numbers (r10 VERDICT ask #2):

  1. does codegen actually fall back at width 6,039 (plan evidence)?
  2. what do ingest, narrow agg, and full-width agg cost on the wide
     CSV and the wide parquet?
  3. does raising codegen.maxFields to cover 6,039 fields help or
     hurt (janino compile cost / hugeMethodLimit fallback)?
  4. what does the wide->tidy melt cost, and what does the same
     aggregate cost against the long store afterwards?

Usage: python scripts/wide_probe.py [--signals 6037] [--rows 500]
Prints one JSON line per measurement; wall times are warm best-of-3
unless stated (ingest/write run once — they are jobs, not scans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def emit(**kw):
    print(json.dumps(kw), flush=True)


def timed(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--signals", type=int, default=6037)
    ap.add_argument("--rows", type=int, default=500)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from data_pipeline_spark_spark.session import get_spark
    from data_pipeline_spark_spark.sources import eeg_csv
    from data_pipeline_spark_spark.sources.fixture import generate_corpus

    spark = get_spark("wide-probe")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="dps_wide_probe_")
    raw = os.path.join(work, "raw")
    t0 = time.time()
    paths = generate_corpus(
        raw,
        n_patients=1,
        max_sessions=1,
        rows_per_session=args.rows,
        n_signals=args.signals,
        seed=11,
    )
    csv_bytes = sum(os.path.getsize(p) for p in paths)
    emit(
        step="fixture",
        files=len(paths),
        rows=args.rows,
        signals=args.signals,
        total_cols=args.signals + 2,
        csv_mb=round(csv_bytes / 1e6, 1),
        gen_sec=round(time.time() - t0, 1),
    )

    header = eeg_csv.probe_header(spark, paths[0])
    wide = eeg_csv.read_session(spark, paths[0], header)
    sig_cols = header.columns[2:]

    # --- 1. codegen fallback evidence -------------------------------
    narrow_agg = wide.agg(
        F.count("*").alias("n"), *[F.avg(c) for c in sig_cols[:4]]
    )
    plan = narrow_agg._jdf.queryExecution().executedPlan().toString()
    emit(
        step="codegen_fallback_wide_csv",
        max_fields=spark.conf.get("spark.sql.codegen.maxFields"),
        wholestage_spans=plan.count("*("),  # codegen subtree markers
        note="0 spans = full interpreted fallback at this width",
    )

    # --- 2. costs on the wide CSV -----------------------------------
    emit(
        step="csv_narrow_agg",
        sec=timed(lambda: narrow_agg.collect()),
        note="count + avg of 4 of the signal columns, straight off CSV",
    )
    full_agg = wide.agg(*[F.sum(c) for c in sig_cols])
    emit(
        step="csv_full_width_agg",
        sec=timed(lambda: full_agg.collect()),
        note="sum of every signal column (6,037 aggregate states)",
    )

    curated = os.path.join(work, "curated")
    t0 = time.time()
    eeg_csv.ingest(spark, raw, curated)
    emit(step="ingest_to_parquet", sec=round(time.time() - t0, 1))

    pq = eeg_csv.register_curated(spark, curated, view="wide_probe")
    emit(
        step="parquet_narrow_agg",
        sec=timed(
            lambda: pq.agg(
                F.count("*").alias("n"), *[F.avg(c) for c in sig_cols[:4]]
            ).collect()
        ),
        note="parquet prunes to 4 columns; CSV cannot",
    )
    emit(
        step="parquet_full_width_agg",
        sec=timed(lambda: pq.agg(*[F.sum(c) for c in sig_cols]).collect()),
    )

    # --- 3. raise maxFields so codegen covers 6,039 fields ----------
    spark.conf.set("spark.sql.codegen.maxFields", str(args.signals + 64))
    try:
        plan2 = (
            pq.agg(*[F.sum(c) for c in sig_cols])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        emit(
            step="codegen_forced_wide",
            wholestage_spans=plan2.count("*("),
            first_exec_sec=timed(
                lambda: pq.agg(*[F.sum(c) for c in sig_cols]).collect(), n=1
            ),
            warm_sec=timed(
                lambda: pq.agg(*[F.sum(c) for c in sig_cols]).collect()
            ),
            note="maxFields raised above 6,039; spans>0 means codegen "
            "attempted (janino may still bail to interpreted at "
            "hugeMethodLimit)",
        )
    finally:
        spark.conf.unset("spark.sql.codegen.maxFields")

    # --- 4. the tidy melt: cost and benefit -------------------------
    long_dir = os.path.join(work, "long")
    t0 = time.time()
    eeg_csv.melt_signals(pq, sig_cols).write.mode("overwrite").parquet(
        long_dir
    )
    emit(
        step="melt_to_long_parquet",
        sec=round(time.time() - t0, 1),
        long_rows=args.rows * args.signals,
    )
    long_df = spark.read.parquet(long_dir)
    emit(
        step="long_narrow_agg",
        sec=timed(
            lambda: long_df.filter(
                F.col("channel").isin(list(sig_cols[:4]))
            )
            .agg(F.count("*").alias("n"), F.avg("value"))
            .collect()
        ),
        note="same 4-signal aggregate against the long store",
    )
    emit(
        step="long_full_agg",
        sec=timed(
            lambda: long_df.groupBy("channel")
            .agg(F.sum("value"))
            .agg(F.count("*").alias("n_channels"))
            .collect()
        ),
        note="per-channel sums over all 6,037 channels (one narrow "
        "shuffle instead of 6,037 aggregate states per row)",
    )

    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
