"""Catalog reuse (catalog.py): inferred parquet schemas and registered
views are remembered per SparkSession and per data generation.

Each case works on a private copy of the sf0.001 fixture so it can
rewrite table files; answers are checked against DuckDB over the same
files, jobs are counted through the public status tracker.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from data_pipeline_spark_spark import catalog, registry

from .oracle import assert_matches_oracle


def _copy_fixture(src: str, dst) -> str:
    # file by file: copytree would carry over the read-only modes
    os.makedirs(dst)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    return str(dst)


@pytest.fixture
def data_dir(sf_dir, tmp_path):
    return _copy_fixture(sf_dir, tmp_path / "sf")


def _halve_orders(sf_dir: str) -> None:
    path = os.path.join(sf_dir, "orders.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launched, counted for its own job group."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _adhoc(spark, sf_dir: str, label: str):
    registry.load_all()
    df = registry.run("adhoc_sql", spark, sf_dir)
    assert_matches_oracle(df, registry.ORACLE_SQL["adhoc_sql"], sf_dir, label)
    return sorted(map(tuple, df.collect()))


def test_rewritten_table_is_served_fresh(spark, data_dir):
    before = _adhoc(spark, data_dir, "before rewrite")
    _adhoc(spark, data_dir, "cached")  # views and schemas now warm
    _halve_orders(data_dir)
    after = _adhoc(spark, data_dir, "after rewrite")
    assert after != before


def test_alternating_data_dirs_each_see_their_own_data(spark, sf_dir, tmp_path):
    a = _copy_fixture(sf_dir, tmp_path / "a")
    b = _copy_fixture(sf_dir, tmp_path / "b")
    _halve_orders(b)
    answers = {d: _adhoc(spark, d, d) for d in (a, b)}
    assert answers[a] != answers[b]
    for d in (a, b, a, b):
        assert _adhoc(spark, d, d) == answers[d]


def test_fresh_session_starts_empty(spark, data_dir):
    catalog.register_views(spark, data_dir)
    assert _jobs(spark, lambda: catalog.load(spark, data_dir, "orders")) == 0
    fresh = spark.newSession()
    # the fresh session infers again and gets its own views
    assert _jobs(fresh, lambda: catalog.load(fresh, data_dir, "orders")) > 0
    catalog.register_views(fresh, data_dir)
    n = fresh.sql("SELECT COUNT(*) FROM orders").first()[0]
    assert n == pq.read_metadata(os.path.join(data_dir, "orders.parquet")).num_rows


def test_events_cache_hit_matches_nanos_shim(spark, data_dir):
    cold = catalog.load(spark, data_dir, "events")  # miss: infers the schema
    want = sorted(map(tuple, cold.collect()))
    got = []
    assert _jobs(spark, lambda: got.append(catalog.load(spark, data_dir, "events"))) == 0
    warm = got[0]
    assert warm.schema == cold.schema
    assert dict(warm.dtypes)["ts"] == "timestamp"
    assert sorted(map(tuple, warm.collect())) == want


def test_unchanged_files_launch_no_jobs(spark, data_dir):
    """Job-count pin: the first registration infers every table's
    schema; repeating it on unchanged files, or loading a table again,
    launches nothing."""
    assert _jobs(spark, lambda: catalog.register_views(spark, data_dir)) >= len(catalog.TABLES)
    assert _jobs(spark, lambda: catalog.register_views(spark, data_dir)) == 0
    assert _jobs(spark, lambda: catalog.load(spark, data_dir, "lineitem")) == 0
    _halve_orders(data_dir)
    assert _jobs(spark, lambda: catalog.register_views(spark, data_dir)) == 1
