"""Session defaults derived from the host (no Spark needed)."""

from __future__ import annotations

import os

from data_pipeline_spark_spark.session import default_parallelism


def test_default_parallelism_uses_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))


def test_default_parallelism_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
