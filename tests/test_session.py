"""Session defaults derived from the host (no Spark needed)."""

from __future__ import annotations

import io
import os

from data_pipeline_spark_spark import session
from data_pipeline_spark_spark.session import default_driver_memory, default_parallelism


def test_default_parallelism_uses_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))


def test_default_parallelism_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def _fake_meminfo(monkeypatch, kib: int) -> None:
    def fake_open(path, *args, **kwargs):
        assert path == "/proc/meminfo"
        return io.StringIO(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")

    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_default_driver_memory_is_half_of_memtotal(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_meminfo(monkeypatch, 16 * 1024 * 1024)  # a 16 GiB host
    assert default_driver_memory() == "8192m"
    _fake_meminfo(monkeypatch, 1024 * 1024)  # 1 GiB host: the floor
    assert default_driver_memory() == "1024m"


def test_default_driver_memory_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"
