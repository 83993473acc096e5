"""Measurement from outside the package.

* ``Spans`` wraps public functions of the package's modules (and the
  parquet writer the ingest path calls) with timers, from the
  benchmark's own files. A wrapped function records only on threads
  whose tracing is switched on, so traced and untraced requests can
  alternate within one run.
* ``job_counts`` reads Spark's public status tracker for the jobs of
  one request's job group.
* The ``/proc`` readers give CPU seconds and resident memory of the
  whole process tree: this python process, the JVM it launched and
  the JVM's python workers.
"""

from __future__ import annotations

import os
import sys
import threading
import time
from collections import defaultdict

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: fields restart after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = proc_stat(int(entry))
            if st is not None:
                kids[int(st[2])].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def comm(pid: int) -> str:
    st = proc_stat(pid)
    return st[0] if st else ""


def cpu_seconds(pid: int) -> float:
    """User + system time of ``pid`` and of its reaped children."""
    st = proc_stat(pid)
    if st is None:
        return 0.0
    # after the comm: state(1) ppid(2) ... utime(12) stime(13) cutime(14) cstime(15)
    return sum(int(st[i]) for i in (12, 13, 14, 15)) / CLK_TCK


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. Steal is
    time the hypervisor gave this machine's CPUs to another guest
    while they had work: a run with a steal share of a few percent ran
    on a contended host, and its times are not comparable."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes sharing it. Summed over a process tree it
    counts memory once, where plain RSS counts a child forked by the
    JVM (before it execs) as a second copy of the JVM."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """The JVM launched by this process and its python workers."""

    def __init__(self):
        self.root = os.getpid()

    def jvm(self) -> int | None:
        for p in descendants(self.root):
            if comm(p) == "java":
                return p
        return None

    def jvm_cpu_s(self) -> float:
        pid = self.jvm()
        return cpu_seconds(pid) if pid else 0.0

    def pyworker_cpu_s(self) -> float:
        pid = self.jvm()
        if not pid:
            return 0.0
        return sum(cpu_seconds(p) for p in descendants(pid) if comm(p).startswith("python"))

    def rss_mb(self) -> float:
        return sum(pss_bytes(p) for p in [self.root] + descendants(self.root)) / 1e6


class RssSampler:
    """Peak resident memory of the process tree, sampled by a thread.
    One sample walks the JVM's page tables (about 6 ms for a 2 GB
    JVM); the tree's memory grows smoothly, so twice a second is
    enough."""

    def __init__(self, tree: ProcessTree, interval: float = 0.5):
        self.tree = tree
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, self.tree.rss_mb())


def parquet_stats(store: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files in a curated store."""
    files = size = 0
    for root, _, names in os.walk(os.path.join(store, "data")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# Spark status tracker
# ---------------------------------------------------------------------------


def job_counts(sc, group: str) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) of one job group."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            stages += 1
            tasks += st.numTasks
            failed += st.numFailedTasks
    return jobs, stages, tasks, failed


# ---------------------------------------------------------------------------
# spans around package functions
# ---------------------------------------------------------------------------


class Spans:
    """Inclusive call counts and seconds per span name, recorded only
    on threads with tracing switched on."""

    def __init__(self):
        self._local = threading.local()
        self._lock = threading.Lock()
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        #: CSV files ingested and parquet files they produced, on traced calls
        self.csv_files = 0
        self.parquet_files = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- switching ---------------------------------------------------------
    @property
    def active(self) -> bool:
        return getattr(self._local, "on", False)

    def set_active(self, on: bool) -> None:
        self._local.on = on

    def record(self, name: str, seconds: float) -> None:
        with self._lock:
            self.calls[name] += 1
            self.seconds[name] += seconds
            self.samples[name].append(seconds)

    def take(self) -> Spans:
        """Move the totals recorded so far into a new object (set-up
        vs loop) and start afresh; the wrappers stay installed."""
        out = Spans()
        with self._lock:
            out.calls, self.calls = self.calls, defaultdict(int)
            out.seconds, self.seconds = self.seconds, defaultdict(float)
            out.samples, self.samples = self.samples, defaultdict(list)
            out.csv_files, out.parquet_files = self.csv_files, self.parquet_files
            self.csv_files = self.parquet_files = 0
        return out

    # -- wrapping ----------------------------------------------------------
    def _wrapper(self, name: str, fn):
        spans = self

        def traced(*args, **kwargs):
            if not spans.active:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.record(name, time.perf_counter() - t0)

        traced.__wrapped__ = fn
        traced.__doc__ = fn.__doc__
        return traced

    def wrap(self, module, attr: str, name: str, package: str | None = None) -> None:
        """Replace ``module.attr`` with a timed wrapper, and every
        name under ``package`` bound to the same function object
        (operators import ``load`` by name)."""
        fn = getattr(module, attr)
        traced = self._wrapper(name, fn)
        targets = [module]
        if package:
            targets += [
                m
                for key, m in list(sys.modules.items())
                if m is not None and key.startswith(package + ".") and m is not module
            ]
        for m in targets:
            for key, value in list(vars(m).items()):
                if value is fn:
                    self._patched.append((m, key, value))
                    setattr(m, key, traced)

    def count_ingest(self, module, attr: str) -> None:
        """Count the CSV files ``ingest`` reports and the parquet files
        that appear under its output directory."""
        fn = getattr(module, attr)
        spans = self

        def counted(spark, input_dir, output_dir, *args, **kwargs):
            if not spans.active:
                return fn(spark, input_dir, output_dir, *args, **kwargs)
            before = parquet_stats(output_dir)[0]
            n = fn(spark, input_dir, output_dir, *args, **kwargs)
            with spans._lock:
                spans.csv_files += n
                spans.parquet_files += parquet_stats(output_dir)[0] - before
            return n

        counted.__wrapped__ = fn
        self._patched.append((module, attr, fn))
        setattr(module, attr, counted)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        fn = getattr(cls, attr)
        self._patched.append((cls, attr, fn))
        setattr(cls, attr, self._wrapper(name, fn))

    def unwrap(self) -> None:
        for target, key, value in reversed(self._patched):
            setattr(target, key, value)
        self._patched.clear()


def install_spans(spans: Spans) -> None:
    """Wrap the package's layer boundaries. Call after the registry
    loaded every operator module, so their by-name imports are seen."""
    from pyspark.sql.readwriter import DataFrameWriter

    from data_pipeline_spark_spark import catalog, session
    from data_pipeline_spark_spark.sources import eeg_csv

    pkg = "data_pipeline_spark_spark"
    spans.wrap(session, "get_spark", "session.get_spark", pkg)
    spans.wrap(catalog, "load", "catalog.load", pkg)
    spans.wrap(catalog, "register_views", "catalog.register_views", pkg)
    for attr in (
        "probe_header",
        "read_session",
        "_write_ledger",
        "export_schema_registry",
        "register_curated",
    ):
        spans.wrap(eeg_csv, attr, f"sources.eeg_csv.{attr}", pkg)
    spans.count_ingest(eeg_csv, "ingest")
    spans.wrap_method(DataFrameWriter, "parquet", "sources.eeg_csv.parquet_write")
