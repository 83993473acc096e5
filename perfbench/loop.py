"""Set-up timing, the closed request loop, answer checking and the
metrics computed from them."""

from __future__ import annotations

import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import trace
from .oracle import Answer, matches
from .workloads import SETUP_REPEATS, Request, Workload


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile, ``q`` in (0, 1):
    the mean of the order statistics weighted by a Beta((n+1)q,
    (n+1)(1-q)) density. It weighs every sample, so it moves less from
    run to run than a single order statistic, which jumps between the
    latency clusters of a mixed request stream."""
    xs = np.sort(np.asarray(values, dtype=float))
    n = len(xs)
    if n == 1:
        return float(xs[0])
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 200 * n + 1)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, t, cdf, left=0.0, right=1.0)
    return float(np.diff(edges) @ xs)


@dataclass
class Outcome:
    index: int
    latency_s: float = 0.0
    build_s: float = 0.0
    execute_s: float = 0.0
    traced: bool = False
    columns: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    error: str | None = None
    jobs: tuple = (0, 0, 0, 0)


class Timer:
    """Splits one request into building the DataFrame (analysis and
    planning in ``spark.sql`` or a registry builder) and executing it
    (the Spark jobs until the rows are collected)."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.build_s = 0.0
        self.execute_s = 0.0

    def build(self, make_df):
        t = time.perf_counter()
        df = make_df()
        self.build_s += time.perf_counter() - t
        return df

    def collect(self, df) -> tuple[list[str], list]:
        t = time.perf_counter()
        rows = df.collect()
        self.execute_s += time.perf_counter() - t
        return list(df.columns), rows


def start_session():
    from data_pipeline_spark_spark import session

    return session.get_spark("perfbench")


def run_setups(workload: Workload, spans: trace.Spans | None) -> tuple[object, list[float]]:
    """Set the program up ``SETUP_REPEATS`` times (a fresh Spark
    session and a fresh store each time) and keep the last one."""
    times = []
    spark = None
    if spans is not None:
        spans.set_active(True)
    for attempt in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        workload.setup(spark, attempt)
        times.append(time.perf_counter() - t0)
    if spans is not None:
        spans.set_active(False)
    return spark, times


def warm_up(workload: Workload, spark, seconds: float) -> tuple[int, float]:
    """Run the warm-up sequence the way the measured loop runs its own,
    untimed; returns (requests, seconds)."""
    outcomes, wall = closed_loop(workload, spark, workload.warm_requests(), seconds, None)
    return len(outcomes), wall


def closed_loop(
    workload: Workload, spark, reqs: list[Request], seconds: float, spans: trace.Spans | None
) -> tuple[list[Outcome], float]:
    """``workload.clients`` threads each send the next request of
    ``reqs`` when their previous one returns, until the deadline. With
    ``spans``, whole blocks of two request cycles alternate between
    traced and untraced."""
    block = 2 * workload.cycle
    lock = threading.Lock()
    counter = iter(range(len(reqs)))
    outcomes: list[Outcome] = []
    sc = spark.sparkContext
    t_start = time.perf_counter()
    deadline = t_start + seconds

    def client() -> None:
        while True:
            with lock:
                i = next(counter, None)
            if i is None or time.perf_counter() >= deadline:
                return
            traced = spans is not None and (i // block) % 2 == 1
            out = Outcome(i, traced=traced)
            group = f"perfbench-{i}"
            if spans is not None:
                spans.set_active(traced)
                sc.setJobGroup(group, workload.name)
            timer = Timer()
            try:
                out.columns, out.rows = workload.run(spark, reqs[i], timer)
                out.latency_s = time.perf_counter() - timer.t0
                out.build_s, out.execute_s = timer.build_s, timer.execute_s
                if spans is not None:
                    spans.set_active(False)
                out.error = workload.after(spark, reqs[i])
            except Exception:  # a failed request is counted, the loop goes on
                out.latency_s = time.perf_counter() - timer.t0
                out.error = traceback.format_exc(limit=3)
                print(f"request {i} ({reqs[i].kind}) failed:\n{out.error}", file=sys.stderr)
            if spans is not None:
                spans.set_active(False)
                out.jobs = trace.job_counts(sc, group)
                sc.setJobGroup("perfbench-idle", "idle")
            with lock:
                outcomes.append(out)

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(workload.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start
    outcomes.sort(key=lambda o: o.index)
    return outcomes, wall


def check_answers(workload: Workload, outcomes: list[Outcome]) -> tuple[int, float]:
    """Compare each answer with the oracle's; returns (failed count,
    oracle seconds). Expected answers are computed once per distinct
    request, after the timed loop."""
    reqs = workload.requests()
    issued = [reqs[o.index] for o in outcomes]
    t0 = time.perf_counter()
    workload.prepare_oracle(issued)
    expected: dict[tuple, Answer] = {}
    for r in issued:
        if r.ident not in expected:
            expected[r.ident] = workload.oracle.answer(workload.expected_sql(r))
    oracle_s = time.perf_counter() - t0
    failed = 0
    for o in outcomes:
        if o.error is None and not matches(Answer(o.columns, o.rows), expected[reqs[o.index].ident]):
            o.error = f"wrong answer for {reqs[o.index].kind} {reqs[o.index].params}"
            print(o.error, file=sys.stderr)
        failed += o.error is not None
    return failed, oracle_s


def repeat_share(workload: Workload, outcomes: list[Outcome]) -> float:
    reqs = workload.requests()
    seen: set = set()
    repeats = 0
    for o in outcomes:
        ident = reqs[o.index].ident
        repeats += ident in seen
        seen.add(ident)
    return repeats / len(outcomes)


def by_kind(workload: Workload, outcomes: list[Outcome]) -> dict:
    reqs = workload.requests()
    kinds: dict[str, list[float]] = {}
    for o in outcomes:
        kinds.setdefault(reqs[o.index].kind, []).append(o.latency_s * 1e3)
    return {k: statistics.median(v) for k, v in sorted(kinds.items())}


def end_to_end(outcomes: list[Outcome], wall: float, setup_times: list[float], peak_mb: float) -> dict:
    lat_ms = [o.latency_s * 1e3 for o in outcomes]
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "latency_p50_ms": (quantile(lat_ms, 0.5), "ms"),
        "latency_p90_ms": (quantile(lat_ms, 0.9), "ms"),
        "throughput_rps": (len(outcomes) / wall, "req/s"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


#: Per-layer metrics the result line carries. Each is a count or is
#: measured on every workload; the rest (times of layers that some
#: workload never calls, so they read 0 there) go to the report line.
TRACKED_LAYER_METRICS = (
    "session.get_spark_s",
    "catalog.load_calls",
    "registry.build_ms",
    "engine.jobs",
    "engine.stages",
    "engine.tasks",
    "engine.failed_tasks",
    "engine.execute_ms",
    "engine.jvm_cpu_s",
    "sources.eeg_csv.probe_header_calls",
    "sources.eeg_csv.files_written",
    "bench.oracle_ms",
    "bench.trace_overhead_frac",
)


def per_layer(
    outcomes: list[Outcome],
    setup: trace.Spans,
    loop: trace.Spans,
    jvm_cpu_s: float,
    pyworker_cpu_s: float,
    oracle_s: float,
) -> dict:
    """Per-layer metrics. Request-scoped ones are means over traced
    requests; ingest-path ones are per CSV file ingested, taken from
    the loop when it ingests and from set-up otherwise; CPU seconds
    are per request over the whole loop."""
    traced = [o for o in outcomes if o.traced]
    plain = [o for o in outcomes if not o.traced]
    n = len(traced) or 1
    ing = loop if loop.csv_files else setup
    csv_files = ing.csv_files or 1

    def per_request(name: str) -> float:
        return loop.seconds.get(name, 0.0) * 1e3 / n

    def per_file(name: str) -> float:
        return ing.seconds.get(f"sources.eeg_csv.{name}", 0.0) * 1e3 / csv_files

    def mean_latency(xs: list[Outcome]) -> float:
        return statistics.fmean(o.latency_s for o in xs)

    jobs = [sum(o.jobs[k] for o in traced) / n for k in range(4)]
    overhead = mean_latency(traced) / mean_latency(plain) - 1 if traced and plain else 0.0
    curated = ing.calls.get("sources.eeg_csv.register_curated", 0) or 1
    return {
        "session.get_spark_s": (statistics.median(setup.samples["session.get_spark"]), "s"),
        "catalog.load_calls": (loop.calls.get("catalog.load", 0) / n, "count"),
        "catalog.load_ms": (per_request("catalog.load"), "ms"),
        "catalog.register_views_ms": (per_request("catalog.register_views"), "ms"),
        "registry.build_ms": (sum(o.build_s for o in traced) * 1e3 / n, "ms"),
        "engine.jobs": (jobs[0], "count"),
        "engine.stages": (jobs[1], "count"),
        "engine.tasks": (jobs[2], "count"),
        "engine.failed_tasks": (jobs[3], "count"),
        "engine.execute_ms": (sum(o.execute_s for o in traced) * 1e3 / n, "ms"),
        "engine.jvm_cpu_s": (jvm_cpu_s / len(outcomes), "s"),
        "engine.pyworker_cpu_s": (pyworker_cpu_s / len(outcomes), "s"),
        "sources.eeg_csv.probe_header_calls": (
            ing.calls.get("sources.eeg_csv.probe_header", 0) / csv_files, "count"),
        "sources.eeg_csv.probe_header_ms": (per_file("probe_header"), "ms"),
        "sources.eeg_csv.read_session_ms": (per_file("read_session"), "ms"),
        "sources.eeg_csv.parquet_write_ms": (per_file("parquet_write"), "ms"),
        "sources.eeg_csv.files_written": (ing.parquet_files / csv_files, "count"),
        "sources.eeg_csv.ledger_ms": (per_file("_write_ledger"), "ms"),
        "sources.eeg_csv.schema_export_ms": (per_file("export_schema_registry"), "ms"),
        "sources.eeg_csv.register_curated_ms": (
            ing.seconds.get("sources.eeg_csv.register_curated", 0.0) * 1e3 / curated, "ms"),
        "bench.oracle_ms": (oracle_s * 1e3, "ms"),
        "bench.trace_overhead_frac": (overhead, "ratio"),
    }
