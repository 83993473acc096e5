"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_point --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets the program up, runs the closed request loop for
``--seconds``, checks every answer against DuckDB, and prints a report
line followed by the result line (the last line of stdout):

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def pin_environment(work: str) -> dict:
    """Fix what the program reads from its environment, before the
    JVM starts: one Spark core per usable CPU, a driver heap sized to
    the host (1/16 of memory, 1-4 GiB) and committed up front, so
    peak RSS does not depend on when the JVM grew its heap, and every
    scratch file inside ``work``."""
    h = host()
    heap_mb = min(4096, max(1024, h["mem_total_mb"] // 16))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(h["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{heap_mb}m -XX:+AlwaysPreTouch'"
            " pyspark-shell"
        ),
    }
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    os.environ.update(env)
    time.tzset()
    return {**h, **{k: v for k, v in env.items() if k.startswith("SPARK_GRAFT")}}


def versions() -> dict:
    import duckdb
    import pyspark

    java = shutil.which("java", path=os.path.join(os.environ.get("JAVA_HOME", ""), "bin")) or "java"
    out = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=60)
    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": (out.stderr.splitlines() or ["?"])[0],
    }


def stop_children(timeout: float = 30.0) -> None:
    """Close the py4j gateway, let the JVM exit on the end of its
    stdin, then terminate whatever this process started that is still
    running, and wait until each has ended."""
    from perfbench import trace

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark and pyspark.SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        pyspark.SparkContext._gateway = pyspark.SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                pass

    pids = trace.descendants(os.getpid())
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while pids:
        alive = []
        for pid in pids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    continue  # our child, reaped
            except ChildProcessError:  # not our child: is it still there?
                st = trace.proc_stat(pid)
                if st is None or st[1] == "Z":
                    continue
            alive.append(pid)
        pids = alive
        if pids and time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def execute(name: str, seed: int, seconds: float, traced: bool, size: str, work: str) -> dict:
    """One benchmark run in this process; returns the report and the
    result. The Spark session is stopped, the JVM left running."""
    from perfbench import loop, trace, workloads

    wl = workloads.WORKLOADS[name](workloads.SIZES[size][name], seed, work, seconds)
    tree = trace.ProcessTree()
    spans = trace.Spans() if traced else None
    spark = None
    try:
        t0 = time.perf_counter()
        wl.make_inputs()
        input_s = time.perf_counter() - t0
        with trace.RssSampler(tree) as rss:
            if spans is not None:
                from data_pipeline_spark_spark import registry

                registry.load_all()  # operator modules must exist to be wrapped
                trace.install_spans(spans)
            try:
                spark, setup_times = loop.run_setups(wl, spans)
                setup_spans = spans.take() if spans else None
                warmup = loop.warm_up(wl, spark, wl.size["warmup_s"])
                cpu0 = (tree.jvm_cpu_s(), tree.pyworker_cpu_s())
                steal0 = trace.steal_ticks()
                outcomes, wall = loop.closed_loop(wl, spark, wl.requests(), seconds, spans)
                steal1 = trace.steal_ticks()
                cpu1 = (tree.jvm_cpu_s(), tree.pyworker_cpu_s())
                loop_spans = spans.take() if spans else None
            finally:
                if spans is not None:
                    spans.unwrap()
        if not outcomes:
            raise RuntimeError("no request completed")
        failed, oracle_s = loop.check_answers(wl, outcomes)
        lat_ms = [o.latency_s * 1e3 for o in outcomes]
        p90 = loop.quantile(lat_ms, 0.9)
        report = {
            "workload": name,
            "seed": seed,
            "size": size,
            "inputs": wl.input_info,
            "requests": len(outcomes),
            "samples_beyond_p90": sum(x > p90 for x in lat_ms),
            "repeat_share": loop.repeat_share(wl, outcomes),
            "failed_frac": failed / len(outcomes),
            "setup_runs_s": setup_times,
            "bench.input_s": input_s,
            "warmup_requests": warmup[0],
            "bench.warmup_s": warmup[1],
            "bench.oracle_ms": oracle_s * 1e3,
            "loop_wall_s": wall,
            "host_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "latency_p50_ms_by_kind": loop.by_kind(wl, outcomes),
            **wl.report_metrics(lat_ms),
        }
        if traced:
            layers = loop.per_layer(
                outcomes, setup_spans, loop_spans,
                cpu1[0] - cpu0[0], cpu1[1] - cpu0[1], oracle_s,
            )
            report["layers"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            metrics = {k: layers[k] for k in loop.TRACKED_LAYER_METRICS}
        else:
            metrics = loop.end_to_end(outcomes, wall, setup_times, rss.peak_mb)
        result = {
            "correct": failed == 0,
            "attempted": len(outcomes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return {"report": report, "result": result}
    finally:
        if spark is not None:
            spark.stop()
        wl.close()


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        sys.path.insert(0, ROOT)
        try:
            import data_pipeline_spark_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        out = execute(args.workload, args.seed, args.seconds, bool(args.trace), args.size, work)
        out["report"]["environment"] = {**env, **versions()}
        print(json.dumps({"report": out["report"]}))
        print(json.dumps(out["result"]))
        return 0
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
