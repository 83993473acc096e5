"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke runs start a JVM each (about 20 s apiece).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import loop, oracle, workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _make(name: str, seed: int, work: str) -> workloads.Workload:
    wl = workloads.WORKLOADS[name](workloads.SIZES["tiny"][name], seed, work, 2.0)
    wl.make_inputs()
    return wl


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_inputs_and_requests(name, tmp_path):
    a = _make(name, 7, str(tmp_path / "a"))
    b = _make(name, 7, str(tmp_path / "b"))
    c = _make(name, 8, str(tmp_path / "c"))
    try:
        assert a.requests() == b.requests()
        assert a.warm_requests() == b.warm_requests()
        assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
        assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    finally:
        for w in (a, b, c):
            w.close()


def test_wrong_answer_counts_as_failure(tmp_path):
    wl = _make("dashboard_point", 3, str(tmp_path))
    try:
        reqs = wl.requests()
        wl.prepare_oracle(reqs[:3])
        right = []
        for i in range(3):
            cur = wl.oracle.con.execute(reqs[i].sql)
            right.append(loop.Outcome(i, columns=[d[0] for d in cur.description], rows=cur.fetchall()))
        assert loop.check_answers(wl, right)[0] == 0

        wrong = [loop.Outcome(o.index, columns=o.columns, rows=list(o.rows)) for o in right]
        first = list(wrong[0].rows[0])
        first[0] = first[0] + 1  # n_rows off by one
        wrong[0].rows[0] = tuple(first)
        failed, _ = loop.check_answers(wl, wrong)
        assert failed == 1
        assert "wrong answer" in wrong[0].error
    finally:
        wl.close()


def test_normalize_is_order_insensitive_and_tolerant():
    a = oracle.Answer(["b", "a"], [(1.0000000001, "x"), (2.0, None)])
    b = oracle.Answer(["a", "b"], [(None, 2.0), ("x", 1.0)])
    assert a.hash == b.hash
    c = oracle.Answer(["a", "b"], [("x", 1.0000009), (None, 2.0)])
    assert c.hash != b.hash and oracle.matches(c, b)
    assert not oracle.matches(oracle.Answer(["a", "b"], [("x", 1.1), (None, 2.0)]), b)


def test_quantile():
    assert loop.quantile([5.0], 0.9) == 5.0
    assert loop.quantile([3.0, 1.0, 2.0], 0.5) == pytest.approx(2.0)
    assert loop.quantile(list(map(float, range(101))), 0.9) == pytest.approx(90.0, abs=0.5)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_tiny(name, trace):
    out = _run(["--workload", name, "--seed", "5", "--seconds", "2",
                "--trace", str(trace), "--size", "tiny"], ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "dashboard_point", "--seed", "1", "--seconds", "1"], str(tmp_path))
    assert out.returncode != 0
    last = (out.stdout.strip().splitlines() or [""])[-1]
    assert '"correct"' not in last
