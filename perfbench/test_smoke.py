"""Smoke test of the benchmark: every workload at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced on sf0.001 inputs for one
second.  The test asserts that the last line is the result object, that it
holds every metric ``BENCHMARK.json`` names with its unit, and that the
correctness checks ran and passed.  The model and cycle checks at the
top need no Spark.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen, kv  # noqa: E402
from perfbench.run import WORKLOADS, tail  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tiny_model() -> kv.Model:
    rows = [(1, 1, 0, 5, 10.0, 100.0, 0.01, "A"), (1, 1, 1, 6, 20.0, 200.0, 0.02, "N"),
            (1, 2, 2, 7, 30.0, 300.0, 0.03, "R"), (3, 1, 3, 8, 40.0, 400.0, 0.04, "A")]
    cols = list(zip(*rows))
    return kv.Model(pa.table({c: list(v) for c, v in zip(kv.COLS, cols)}))


def test_model_semantics():
    m = _tiny_model()
    assert [r[2] for r in m.select(1, 1, line=1)] == [0, 1]
    assert m.agg(0, 5) == [(1, 3, 60.0, 300.0), (3, 1, 40.0, 400.0)]
    m.upsert((1, 1, 0, 9, 11.0, 101.0, 0.0, "N"))  # existing key: replaced
    m.upsert((2, 4, 9, 9, 12.0, 102.0, 0.0, "N"))  # new key: added
    assert m.n_rows() == 5 and m.select(1, 1, line=1)[0][4] == 11.0
    assert m.select(0, 5, min_qty=20.0) == [(1, 2, 2, 7, 30.0, 300.0, 0.03, "R"),
                                           (3, 1, 3, 8, 40.0, 400.0, 0.04, "A")]


def test_statements_apply_to_model():
    m = kv.Model(datagen.kv_source(datagen.tables(0, 0.0001)["lineitem"]))
    gen = kv.Statements(m, random.Random(0))
    n = m.n_rows()
    sql, expect, apply = gen.make("delete")
    assert sql.startswith("DELETE FROM kv WHERE l_orderkey = ") and expect is None
    apply()
    assert m.n_rows() < n
    n = m.n_rows()
    sql, expect, apply = gen.make("merge")
    apply()
    assert "WHEN NOT MATCHED THEN INSERT *" in sql
    assert m.n_rows() == n + kv.MERGE_KEYS - kv.MERGE_KEYS // 2


def test_cycles_hold_every_kind():
    assert set(kv.WRITE_CYCLE) == set(kv.READ_MIX) | set(kv.WRITE_MIX)
    assert sorted(kv.READ_CYCLE) == sorted(kv.READ_MIX)


def test_tail_needs_ten_beyond():
    assert tail(list(range(10))) is None
    p, v, n = tail([float(i) for i in range(100)])
    assert (p, v, n) == (90.0, 89.0, 100)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_prints_every_metric(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, out.stdout[-3000:]
    assert res["attempted"] >= 2  # the timed operations plus the checks
    assert any(line.startswith("error_rate = 0 ") for line in lines)
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(res["metrics"][m["name"]]["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)


def test_exits_nonzero_without_the_engine():
    """In a directory holding only the benchmark, the run fails fast."""
    import shutil

    tmp_path = os.path.join(ROOT, ".perfbench", f"bare-{os.getpid()}")
    shutil.rmtree(tmp_path, ignore_errors=True)
    os.makedirs(tmp_path)
    try:
        _run_bare(tmp_path)
    finally:
        shutil.rmtree(tmp_path, ignore_errors=True)


def _run_bare(tmp_path: str) -> None:
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(tmp_path, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kv_write_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0 and not out.stdout.strip()
