"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests need no Spark. The end-to-end tests run every workload at
``--scale tiny`` (a few seconds of work each, plus JVM start-up) and
check that every metric named in BENCHMARK.json is printed with its
unit, and that a corrupted output and a raised exception both count as
failed ops.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from checks import compare, fingerprint  # noqa: E402
from measure import tail  # noqa: E402

WORKLOADS = ["nested_ingest", "tables_mix"]


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_fingerprint_ignores_row_order_and_int_width():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, None], "s": ["x", "y", None]})
    b = a.iloc[::-1].copy()
    b["k"] = b["k"].astype("int32")
    assert compare(fingerprint(b), fingerprint(a)) is None


def test_fingerprint_sees_one_changed_cell():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 2.0]})
    b = a.copy()
    b.loc[1, "v"] = 1.5
    assert "value hash" in compare(fingerprint(b), fingerprint(a))
    assert "rows" in compare(fingerprint(a.iloc[:2]), fingerprint(a))


def test_tail_leaves_ten_samples_above():
    xs = list(range(40))
    value, pct, n = tail(xs)
    assert n == 40 and value == 29 and pct == 75.0
    assert sum(x > value for x in xs) == 10
    assert tail(list(range(20)))[0] == 19  # too few samples: the maximum


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_and_counts_failures(workload):
    spec = _spec()
    p = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", "0", "--scale", "tiny", "--inject", "corrupt,raise",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    # the corrupted output and the raised exception, and nothing else
    assert res["failed"] == 2 and res["correct"] is False
    frac = [ln for ln in p.stdout.splitlines() if ln.startswith("ops_failed_frac")]
    assert frac and float(frac[0].split()[1]) == pytest.approx(2 / res["attempted"], rel=1e-4)
    assert "wrong output" in p.stdout and "injected failure" in p.stdout


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_prints_every_layer_metric(workload):
    spec = _spec()
    p = _run(
        ROOT, "--workload", workload, "--seed", "4", "--seconds", "1",
        "--trace", "1", "--scale", "tiny",
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["failed"] == 0 and res["correct"] is True
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["session.get_spark_s"]["value"] > 0
    assert "self_s.session.get_spark" in p.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".out", "__pycache__"))
    p = _run(tmp_path, "--workload", "tables_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert "no bamboo_spark package" in p.stderr
    assert '"metrics"' not in p.stdout
