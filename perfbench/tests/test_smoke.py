"""Self-test of the benchmark at a tiny scale.

    python3 -m pytest perfbench/tests -q

Each workload runs twice with the ``smoke`` profile (lineitem about the
size of the sf0.01 test set, a few operations): once traced, which must
pass every check and report every per-layer metric, and once untraced
with ``--negative-control``, where the first operation is compared with a
deliberately wrong expected result and must be counted as a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = ["olap_scan", "point_lookup", "cdc_write", "corpus_dedup"]


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def smoke(workload: str, *extra: str) -> tuple[int, dict]:
    rc, lines = bench("--workload", workload, "--seed", "7", "--seconds", "2",
                      "--profile", "smoke", *extra)
    assert lines, "no output"
    return rc, json.loads(lines[-1])


def test_benchmark_json_lists_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_is_correct_and_reports_every_layer(workload):
    rc, out = smoke(workload, "--trace", "1")
    assert rc == 0 and out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    assert out["metrics"]["session.start_s"]["value"] > 0
    assert out["metrics"]["spark.jobs"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_negative_control_counts_as_failure(workload):
    rc, out = smoke(workload, "--trace", "0", "--negative-control")
    assert rc != 0
    assert not out["correct"] and out["failed"] == 1 and out["attempted"] >= 2
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "out"))
    rc, lines = bench("--workload", "point_lookup", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=str(tmp_path))
    assert rc != 0 and lines == []


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.operation("op-0"):
        with tr.span("store.scan"):
            pass
    root, child = tr.spans
    root["start"], root["end"] = 0.0, 1.0
    child["start"], child["end"] = 0.2, 0.6
    tr.add("op-0", "spark.exec", 0.3, 0.5)
    st = tr.self_times()["op-0"]
    assert st["op"] == pytest.approx(0.6)
    assert st["store.scan"] == pytest.approx(0.2)
    assert st["spark.exec"] == pytest.approx(0.2)
