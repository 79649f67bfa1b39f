"""Smoke test of the benchmark: every end-to-end metric is emitted with
its unit, a deliberately wrong result trips the output checks, and a
checkout without the engine package exits non-zero without a result.

Run from the repository root (spawns Spark; a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.batch import CorpusBatch  # noqa: E402
from perfbench.serving import TOP_K, Snapshot  # noqa: E402
from perfbench.tracer import spark_counters  # noqa: E402


def _run(cwd: Path, workload: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", ["corpus_batch", "ingest_churn"])
def test_every_end_to_end_metric_is_emitted(workload):
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    for m in spec["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}


def _snapshot() -> Snapshot:
    snap = Snapshot()
    vecs = np.eye(3)
    snap.rows = {
        "a": (["a_0", "a_1"], ["one\nline", "two"], vecs[:2]),
        "b": (["b_0"], ["three"], vecs[2:]),
    }
    return snap


def test_ask_check_accepts_the_exact_answer():
    q = np.array([0.8, 0.6, 0.0])
    reply = {"matches": [("a_0", "a", 0.8), ("a_1", "a", 0.6)], "system_answer": "one"}
    assert _snapshot().check_ask(q, ["a"], reply) == (None, 1.0)
    assert TOP_K == 2


@pytest.mark.parametrize(
    "matches",
    [
        [("a_0", "a", 0.8), ("b_0", "b", 0.0)],  # outside the title filter
        [("a_0", "a", 0.9), ("a_1", "a", 0.6)],  # score is not the cosine
        [("a_1", "a", 0.6), ("a_0", "a", 0.8)],  # not in score order
        [("a_0", "a", 0.8), ("a_0", "a", 0.8)],  # repeated match
    ],
)
def test_ask_check_trips_on_a_wrong_reply(matches):
    q = np.array([0.8, 0.6, 0.0])
    reply = {"matches": matches, "system_answer": "one"}
    error, _recall = _snapshot().check_ask(q, ["a"], reply)
    assert error is not None


def test_corpus_check_trips_on_a_wrong_result():
    bench = CorpusBatch(seed=0, seconds=1, trace=False, t_start=0.0)
    bench.open_oracle()
    cols, rows = bench._expected("pricing_summary")
    assert bench._check("pricing_summary", cols, rows) is None
    wrong = [tuple(r) for r in rows]
    wrong[0] = tuple(v + 1 if isinstance(v, (int, float)) else v for v in wrong[0])
    assert bench._check("pricing_summary", cols, wrong) is not None
    assert bench._check("pricing_summary", cols, rows[1:]) is not None


def test_spark_counters_attribute_jobs_and_their_window_to_tags(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.tags": "ask-1,exec-ask-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 7, "JVM GC Time": 1,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1040},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1050,
         "Stage IDs": [2], "Properties": {"spark.job.tags": "ask-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1100},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1200,
         "Stage IDs": [3], "Properties": {}},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    counters = spark_counters(tmp_path)
    assert set(counters) == {"ask-1", "exec-ask-1"}
    ask, exec_ = counters["ask-1"], counters["exec-ask-1"]
    assert (ask["jobs"], ask["stages"], ask["tasks"]) == (2, 1, 1)
    assert ask["job_span_ms"] == 100 and exec_["job_span_ms"] == 40
    assert exec_["shuffle_write_bytes"] == 64 and exec_["executor_run_ms"] == 7


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "corpus_batch")
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
