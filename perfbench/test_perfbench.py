"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The three tests that run the benchmark start Spark in a subprocess
(about half a minute each); the rest run without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from tracing import Tracer, fold_event_log  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, jobs: tuple[str, ...], trace: int, sabotage: bool = False):
    """Run the benchmark in a subprocess with ``workload`` cut down to
    ``jobs``; with ``sabotage`` the first job's result loses rows."""
    script = f"""
import dataclasses, sys
sys.path.insert(0, {HERE!r})
import run
run.WORKLOADS[{workload!r}] = {jobs!r}
if {sabotage!r}:
    real = run._jobs
    def _jobs(w):
        first, *rest = real(w)
        def build(spark, d, tr, _b=first.build):
            return _b(spark, d, tr).limit(1)
        return [dataclasses.replace(first, build=build), *rest]
    run._jobs = _jobs
sys.exit(run.main(["--workload", {workload!r}, "--seed", "3",
                   "--seconds", "1", "--trace", "{trace}"]))
"""
    p = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, capture_output=True, text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def test_seed_permutes_rows_and_keeps_content(tmp_path):
    for d, seed in (("a", 1), ("b", 2), ("c", 1)):
        inputs.write_inputs(str(tmp_path / d), seed=seed)
    for name in inputs.TABLES:
        src = os.path.join(inputs.DATA, f"{name}.parquet")
        a, b, c = (pq.read_table(tmp_path / d / f"{name}.parquet") for d in "abc")
        assert a.equals(c), name
        # same physical parquet schema as the engine's test data
        assert pq.ParquetFile(tmp_path / "a" / f"{name}.parquet").schema.equals(
            pq.ParquetFile(src).schema
        ), name
        keys = [(c, "ascending") for c in a.column_names if c != "embedding"]
        orig = pq.read_table(src)
        assert a.sort_by(keys).equals(orig.sort_by(keys)), name
        assert a.sort_by(keys).equals(b.sort_by(keys)), name
    ev = lambda d: pq.read_table(tmp_path / d / "events.parquet").column("event_id")  # noqa: E731
    assert not ev("a").equals(ev("b"))


def test_span_self_times_add_up_to_wall():
    tr = Tracer()
    with tr.span("job"):
        with tr.span("plans.build"):
            with tr.span("inner"):
                pass
        with tr.span("spark.action"):
            pass
    own = tr.self_times()
    assert sum(own) == pytest.approx(tr.spans[0]["dur"], abs=1e-9)
    assert all(t >= 0 for t in own)


def test_event_log_fold_counts_only_timed_windows(tmp_path):
    plan = {
        "nodeName": "FlatMapGroupsInPandas",
        "metrics": [
            {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
            {"name": "data sent to Python workers", "accumulatorId": 8, "metricType": "size"},
        ],
        "children": [],
    }

    def task(launch_ms, run_ms, records, accs=()):
        return {
            "Event": "SparkListenerTaskEnd",
            "Task End Reason": {"Reason": "Success"},
            "Task Info": {"Launch Time": launch_ms, "Accumulables": [
                {"ID": i, "Update": str(v)} for i, v in accs
            ]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
                "JVM GC Time": 0, "Disk Bytes Spilled": 0,
                "Input Metrics": {"Records Read": records},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10,
                                         "Total Records Read": 0},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
            },
        }

    progress = {
        "Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        "progress": {
            "timestamp": "1970-01-01T00:00:10.500Z",
            "durationMs": {"triggerExecution": 40, "addBatch": 30},
            "stateOperators": [{"numRowsTotal": 3, "commitTimeMs": 4,
                                "numRowsDroppedByWatermark": 1,
                                "numShufflePartitions": 8, "memoryUsedBytes": 99}],
            "sources": [{"numInputRows": 10}],
        },
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Submission Time": 10_100, "Stage IDs": [1, 2]},
        task(10_200, 1000, 4, [(7, 2500), (8, 64)]),
        task(10_300, 500, 0),
        task(99_000, 7000, 4, [(7, 9999)]),  # outside every window
        progress,
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = fold_event_log(str(tmp_path), [(10.0, 12.0)], cores=2)
    assert m["spark.tasks"] == 2
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2
    assert m["spark.executor_run_s"] == pytest.approx(1.5)
    assert m["spark.core_idle_frac"] == pytest.approx(1 - 1.5 / (2.0 * 2))
    assert m["spark.empty_task_frac"] == pytest.approx(0.5)
    assert m["spark.shuffle_read_bytes"] == 20 and m["spark.shuffle_write_bytes"] == 10
    assert m["operators.python_run_s"] == pytest.approx(2.5)
    assert m["operators.python_bytes_sent"] == 64
    assert m["streaming.batches"] == 1 and m["streaming.trigger_ms"] == 40
    assert m["streaming.rows_dropped_late_frac"] == pytest.approx(0.1)
    assert m["streaming.state_partitions"] == 8


@pytest.mark.parametrize(
    "workload,jobs,trace,section",
    [
        ("batch_python", ("cep_order_timeout",), 0, "end_to_end"),
        ("stream", ("tumbling_replay",), 1, "per_layer"),
    ],
)
def test_short_run_prints_every_named_metric(workload, jobs, trace, section):
    detail, result = _run(workload, jobs, trace)
    assert result["correct"] is True and result["failed"] == 0
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in _spec()[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert detail["ops_failed_frac"] == 0.0
    # every set-up launched its own JVM
    assert len(set(detail["setup_jvm_pids"])) == len(detail["setup_s"]) > 1
    if trace:
        assert result["metrics"]["streaming.batches"]["value"] >= 1
        assert detail["host"]["calibration_probe_s"] > 0


def test_wrong_result_raises_ops_failed_frac():
    detail, result = _run("batch_python", ("q3_top_revenue",), 0, sabotage=True)
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert detail["ops_failed_frac"] > 0
    assert "check.q3_top_revenue" in detail["failures"]
