"""Spans recorded by the benchmark, and the per-layer numbers folded from
Spark's event log and ``/proc``.

A span covers one call the benchmark makes into a layer of the engine.
Spans nest (a job span holds the layer calls it made), carry the job id
the benchmark passed to ``setJobGroup``, are kept in memory and written
out when the run ends. A span's self time is its duration minus the time
its children cover; a job span's self time is the benchmark's own driver
time between layer calls.

Spark's work is attributed to the timed passes by wall-clock window:
jobs run one at a time, so a task, SQL metric update or streaming
progress event belongs to the pass whose window holds its timestamp.
Streaming micro-batches run under the query's own job group, which is
why the window and not the job group is the key.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import statistics
import time


class Tracer:
    """In-memory span recorder."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            **attrs,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._open.append(idx)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._open.pop()

    def self_times(self) -> list[float]:
        """Self time of every span, index-aligned with ``spans``."""
        own = [s.get("dur", 0.0) for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s.get("dur", 0.0)
        return own


def process_tree_rss_mb(root_pid: int) -> dict[str, float]:
    """Peak resident memory (VmHWM) of every live descendant of
    ``root_pid``, split into the JVM and the Python workers under it."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    hwm: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as f:
                status = dict(
                    line.split(":", 1) for line in f.read().splitlines() if ":" in line
                )
        except OSError:
            continue  # exited while we looked
        pid = int(d)
        names[pid] = status.get("Name", "").strip()
        children.setdefault(int(status.get("PPid", "0")), []).append(pid)
        hwm[pid] = int(status.get("VmHWM", "0 kB").split()[0])
    out = {"jvm": 0.0, "python_workers": 0.0}
    stack = list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        key = "jvm" if names.get(pid) == "java" else "python_workers"
        out[key] += hwm.get(pid, 0) / 1024.0
    return out


def _iso_ms(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


def _inside(t_ms: float, windows: list[tuple[float, float]]) -> bool:
    return any(lo <= t_ms <= hi for lo, hi in windows)


PYTHON_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_start_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_returned",
}
DURATIONS = (
    "triggerExecution", "addBatch", "queryPlanning",
    "walCommit", "commitOffsets", "latestOffset",
)


def fold_event_log(
    log_dir: str, windows_s: list[tuple[float, float]], cores: int
) -> dict[str, float]:
    """Fold every event-log file under ``log_dir`` into per-pass layer
    metrics for the timed-pass windows (epoch seconds)."""
    windows = [(lo * 1000.0, hi * 1000.0) for lo, hi in windows_s]
    n_pass = max(1, len(windows))
    wall_s = sum(hi - lo for lo, hi in windows_s)
    python_acc: dict[int, tuple[str, str]] = {}
    tot = {k: 0.0 for k in (
        "run_ms", "cpu_ns", "gc_ms", "read_b", "write_b", "spill_b",
        "tasks", "failed", "empty", "jobs", "stages",
        *PYTHON_METRICS.values(),
    )}
    batches: list[dict] = []

    def walk(node: dict) -> None:
        if "InPandas" in node.get("nodeName", ""):
            for m in node.get("metrics", []):
                if m["name"] in PYTHON_METRICS:
                    python_acc[m["accumulatorId"]] = (
                        PYTHON_METRICS[m["name"]], m["metricType"]
                    )
        for child in node.get("children", []):
            walk(child)

    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    walk(ev["sparkPlanInfo"])
                elif kind == "SparkListenerJobStart":
                    if _inside(ev["Submission Time"], windows):
                        tot["jobs"] += 1
                        tot["stages"] += len(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not _inside(info["Launch Time"], windows):
                        continue
                    tot["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        tot["failed"] += 1
                    m = ev.get("Task Metrics") or {}
                    tot["run_ms"] += m.get("Executor Run Time", 0)
                    tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["spill_b"] += m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    tot["read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    tot["write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    records = (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    ) + sr.get("Total Records Read", 0)
                    if records == 0:
                        tot["empty"] += 1
                    for acc in info.get("Accumulables", []):
                        hit = python_acc.get(acc["ID"])
                        if hit is None or acc.get("Update") is None:
                            continue
                        name, mtype = hit
                        v = float(acc["Update"])
                        if mtype == "timing":
                            v /= 1000.0  # ms -> s
                        elif mtype == "nsTiming":
                            v /= 1e9
                        tot[name] += v
                elif kind.endswith("QueryProgressEvent"):
                    p = ev["progress"]
                    if _inside(_iso_ms(p["timestamp"]), windows):
                        batches.append(p)

    out = {
        "spark.executor_run_s": tot["run_ms"] / 1000.0 / n_pass,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n_pass,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n_pass,
        "spark.core_idle_frac": (
            1.0 - (tot["run_ms"] / 1000.0) / (wall_s * cores) if wall_s else 0.0
        ),
        "spark.shuffle_read_bytes": tot["read_b"] / n_pass,
        "spark.shuffle_write_bytes": tot["write_b"] / n_pass,
        "spark.spill_bytes": tot["spill_b"] / n_pass,
        "spark.jobs": tot["jobs"] / n_pass,
        "spark.stages": tot["stages"] / n_pass,
        "spark.tasks": tot["tasks"] / n_pass,
        "spark.tasks_failed": tot["failed"] / n_pass,
        "spark.empty_task_frac": tot["empty"] / tot["tasks"] if tot["tasks"] else 0.0,
    }
    for name in PYTHON_METRICS.values():
        out[name] = tot[name] / n_pass
    out.update(_fold_progress(batches, n_pass))
    return out


def _fold_progress(batches: list[dict], n_pass: int) -> dict[str, float]:
    """Micro-batch phase times and state-store figures from the
    ``QueryProgressEvent``s of the timed passes."""
    out = {"streaming.batches": len(batches) / n_pass}
    for k in DURATIONS:
        name = "streaming.trigger_ms" if k == "triggerExecution" else f"streaming.{k}_ms"
        out[name] = sum(b["durationMs"].get(k, 0) for b in batches) / n_pass
    ops = [op for b in batches for op in b.get("stateOperators", [])]
    rows_in = sum(s.get("numInputRows", 0) for b in batches for s in b["sources"])
    dropped = sum(op.get("numRowsDroppedByWatermark", 0) for op in ops)
    out["streaming.input_rows"] = rows_in / n_pass
    out["streaming.microbatch_ms_p50"] = (
        statistics.median(b["durationMs"]["triggerExecution"] for b in batches)
        if batches else 0.0
    )
    out["streaming.state_commit_ms"] = sum(op.get("commitTimeMs", 0) for op in ops) / n_pass
    out["streaming.state_rows"] = max((op.get("numRowsTotal", 0) for op in ops), default=0)
    out["streaming.state_memory_bytes"] = max(
        (op.get("memoryUsedBytes", 0) for op in ops), default=0
    )
    out["streaming.state_partitions"] = max(
        (op.get("numShufflePartitions", 0) for op in ops), default=0
    )
    out["streaming.rows_dropped_late_frac"] = dropped / rows_in if rows_in else 0.0
    return out
