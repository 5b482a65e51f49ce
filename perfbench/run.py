#!/usr/bin/env python3
"""The repository benchmark: closed-loop workloads over the engine's
public query and streaming functions, checked against DuckDB oracles.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream --seed 1 --seconds 8 --trace 0

One run sets up ``SETUP_REPS`` times, each time launching a new JVM and
starting a ``local[N]`` session (N = usable cores) from this process and
writing the inputs for ``--seed`` (see ``inputs.py``). It then runs every job
of the workload once to check it against its oracle, runs untimed warm-up
passes, then timed passes (every job once, one job at a time, each written
to a noop sink) until there are ``MIN_PASSES`` and ``--seconds`` have gone
by. Everything it writes goes under ``.perfbench_work/`` (wiped at the
start of a run) and ``.perfbench_out/`` (the span file of a traced run),
both in the repository root.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and reports the per-layer metrics instead. The line
before it holds the run's detail: host context (core count and, traced,
``bench._calibration_probe``), every pass and set-up time, per-job times
and any failure. See ``METRICS.md`` for what each metric should move.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections.abc import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
SETUP_REPS = 3
MAX_FAILURES_SHOWN = 20
SPLIT_CHUNKS = 8
WARM_PASSES = 1
MIN_PASSES = 2

# Why each workload exists, and what it leaves out, is in METRICS.md.
WORKLOADS: dict[str, tuple[str, ...]] = {
    "batch_python": ("cep_order_timeout", "dedup_embedding_cosine"),
    "stream": ("tumbling_replay", "split_replay"),
}


@dataclasses.dataclass(frozen=True)
class Job:
    name: str
    build: Callable  # (spark, data_dir, tracer) -> DataFrame
    oracle: str
    streaming: bool


def _prepare_env(trace: bool) -> int:
    """Point every scratch path of Spark, the engine and Python under
    ``WORK``, put the repository on the Python workers' import path and,
    for a traced run, turn on the event log. Returns the core count."""
    shutil.rmtree(WORK, ignore_errors=True)
    paths = {k: os.path.join(WORK, k) for k in ("tmp", "local", "warehouse", "ckpt", "eventlog")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = os.environ
    env["TMPDIR"] = paths["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_LOCAL_DIRS"] = paths["local"]
    env["SPARK_GRAFT_WAREHOUSE"] = paths["warehouse"]
    env["SPARK_GRAFT_STREAM_SCRATCH"] = paths["ckpt"]
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData"]
    if trace:
        for conf in (
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{paths['eventlog']}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ):
            submit += ["--conf", conf]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join([*submit, "pyspark-shell"])
    return cores


def _jobs(workload: str) -> list[Job]:
    from pyspark.sql import functions as F

    from flink_demo_spark.plans.registry import REGISTRY, _load_all
    from flink_demo_spark.sources.streams import events_stream, events_stream_with_eof_split
    from flink_demo_spark.streaming.runner import run_available_now
    from flink_demo_spark.streaming.windows import tumbling_agg

    _load_all()
    # both replays compute the hourly per-type window of the events table,
    # which is exactly what streaming_kafka_window's oracle states
    window_oracle = REGISTRY["streaming_kafka_window"].oracle

    def tumbling_replay(spark, data_dir, tr):
        with tr.span("sources.events_stream"):
            sdf = events_stream(spark, data_dir, scan_guard=True)
        with tr.span("streaming.run_available_now"):
            return run_available_now(tumbling_agg(sdf), output_mode="complete")

    def split_replay(spark, data_dir, tr):
        with tr.span("sources.events_stream_with_eof_split"):
            sdf = events_stream_with_eof_split(spark, data_dir, n_chunks=SPLIT_CHUNKS)
        with tr.span("streaming.run_available_now"):
            out = run_available_now(tumbling_agg(sdf), output_mode="append")
        return out.where(F.col("event_type") != "eof")

    def registered(name: str) -> Job:
        spec = REGISTRY[name]

        def build(spark, data_dir, tr):
            with tr.span("plans.build"):
                return spec.fn(spark, data_dir)

        return Job(name, build, spec.oracle, name.startswith("streaming"))

    replays = {"tumbling_replay": tumbling_replay, "split_replay": split_replay}
    return [
        Job(n, replays[n], window_oracle, True) if n in replays else registered(n)
        for n in WORKLOADS[workload]
    ]


def _stage(spark, data_dir: str) -> None:
    """Stage the stream inputs the replays read (the split files too)."""
    from flink_demo_spark.sources.streams import events_stream, events_stream_with_eof_split

    events_stream(spark, data_dir, scan_guard=True)
    events_stream_with_eof_split(spark, data_dir, n_chunks=SPLIT_CHUNKS)


def _first_line(e: BaseException) -> str:
    lines = str(e).strip().splitlines() or [""]
    return f"{type(e).__name__}: {lines[0][:300]}"


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end; the
    next ``get_spark`` in this process launches a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def measure(
    jobs: list[Job], seed: int, seconds: float, tr, stage: bool, calibrate: bool
) -> dict:
    """Set up ``SETUP_REPS`` times, each from a new JVM, check every job
    once against its oracle, run ``WARM_PASSES`` untimed passes, then
    timed passes until there are ``MIN_PASSES`` and ``seconds`` have gone
    by. Returns the raw measurements."""
    import duckdb

    from inputs import TABLES, write_inputs
    from flink_demo_spark.session import get_spark
    from tests.oracle_compare import diff_report, normalize

    res: dict = {"setup_s": [], "jvm_pids": [], "passes": [], "windows": [], "failures": {}}
    attempted = failed = 0
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                _stop(spark)  # so that every set-up pays the JVM launch
                spark = None
            t0 = time.perf_counter()
            with tr.span("setup", rep=rep):
                with tr.span("session.get_spark"):
                    spark = get_spark("perfbench")
                with tr.span("bench.warmup"):
                    # the JVM only: the check pass, which is not timed, is
                    # what starts the Python workers and warms each job
                    spark.range(1000).count()
                data_dir = os.path.join(WORK, "inputs", str(rep))
                with tr.span("bench.inputs"):
                    res["input_rows"] = write_inputs(data_dir, seed)
                if stage:
                    with tr.span("sources.stage"):
                        _stage(spark, data_dir)
            res["setup_s"].append(time.perf_counter() - t0)
            res["jvm_pids"].append(spark.sparkContext._gateway.proc.pid)

        # correctness, once per run and outside the timed passes; this
        # pass is also what warms each job's code paths
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for job in jobs:
            attempted += 1
            spark.sparkContext.setJobGroup(f"check.{job.name}", job.name)
            with tr.span("job", job=f"check.{job.name}", phase="check"):
                try:
                    got = normalize(job.build(spark, data_dir, tr).toPandas())
                    want = normalize(con.execute(job.oracle).df())
                    if got != want:
                        failed += 1
                        res["failures"][f"check.{job.name}"] = (
                            f"{len(got)} rows vs oracle {len(want)}; " + diff_report(got, want)
                        )[:600]
                except Exception as e:  # a failing job is counted, not fatal
                    failed += 1
                    res["failures"][f"check.{job.name}"] = _first_line(e)
            spark.catalog.clearCache()
        con.close()

        # the JIT is still warming right after the check (a pass there is
        # measurably slower than the next), so the first passes are untimed
        t_begin = n = 0
        while True:
            timed = n >= WARM_PASSES
            if n == WARM_PASSES:
                t_begin = time.perf_counter()
            with tr.span("pass", n=n, timed=timed) as ps:
                for job in jobs:
                    jid = f"pass{n}.{job.name}"
                    attempted += 1
                    spark.sparkContext.setJobGroup(jid, job.name)
                    phase = "timed" if timed else "warm"
                    with tr.span("job", job=jid, phase=phase, streaming=job.streaming):
                        try:
                            df = job.build(spark, data_dir, tr)
                            with tr.span("spark.action"):
                                df.write.mode("overwrite").format("noop").save()
                        except Exception as e:  # a failing job is counted, not fatal
                            failed += 1
                            if len(res["failures"]) < MAX_FAILURES_SHOWN:
                                res["failures"][jid] = _first_line(e)
                    spark.catalog.clearCache()
            n += 1
            if timed:
                res["passes"].append(ps["dur"])
                res["windows"].append((ps["start"], ps["end"]))
                if len(res["passes"]) >= MIN_PASSES and time.perf_counter() - t_begin >= seconds:
                    break

        from tracing import process_tree_rss_mb

        res["rss_mb"] = process_tree_rss_mb(os.getpid())
        if calibrate:
            import bench

            res["calibration_probe_s"] = bench._calibration_probe(spark)
    finally:
        if spark is not None:
            _stop(spark)
    res["attempted"], res["failed"] = attempted, failed
    return res


def _median_span(tr, name: str) -> float:
    vals = [s["dur"] for s in tr.spans if s["name"] == name]
    return statistics.median(vals) if vals else 0.0


def job_breakdown(tr) -> dict[str, dict]:
    """Wall time of each timed job and the self time of every span under
    it; the job's own self time is the remainder, labelled driver."""
    own = tr.self_times()
    out: dict[str, dict] = {}
    for i, s in enumerate(tr.spans):
        if s["name"] == "job" and s.get("phase") == "timed":
            row = {"wall": s["dur"], "driver": own[i], "streaming": s["streaming"]}
            for j, c in enumerate(tr.spans):
                if c["parent"] == i:
                    row[c["name"]] = row.get(c["name"], 0.0) + own[j]
            out[s["job"]] = row
    return out


def layer_metrics(tr, jobs: dict[str, dict], res: dict, cores: int) -> dict[str, float]:
    """Per-layer numbers from the spans of the timed passes plus the
    event log of this run."""
    from tracing import fold_event_log

    n_pass = len(res["passes"])
    per_pass = {"plans": 0.0, "sources": 0.0, "streaming": 0.0, "spark": 0.0, "driver": 0.0}
    stream_wall = 0.0
    for row in jobs.values():
        stream_wall += row["wall"] if row["streaming"] else 0.0
        for name, secs in row.items():
            if name not in ("wall", "streaming"):
                per_pass[name.split(".")[0]] += secs / n_pass
    m = {
        "session.get_spark_s": _median_span(tr, "session.get_spark"),
        "sources.stage_s": _median_span(tr, "sources.stage"),
        "bench.warmup_s": _median_span(tr, "bench.warmup"),
        "bench.inputs_s": _median_span(tr, "bench.inputs"),
        "plans.build_s": per_pass["plans"],
        "sources.call_s": per_pass["sources"],
        "streaming.run_available_now_s": per_pass["streaming"],
        "spark.action_s": per_pass["spark"],
        "bench.driver_s": per_pass["driver"],
        "bench.traced_pass_s": statistics.median(res["passes"]),
        "mem.jvm_peak_rss_mb": res["rss_mb"]["jvm"],
        "mem.python_peak_rss_mb": res["rss_mb"]["python_workers"],
    }
    m.update(fold_event_log(os.path.join(WORK, "eventlog"), res["windows"], cores))
    rows = m["streaming.input_rows"]
    m["streaming.events_per_s"] = rows / (stream_wall / n_pass) if stream_wall else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cores = _prepare_env(bool(args.trace))
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    try:
        jobs = _jobs(args.workload)
    except ImportError as e:
        print(f"perfbench: the engine is not importable here: {e}", file=sys.stderr)
        return 2

    from tracing import Tracer

    tr = Tracer()
    res = measure(
        jobs, args.seed, args.seconds, tr,
        stage=any(j.streaming for j in jobs), calibrate=bool(args.trace),
    )
    jobs_run = job_breakdown(tr)
    if args.trace:
        values = layer_metrics(tr, jobs_run, res, cores)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tr.spans, "jobs": jobs_run}, f)
    else:
        values = {
            "setup_s": statistics.median(res["setup_s"]),
            "pass_s": statistics.median(res["passes"]),
        }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    job_s: dict[str, list[float]] = {}
    for jid, row in jobs_run.items():
        job_s.setdefault(jid.split(".", 1)[1], []).append(round(row["wall"], 4))
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": {
            "nproc": os.cpu_count(),
            "local_cores": cores,
            "calibration_probe_s": res.get("calibration_probe_s"),
        },
        "setup_s": [round(v, 4) for v in res["setup_s"]],
        "setup_jvm_pids": res["jvm_pids"],
        "passes_s": [round(v, 4) for v in res["passes"]],
        "job_s": job_s,
        "input_rows": res["input_rows"],
        "ops_failed_frac": res["failed"] / res["attempted"],
        "failures": res["failures"],
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
