"""Run a streaming DataFrame to completion and collect the result.

Spark analogue of the reference's collecting ``TestSink``
(``official-tutorial/src/test/java/.../base/TestSink.java:156-165``):
memory sink + ``availableNow`` trigger processes all currently
available input and stops — the bounded-replay execution the
reference gets from ``RuntimeExecutionMode.BATCH``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

# Largest input whose ephemeral checkpoint goes to RAM-backed /dev/shm.
SCRATCH_MAX_BYTES = 1 << 30

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FILESYSTEM_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    timeout_sec: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DF to a memory sink; return the result
    table. ``checkpoint_dir`` persists state/offsets — required when
    the state will be read back via streaming/state_query.py.

    The replay is sized from its own plan before it starts, because
    Structured Streaming freezes the state-partition count at the first
    micro-batch and AQE cannot coalesce it. With the input size from
    ``sources.streams.staged_input_bytes``:

    - a known size clamps ``spark.sql.shuffle.partitions`` to
      ``min(session, max(8, ceil(bytes / divisor)))``, with 8 MiB per
      partition for JVM-only plans and 256 KiB for plans with a Python
      stage (measurements in OPTIMIZATION_r13.md); the clamp never
      raises the session count and is undone when the replay ends;
    - an unknown size (``None``: a non-file or non-parquet source)
      counts as large: the session count is kept, and the checkpoint
      goes to Spark's disk default instead of ``/dev/shm``.

    Checkpoint policy: a checkpoint the runner creates itself (a local
    ``mkdtemp`` dir under ``/dev/shm`` or ``SPARK_GRAFT_STREAM_SCRATCH``,
    deleted when the replay ends and never restarted from) is written
    through Hadoop's ``FileSystem`` API
    (``FileSystemBasedCheckpointFileManager``). It writes the same files
    as Spark's default ``FileContext`` manager without most of that
    path's per-file process forks on a host without native libhadoop
    (SCALING.md). A durable
    ``checkpoint_dir`` and the unknown-size disk default keep Spark's
    default manager: its atomic rename is what makes a restart safe on
    HDFS and object stores, and the disk default may follow a
    session-level ``checkpointLocation``.

    Both the clamp and the manager are replay-scoped session conf
    overrides, set before ``start()`` and undone when the replay ends
    (the executors read the manager from each batch's Hadoop conf), so
    replays in one session must run one at a time."""
    from ..sources.streams import staged_input_bytes

    if timeout_sec is None:
        # off-gate scale probes raise it instead of patching call sites
        timeout_sec = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT_SEC", "300"))
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark: SparkSession = sdf.sparkSession
    staged_bytes = staged_input_bytes(sdf)
    overrides: dict[str, str] = {}  # replay-scoped session conf
    restore: dict[str, str | None] = {}
    q = None
    try:
        if staged_bytes is not None:
            try:
                cur = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
            except ValueError:
                cur = None  # non-integer (e.g. vendor "auto"): leave alone
            if cur is not None:
                plan = sdf._jdf.queryExecution().analyzed().toString()
                # Node-name match: "InPandas" covers
                # FlatMapGroupsInPandasWithState / MapInPandas /
                # FlatMapGroupsInPandas, "InArrow" the mapInArrow twins,
                # "PythonUDF"/"EvalPython" scalar/pandas UDF expressions.
                # A false positive only ramps parallelism faster.
                divisor = (
                    (256 << 10)
                    if any(
                        t in plan
                        for t in ("InPandas", "InArrow", "PythonUDF", "EvalPython")
                    )
                    else (8 << 20)
                )
                target = min(cur, max(8, -(-staged_bytes // divisor)))
                if target != cur:
                    overrides["spark.sql.shuffle.partitions"] = str(target)
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )
        # Nothing restarts from a replay's own checkpoint, so it goes to
        # RAM-backed scratch when that fits (OPTIMIZATION_r13.md, r14.md);
        # an explicit SPARK_GRAFT_STREAM_SCRATCH root is always honored.
        scratch_root = None
        if checkpoint_dir is not None:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        else:
            root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
            if (
                root is None
                and os.path.isdir("/dev/shm")
                and staged_bytes is not None
                and staged_bytes <= SCRATCH_MAX_BYTES
            ):
                root = "/dev/shm"
            if root:
                scratch_root = tempfile.mkdtemp(prefix="fds_ck_", dir=root)
                writer = writer.option("checkpointLocation", scratch_root)
                overrides[CHECKPOINT_MANAGER_CONF] = FILESYSTEM_CHECKPOINT_MANAGER
        for key, value in overrides.items():
            restore[key] = spark.conf.get(key, None)
            spark.conf.set(key, value)
        try:
            q = writer.start()
            finished = q.awaitTermination(timeout_sec)
            if not finished:
                raise TimeoutError(
                    f"streaming query {name!r} did not finish within "
                    f"{timeout_sec}s; memory table would be truncated"
                )
        finally:
            if q is not None and q.isActive:
                q.stop()
            if scratch_root is not None:
                shutil.rmtree(scratch_root, ignore_errors=True)
    finally:
        # outside the start/await block: a start-time AnalysisException
        # must not leave the session overridden
        for key, prev in restore.items():
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
    return spark.table(name)
