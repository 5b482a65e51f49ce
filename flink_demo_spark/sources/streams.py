"""Streaming sources (SURVEY.md §2.1).

- ``events_stream``: file-replay of the pre-stamped events table —
  the Spark analogue of the reference's deterministic ``TestSource``
  (``official-tutorial/.../base/TestSource.java:122-147``), which
  replays elements with explicit event times. Event time comes from
  the data; watermark via ``withWatermark``.
- ``rate_stream``: synthetic generator (reference
  ``TaxiRideGenerator.java:37-64``, ``ClickEventGenerator.java:50-56``)
  mapped deterministically from the rate source's (timestamp, value).
- ``socket_stream`` / ``kafka_stream``: thin wrappers over the
  built-in connectors (reference Source.scala:99-155).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import apply_runtime_confs

def _events_raw_schema(staged_dir: str) -> StructType:
    """Events read schema, matching the parquet physical encoding of
    ``ts``: int64 under nanosAsLong when the file is TIMESTAMP(NANOS),
    TIMESTAMP_NTZ when it is µs-precision without UTC adjustment.

    Sniffs the FIRST parquet file in the staged stream directory (the
    same files the reader consumes — sniffing the origin dir could
    diverge if staging ever rewrites files). Any other ``ts`` encoding
    (tz-adjusted, second/milli precision, non-timestamp) raises
    immediately rather than silently declaring NTZ and failing deep in
    the streaming query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(
        f for f in os.listdir(staged_dir) if f.endswith(".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no parquet files staged in {staged_dir}")
    t = pq.read_schema(os.path.join(staged_dir, files[0])).field("ts").type
    if not pa.types.is_timestamp(t):
        raise TypeError(
            f"events.ts must be a parquet timestamp column, got {t!r}"
        )
    if t.unit == "ns":
        ts_type: object = LongType()  # read raw int64 under nanosAsLong
    elif t.unit == "us" and t.tz is None:
        from pyspark.sql.types import TimestampNTZType

        ts_type = TimestampNTZType()
    else:
        raise TypeError(
            "unsupported events.ts encoding: "
            f"unit={t.unit!r} tz={t.tz!r} (expected ns, or us without "
            "UTC adjustment)"
        )
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def _ensure_symlink(target: str, link: str) -> None:
    """Create/refresh ``link -> target``. ``os.path.exists`` FOLLOWS
    links, so a dangling link (source deleted/regenerated) reads as
    missing while ``os.symlink`` still raises FileExistsError — the
    round-12 ADVICE failure mode where a stale link survived silently.
    Check ``lexists`` first and replace a link that no longer resolves
    (or points elsewhere); on a creation race, verify the winner
    resolves instead of swallowing unconditionally."""
    if os.path.lexists(link):
        if os.path.exists(link) and os.path.realpath(link) == os.path.realpath(
            target
        ):
            return
        os.remove(link)  # dangling or retargeted — rebuild
    try:
        os.symlink(target, link)
    except FileExistsError:
        if not os.path.exists(link):  # racing winner left a broken link
            raise RuntimeError(
                f"staged stream symlink {link!r} does not resolve; "
                f"expected it to point at {target!r}"
            ) from None


def _stage_stream_dir(sf_dir: str, table: str) -> str:
    """Spark's file stream source requires a directory; stage a /tmp
    dir holding a symlink to the single parquet file."""
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), "flink_demo_spark_stream", key, table)
    os.makedirs(d, exist_ok=True)
    _ensure_symlink(
        os.path.join(sf_dir, f"{table}.parquet"),
        os.path.join(d, f"{table}.parquet"),
    )
    return d


def _staged_bytes(staged_dir: str) -> int:
    """Total size of the ``*.parquet`` files in ``staged_dir``: one
    decision per replay, whatever the file split."""
    return sum(
        os.path.getsize(os.path.join(staged_dir, f))
        for f in os.listdir(staged_dir)
        if f.endswith(".parquet")
    )


def staged_input_bytes(sdf: DataFrame) -> int | None:
    """Input size of a streaming plan: :func:`_staged_bytes` summed over
    the distinct directories its parquet file stream sources read.
    Batch leaves are skipped; any other streaming leaf (rate, socket,
    the kafka stand-in, a non-parquet or non-local file source) has no
    known size, which makes the total ``None``."""
    paths: set[str] = set()
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if not leaf.isStreaming():
            continue
        if leaf.nodeName() != "StreamingRelation":
            return None
        source = leaf.dataSource()
        path = source.options().get("path")
        if (
            source.className() != "parquet"
            or not path.isDefined()
            or not os.path.isdir(path.get())
        ):
            return None
        paths.add(path.get())
    return sum(_staged_bytes(p) for p in paths)


def eof_pad_hours(gap_ms: int, watermark_ms: int = 600_000) -> int:
    """Sentinel pad (hours) guaranteed to clear an evicting operator's
    flush horizon. The EOF row only flushes open state if it drags the
    final watermark past ``last_event + gap``, which needs
    ``pad > gap + watermark delay`` — with a fixed pad the relation is
    implicit, and raising the gap past ``pad - watermark`` would
    silently drop every key's final session instead of failing
    (round-12 ADVICE). Callers composing an EOF source with an
    evicting operator should derive the pad from the SAME gap constant
    they pass the operator."""
    import math

    return int(math.ceil((gap_ms + watermark_ms) / 3_600_000.0)) + 1


SCAN_GUARD_THRESHOLD_BYTES = 8 << 20  # 8 MiB, see _scan_guard


def _scan_guard(
    df: DataFrame,
    staged_dir: str,
    spark: SparkSession,
    threshold_bytes: int = SCAN_GUARD_THRESHOLD_BYTES,
) -> DataFrame:
    """Single-row-group scan guard (round 12): the staged replay is
    ONE parquet file written as ONE row group, and Spark cannot split
    a scan below a row group — so every per-row stage before the first
    shuffle runs on a single core no matter the cluster size. When the
    staged bytes exceed the threshold, repartition the raw feed to the
    shuffle partition count (one projected-row exchange buys full-width
    execution of the per-row compute). Below it the exchange's fixed
    cost exceeds the win — measured crossover: −18% at a 2.6 MB events
    file, +115% at 16.4 MB, +610% on a 158 MB sf10 document corpus
    (SCALING.md round 12). Gate-scale files (sf0.01) stay under the
    threshold, so oracle plans there are unchanged; both sides of a
    scale decade sit above it, so exponent methodology stays uniform.

    The threshold compares :func:`_staged_bytes` (the whole staged
    dir, re-listed per call) at plan-build time, so a multi-file
    staging gets one decision for the sum.

    REPLAY-ONLY assumption (round-12 ADVICE): the exchange is a
    round-robin ``repartition(n)``, which is NOT deterministic across
    task retries — fine for the bounded availableNow replays these
    sources feed (any retry reruns the whole batch), but a generic
    always-on pipeline writing through a transactional/2PC sink should
    repartition by a stable key column instead to keep exactly-once
    under partial retry."""
    if _staged_bytes(staged_dir) <= threshold_bytes:
        return df
    return df.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )


def events_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "10 minutes",
    max_files_per_trigger: int | None = None,
    scan_guard: bool = False,
) -> DataFrame:
    """Replay the events table as a stream with its event-time column.
    ``scan_guard=True`` applies :func:`_scan_guard` for consumers whose
    pre-shuffle per-row work is the expensive stage."""
    from ..catalog import normalize_events_ts

    apply_runtime_confs(spark)
    staged = _stage_stream_dir(sf_dir, "events")
    reader = spark.readStream.schema(_events_raw_schema(staged))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = normalize_events_ts(reader.parquet(staged))
    if watermark:
        df = df.withWatermark("ts", watermark)
    if scan_guard:
        df = _scan_guard(df, staged, spark)
    return df


def events_stream_with_eof(
    spark: SparkSession,
    sf_dir: str,
    watermark: str | None = "10 minutes",
    pad_hours: int = 3,
) -> DataFrame:
    """events_stream plus ONE sentinel row (user_id = -1) stamped
    ``pad_hours`` past the real max event time. The sentinel drags the
    final watermark beyond every real session's gap horizon, so
    evicting stateful operators (``session_durations_evicting``) can
    flush their open state via event-time timeout before the
    availableNow replay stops — the bounded-replay analogue of Flink's
    end-of-input MAX_WATERMARK. Consumers filter ``user_id >= 0``.

    The sentinel file is staged next to the events symlink with the
    SAME physical parquet schema (incl. the ns timestamp encoding),
    so the stream reader's sniffed schema reads both files.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ..catalog import normalize_events_ts

    apply_runtime_confs(spark)
    src = _stage_stream_dir(sf_dir, "events")
    d = src.rstrip("/") + "_eof"
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    real = os.path.join(sf_dir, "events.parquet")
    _ensure_symlink(real, link)
    sentinel = os.path.join(d, "zz_eof.parquet")
    # the /tmp cache outlives the source file: if events.parquet was
    # regenerated (later max ts) a stale sentinel would no longer drag
    # the watermark past the gap horizon and open sessions would never
    # flush - rebuild whenever the source is newer (round-11 ADVICE)
    if os.path.exists(sentinel) and (
        os.stat(real).st_mtime_ns >= os.stat(sentinel).st_mtime_ns
    ):
        os.remove(sentinel)
    if not os.path.exists(sentinel):
        schema = pq.read_schema(link)
        max_ts = pa.compute.max(
            pq.read_table(link, columns=["ts"]).column("ts")
        ).as_py()
        import datetime

        eof_ts = max_ts + datetime.timedelta(hours=pad_hours)
        cols = {
            "event_id": [-1],
            "ts": [eof_ts],
            "user_id": [-1],
            "event_type": ["eof"],
            "value": [0.0],
            "props": ["{}"],
        }
        row = pa.table(
            {f.name: pa.array(cols[f.name], type=f.type) for f in schema},
            schema=schema,
        )
        tmp = sentinel + ".tmp"
        pq.write_table(row, tmp)
        os.replace(tmp, sentinel)  # atomic: concurrent stagers race safely
    reader = spark.readStream.schema(_events_raw_schema(d))
    df = normalize_events_ts(reader.parquet(d))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def events_stream_with_eof_split(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 3,
    watermark: str | None = "10 minutes",
    pad_hours: int = 3,
) -> DataFrame:
    """``events_stream_with_eof`` replayed as ``n_chunks`` TIME-ORDERED
    files with ``maxFilesPerTrigger=1`` — a genuinely multi-micro-batch
    replay (n_chunks data batches + the sentinel batch + the final
    timeout batch) instead of the single-batch contract. Because the
    chunks are globally (ts, event_id)-sorted, every key's history
    arrives in event-time order ACROSS batches and no event is ever
    late (each chunk's min ts exceeds the previous chunk's
    watermark), so evicting stateful operators must carry open state
    over trigger boundaries — the exact path the round-12 real-horizon
    timeout fix guards, now exercised by a registered query on every
    driver run rather than only by a golden test.

    Chunks are staged once per (sf_dir, n_chunks, source-mtime) under
    /tmp: the source mtime is part of the DIRECTORY name, so a
    regenerated source builds into a FRESH dir instead of deleting
    files a concurrent session may be mid-replay on (round-12 ADVICE —
    the old delete-then-rewrite path could expose a half-built dir).
    Racing builders of the same version write byte-identical files
    with deterministic mtimes via pid-suffixed tmp + atomic
    ``os.replace``; a ``_done`` marker written last makes the staging
    crash-safe. Stale version dirs linger in /tmp (cheap, bounded by
    datagen runs)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..catalog import normalize_events_ts

    apply_runtime_confs(spark)
    src = _stage_stream_dir(sf_dir, "events")
    real = os.path.join(sf_dir, "events.parquet")
    src_mtime = os.stat(real).st_mtime_ns
    d = src.rstrip("/") + f"_eof_split{n_chunks}_v{src_mtime}"
    os.makedirs(d, exist_ok=True)
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        t = pq.read_table(real)
        order = pc.sort_indices(
            t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
        )
        t = t.take(order)
        n = t.num_rows
        # deterministic mtimes (replay order for the file stream
        # source): derived from the source mtime, not wall clock, so
        # concurrent builders of the same version agree exactly
        base = src_mtime / 1e9
        tmp_sfx = f".tmp{os.getpid()}"
        cuts = [n * i // n_chunks for i in range(n_chunks + 1)]
        for i in range(n_chunks):
            p = os.path.join(d, f"chunk{i:02d}.parquet")
            pq.write_table(t.slice(cuts[i], cuts[i + 1] - cuts[i]), p + tmp_sfx)
            mt = base + 10 * (i + 1)
            os.utime(p + tmp_sfx, (mt, mt))
            os.replace(p + tmp_sfx, p)
        # sentinel last (newest mtime): drags the final watermark past
        # every gap horizon, same construction as events_stream_with_eof
        max_ts = pc.max(t.column("ts")).as_py()
        import datetime

        import pyarrow as pa

        schema = t.schema
        eof_ts = max_ts + datetime.timedelta(hours=pad_hours)
        cols = {
            "event_id": [-1],
            "ts": [eof_ts],
            "user_id": [-1],
            "event_type": ["eof"],
            "value": [0.0],
            "props": ["{}"],
        }
        sentinel = os.path.join(d, "zz_eof.parquet")
        pq.write_table(
            pa.table(
                {f.name: pa.array(cols[f.name], type=f.type) for f in schema},
                schema=schema,
            ),
            sentinel + tmp_sfx,
        )
        mt = base + 10 * (n_chunks + 2)
        os.utime(sentinel + tmp_sfx, (mt, mt))
        os.replace(sentinel + tmp_sfx, sentinel)
        with open(done, "w") as f:
            f.write("ok\n")
    reader = spark.readStream.schema(_events_raw_schema(d)).option(
        "maxFilesPerTrigger", 1
    )
    df = normalize_events_ts(reader.parquet(d))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df


def documents_stream(
    spark: SparkSession, sf_dir: str, scan_guard: bool = False
) -> DataFrame:
    """Replay the documents table as a stream (no event-time column —
    corpus pipelines consume document feeds in arrival order).
    ``scan_guard=True`` applies :func:`_scan_guard` for consumers whose
    pre-shuffle per-row work (signatures, chunking) dominates."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    apply_runtime_confs(spark)
    staged = _stage_stream_dir(sf_dir, "documents")
    df = spark.readStream.schema(schema).parquet(staged)
    if scan_guard:
        # documents carry HEAVY per-row work (shingling, hashing,
        # chunking) — the exchange pays at every measured size
        # (6.6 -> 3.3 s even on the 1.6 MB sf0.1 file), so the guard
        # is unconditional here; cheap-row sources (events) keep the
        # byte threshold
        df = _scan_guard(df, staged, spark, threshold_bytes=0)
    return df


def embeddings_stream(
    spark: SparkSession, sf_dir: str, scan_guard: bool = False
) -> DataFrame:
    """Replay the embeddings table as a stream — the query-vector feed
    of an online vector-search service (no event-time column; ANN
    serving is arrival-order). ``scan_guard=True`` applies
    :func:`_scan_guard` unconditionally, like documents: per-row
    vector math dominates bytes (2.2x measured at a 3.6 MB sf1 file
    on the IVF assignment serve)."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    apply_runtime_confs(spark)
    staged = _stage_stream_dir(sf_dir, "embeddings")
    df = spark.readStream.schema(schema).parquet(staged)
    if scan_guard:
        df = _scan_guard(df, staged, spark, threshold_bytes=0)
    return df


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Built-in rate source: (timestamp, value) rows."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def click_stream(
    spark: SparkSession,
    pages: tuple[str, ...] = ("/help", "/index", "/shop", "/jobs", "/about", "/news"),
    rows_per_second: int = 1000,
) -> DataFrame:
    """Deterministic click generator: round-robin pages over the rate
    source — reproduces the reference's invariant that every page gets
    the same number of events per time window
    (ClickEventGenerator.java:43-56)."""
    pages_arr = F.array(*[F.lit(p) for p in pages])
    return rate_stream(spark, rows_per_second).select(
        F.col("timestamp").alias("ts"),
        F.element_at(pages_arr, (F.col("value") % len(pages)).cast("int") + 1).alias(
            "page"
        ),
    )


def socket_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    return (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )


# Kafka surface lives in sources/kafka.py (option builders, wire
# codec, file-backed stand-in, lazy connector wrappers)
from .kafka import kafka_stream  # noqa: E402, F401
