"""Catalyst plan-size estimation helpers.

The MinHash verify-path gate (``dedup.py``), the pre-explode fan-out
(``text.py``) and the partition count of every pinned Python stage
(``pinned_partitions``) pick a physical strategy from the optimizer's
estimated input size. That estimate is only reachable through the
PRIVATE ``df._jdf.queryExecution().optimizedPlan().stats()`` bridge —
there is no public PySpark surface for logical-plan statistics.

Pinned against Spark 4.1 (``QueryExecution.optimizedPlan`` /
``LogicalPlan.stats`` — stable across 3.x/4.x but private). If a
future Spark drops the bridge this helper degrades LOUDLY: one
warning per process naming the conf override, then the caller's
conservative default. Set
``spark.flinkDemoSpark.planStats.overrideBytes`` to force a value
(also the escape hatch when cost-based stats are misleading).
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame

_CONF = "spark.flinkDemoSpark.planStats.overrideBytes"
_warned = False


def estimated_plan_bytes(df: DataFrame, default: int) -> int:
    """Optimizer-estimated size of ``df`` in bytes, or ``default``
    when the private stats bridge is unavailable."""
    override = df.sparkSession.conf.get(_CONF, None)
    if override is not None:
        return int(override)
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception as e:  # private API drift: degrade loudly
        global _warned
        if not _warned:
            _warned = True
            warnings.warn(
                "plan-size estimation via the private "
                "queryExecution().optimizedPlan().stats() bridge failed "
                f"({e!r}); falling back to {default} bytes. Set {_CONF} "
                "to choose the strategy explicitly.",
                RuntimeWarning,
                stacklevel=2,
            )
        return default


_BYTE_UNITS = {
    "": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50,
}


def _byte_string(value: str) -> int:
    """Bytes of a Spark size string such as ``67108864b``, ``64m`` or
    ``1GB`` (binary units, as Spark's ``byteStringAsBytes``)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", value.lower())
    if m is None:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def pinned_partitions(df: DataFrame, cap: int | None = None) -> int:
    """Partition count for the explicit ``repartition(n, keys)`` that
    feeds a CPU-bound Python stage:

        min(shuffle.partitions [, cap],
            max(defaultParallelism, ceil(estimated bytes / advisory size)))

    where the advisory size is
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. Every Python
    task pays a fixed worker start-up cost, so a small input gets one
    task per slot instead of ``spark.sql.shuffle.partitions`` waves of
    them, while an input of at least ``shuffle.partitions`` advisory
    slices keeps the full count. Unknown stats give
    ``shuffle.partitions`` (capped). The count stays explicit
    (``REPARTITION_BY_NUM``) because AQE's byte-size coalescing would
    fold the CPU-bound stage into one task."""
    spark = df.sparkSession
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if cap is not None:
        ceiling = min(ceiling, cap)
    advisory = _byte_string(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    size = estimated_plan_bytes(df, default=ceiling * advisory)
    slots = spark.sparkContext.defaultParallelism
    return min(ceiling, max(slots, -(-size // advisory)))
