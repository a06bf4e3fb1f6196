"""SparkSession factory.

The reference has no execution engine of its own (single-threaded Python +
PostgreSQL); here every knob is chosen for a Catalyst/Tungsten engine that
must scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (vectorized pandas UDF exchange), shuffle partitions
sized to the machine rather than the 200 default.

At cluster scale the same builder is used — only ``master`` and the shuffle
partition count change (rule of thumb: 2-3x total executor cores, or rely on
AQE coalescing from a higher initial number).
"""

from __future__ import annotations

import os
from collections import Counter
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def default_parallelism() -> int:
    """Target parallelism: env override, else machine cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "lol-dcs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Defaults are local-mode for tests/bench; on a real cluster pass
    ``master=None`` with spark-submit providing the master and let
    ``shuffle_partitions`` scale with the executor count.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cores}]")
        # Runtime re-planning: coalesce tiny shuffle partitions, split skewed
        # ones, convert sort-merge joins to broadcast when a side turns out
        # small. Essential at 100 TB where static planning guesses wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width: sized to the machine locally; AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims (region/nation/part/...) are tiny → broadcast aggressively.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Session-local timezone pinned so epoch<->timestamp conversions are
        # stable against the DuckDB oracle (naive timestamps).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# ---------------------------------------------------------------------------
# Session-frame registry: the one owner of state reused across query calls
# ---------------------------------------------------------------------------
#: (applicationId, key) -> value built by `shared` for that session.
_registry: dict[tuple[str, Hashable], Any] = {}
#: per key: how often `shared` built the value / served it from the
#: registry, summed over sessions (never reset — read them as deltas).
builds: Counter = Counter()
hits: Counter = Counter()


def _frames(value: Any) -> list[DataFrame]:
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame)]


def shared(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value stored for ``key`` in this session; on a miss, call
    ``build()``, persist every DataFrame in its result (a frame or a
    tuple of frames), and store it until `reset`.

    For inputs several queries consume within a session (the kill
    events, the shingle frame): returning the same handles lets Spark's
    cache serve every consumer from one materialization. Artifacts
    reused across sessions belong in `sources.materialize_summary`."""
    slot = (spark.sparkContext.applicationId, key)
    if slot in _registry:
        hits[key] += 1
        return _registry[slot]
    value = build()
    for df in _frames(value):
        if not df.is_cached:
            df.persist()
    _registry[slot] = value
    builds[key] += 1
    return value


def reset(spark: SparkSession) -> None:
    """Unpersist every frame the registry holds for this session and
    forget them; the next `shared` call for any key rebuilds."""
    app = spark.sparkContext.applicationId
    for slot in [s for s in _registry if s[0] == app]:
        for df in _frames(_registry.pop(slot)):
            df.unpersist()
