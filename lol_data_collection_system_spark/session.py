"""SparkSession factory, the session-frame registry, and the query runner.

The reference has no execution engine of its own (single-threaded Python +
PostgreSQL); here every knob is chosen for a Catalyst/Tungsten engine that
must scale: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), Arrow on (vectorized pandas UDF exchange), shuffle partitions
sized to the machine rather than the 200 default.

At cluster scale the same builder is used — only ``master`` and the shuffle
partition count change (rule of thumb: 2-3x total executor cores, or rely on
AQE coalescing from a higher initial number).

`shared`/`reset` own the frames queries reuse within a session;
`run_query` runs one query, records it and releases its own caches.
"""

from __future__ import annotations

import os
import time
from collections import Counter
from collections.abc import Callable, Hashable, Iterable
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
#: (applicationId, key) -> (value built by `shared`, ids of the RDDs
#: persisted or checkpointed while it was built).
_registry: dict[tuple[str, Hashable], tuple[Any, frozenset[int]]] = {}
#: per key: how often `shared` built the value / served it from the
#: registry, summed over sessions (never reset — read them as deltas).
builds: Counter = Counter()
hits: Counter = Counter()


def _frames(value: Any) -> list[DataFrame]:
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame)]


def _persisted(spark: SparkSession) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


def _release(spark: SparkSession, ids: Iterable[int]) -> None:
    """Unpersist the RDDs ``ids``. A DataFrame cache among them also
    leaves Spark's cache manager: an entry whose blocks are gone would
    otherwise serve a later `persist()` of the same plan, which then
    recomputes on every read. Spark lists the entries only in the
    manager's private ``cachedData`` field, read through reflection."""
    ids = set(ids)
    if not ids:
        return
    jspark = spark._jsparkSession
    cache = jspark.sharedState().cacheManager()
    field = cache.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cache)
    for i in range(entries.size()):
        entry = entries.apply(i)
        builder = entry.cachedRepresentation().cacheBuilder()
        if (
            builder.isCachedColumnBuffersLoaded()
            and builder.cachedColumnBuffers().id() in ids
        ):
            cache.uncacheQuery(jspark, entry.plan(), False, False)
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = rdds.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def shared(spark: SparkSession, key: Hashable, build: Callable[[], Any]) -> Any:
    """The value stored for ``key`` in this session; on a miss, call
    ``build()``, persist every DataFrame in its result (a frame or a
    tuple of frames), and store it until `reset`.

    The RDDs ``build()`` persists or checkpoints (an iterative
    operator's rounds) belong to the key: a checkpoint's blocks cannot
    be recomputed.

    For inputs several queries consume within a session (the kill
    events, the shingle frame): returning the same handles lets Spark's
    cache serve every consumer from one materialization. Artifacts
    reused across sessions belong in `sources.cache.refresh_stored`
    (parquet summaries through `materialize_summary`)."""
    slot = (spark.sparkContext.applicationId, key)
    if slot in _registry:
        hits[key] += 1
        return _registry[slot][0]
    before = _persisted(spark)
    value = build()
    for df in _frames(value):
        if not df.is_cached:
            df.persist()
    _registry[slot] = (value, frozenset(_persisted(spark) - before))
    builds[key] += 1
    return value


def owned_rdds(spark: SparkSession) -> set[int]:
    """Ids of the RDDs the registry owns in this session: those its
    builds persisted or checkpointed, and the cache of each stored frame
    once that cache is loaded (it may first load in any query's sink)."""
    app = spark.sparkContext.applicationId
    cache = spark._jsparkSession.sharedState().cacheManager()
    ids: set[int] = set()
    for (slot_app, _), (value, built) in _registry.items():
        if slot_app != app:
            continue
        ids |= built
        for df in _frames(value):
            cached = cache.lookupCachedData(df._jdf)
            if cached.isDefined():
                builder = cached.get().cachedRepresentation().cacheBuilder()
                if builder.isCachedColumnBuffersLoaded():
                    ids.add(builder.cachedColumnBuffers().id())
    return ids


def reset(spark: SparkSession) -> None:
    """Unpersist every frame the registry holds for this session, and
    every RDD its builds persisted, and forget them; the next `shared`
    call for any key rebuilds."""
    app = spark.sparkContext.applicationId
    for slot in [s for s in _registry if s[0] == app]:
        value, built = _registry.pop(slot)
        for df in _frames(value):
            df.unpersist()
        _release(spark, built)


# ---------------------------------------------------------------------------
# Query runner: the one way to run a registered query
# ---------------------------------------------------------------------------
def run_query(
    spark: SparkSession,
    name: str,
    query: Callable[[SparkSession, str], DataFrame],
    sf_dir: str,
    sink: str = "noop",
) -> tuple[dict[str, Any], Any]:
    """Build ``query(spark, sf_dir)`` under job group ``name|build``, run
    it into ``sink`` (``"noop"``, result None, or ``"pandas"``) under
    ``name|exec``; return ``(record, result)``. The record holds the
    timed ``build_s``/``exec_s``, ``catalyst`` phase seconds (read
    between the spans), ``jobs`` per tag, the registry keys ``shared``
    built and hit, and the RDD ids ``released``: after the sink (or a
    failure), every RDD persisted or checkpointed during the call that
    the registry does not own is unpersisted, and a DataFrame cache
    among them leaves Spark's cache manager."""
    if sink not in ("noop", "pandas"):
        raise ValueError(f"unknown sink {sink!r}")
    sc = spark.sparkContext
    groups = {tag: f"{name}|{tag}" for tag in ("build", "exec")}
    old_jobs = {
        t: set(sc.statusTracker().getJobIdsForGroup(g)) for t, g in groups.items()
    }
    builds0, hits0 = builds.copy(), hits.copy()
    before = _persisted(spark)
    try:
        sc.setJobGroup(groups["build"], name)
        t0 = time.perf_counter()
        df = query(spark, sf_dir)
        build_s = time.perf_counter() - t0
        qe = df._jdf.queryExecution()
        qe.executedPlan()  # plans (does not run) the query
        phases = qe.tracker().phases()
        catalyst = {
            p: phases.get(p).get().durationMs() / 1000.0
            if phases.get(p).isDefined() else 0.0
            for p in ("analysis", "optimization", "planning")
        }
        sc.setJobGroup(groups["exec"], name)
        t0 = time.perf_counter()
        result = None
        if sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            result = df.toPandas()
        exec_s = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        released = _persisted(spark) - before - owned_rdds(spark)
        _release(spark, released)
    return {
        "name": name,
        "sink": sink,
        "build_s": build_s,
        "exec_s": exec_s,
        "catalyst": catalyst,
        "jobs": {
            t: sorted(set(sc.statusTracker().getJobIdsForGroup(g)) - old_jobs[t])
            for t, g in groups.items()
        },
        "shared": {
            "built": [k for k in builds if builds[k] > builds0[k]],
            "hit": [k for k in hits if hits[k] > hits0[k]],
        },
        "released": sorted(released),
    }, result
