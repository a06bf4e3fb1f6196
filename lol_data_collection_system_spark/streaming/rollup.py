"""Streaming continuous-aggregate maintenance — the online half of
`__spark_entry__.q_incremental_hourly_rollup` (the hypertable /
materialized-view refresh pattern).

Reference analog: the monitor's periodically-recomputed per-hour
counters (`monitor/views/ratelimit.py` summaries) rebuild from scratch
on a TTL; the stream-native form folds each micro-batch's PARTIAL
aggregate into the stored rollup, so the view is always fresh and each
refresh costs O(delta + touched groups) — never a base-table scan.

Semantics: every state column is ALGEBRAIC (count→sum, sum→sum,
max→max, min→min), so merging the store with a delta partial is one
re-aggregation of the states — the lossless-merge property the batch
query's hash gate proves against a full recompute.

Exactly-once over at-least-once delivery: `foreachBatch` can re-deliver
a batch after a failure, but always with the SAME `batch_id` and the
same content (checkpointed source offsets). The store manifest records
the last applied batch id; a batch with ``batch_id <= applied`` is a
no-op. Unlike the SCD2 sink (whose merge is a natural fixed point),
re-applying an aggregation delta would double-count — the batch-id
watermark is load-bearing here, which is why the store commit (the
`sources/versioned` pointer protocol — no torn or missing-store
instant, failures raise) happens before the checkpoint commit: a crash
between the two replays a batch the manifest already marks applied.

Batch ids are only meaningful WITHIN one checkpoint lineage — a fresh
checkpoint restarts them at 0, which against an existing store would
silently skip genuinely new data. The manifest therefore also records a
``checkpoint_token`` (the checkpoint dir, threaded by
`hourly_rollup_stream`); a token mismatch raises loudly instead of
guessing. Re-pointing an existing store at a new checkpoint requires an
explicit new store (or deleting the old one) — the refuse-don't-degrade
house rule.

Scale posture: per batch ONE partial aggregate over the micro-batch +
one keyed merge with the store. With ``partition_col`` set (the
default hourly wiring passes the window key) the store is clustered by
that key and a batch costs O(touched partitions), whatever the store
holds: one collect of the delta's distinct partition values (emptiness
and touched set together), a read of the touched partition directories
BY PATH (a read of the version directory would list every stored
partition — past 32 directories Spark lists them with a job of one task
each, so batch cost grew with the store), one exchange that clusters
the merge by the key so each touched partition is written as ONE file,
and `versioned.carry_forward` hardlinks every untouched partition
directory into the new version. Without it each micro-batch re-reads
and rewrites the whole store, O(all groups) once the group space grows
with the data. State never holds raw rows.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.versioned import carry_forward, commit_version, current_version

#: merge rule per state column: how two partials re-aggregate.
MERGE_FNS = {"sum": F.sum, "max": F.max, "min": F.min}


def read_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Open the committed rollup store version (algebraic states). The
    manifest's recorded state schema is applied when present: directory
    partition TYPE INFERENCE is lossy (a string key '0123' would read
    back as INT 123 — r8 review finding), so partitioned stores must
    never round-trip through inference."""
    cur = current_version(store_path)
    if cur is None:
        raise FileNotFoundError(f"no committed rollup store at {store_path}")
    vdir, meta = cur
    schema_json = meta.get("state_schema")
    if schema_json:
        import json as _json

        from pyspark.sql.types import StructType

        return spark.read.schema(
            StructType.fromJson(_json.loads(schema_json))
        ).parquet(vdir)
    return spark.read.parquet(vdir)


def applied_batch_id(store_path: str) -> int | None:
    cur = current_version(store_path)
    if cur is None:
        return None
    return int(cur[1]["applied_batch_id"])


def incremental_rollup_sink(
    store_path: str,
    partial_agg: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    merge_aggs: dict[str, str],
    checkpoint_token: str | None = None,
    override_lineage: bool = False,
    partition_col: str | None = None,
):
    """foreachBatch sink: `partial_agg` turns the raw micro-batch into
    per-key algebraic states; the result merges into the store by
    re-aggregating each state per `merge_aggs` ({col: 'sum'|'max'|'min'}).
    Idempotent under re-delivery via the applied-batch-id watermark;
    `checkpoint_token` pins the store to ONE checkpoint lineage (batch
    ids restart at 0 under a fresh checkpoint — silently skipping or
    double-counting; a token mismatch raises instead). None-vs-set IS a
    mismatch (ADVICE r7: a token-less ad-hoc call could otherwise
    advance the watermark under a foreign lineage, and a tokened stream
    against a token-less store could skip or double-count). A
    deliberate ad-hoc backfill passes ``override_lineage=True``, which
    skips the equality check and PRESERVES the stored token — the
    explicit escape, never the default.

    ``partition_col`` (must be one of `key_cols`, non-null values):
    cluster the store by that key and rewrite ONLY the partitions the
    delta touches. Without it each micro-batch reads + re-aggregates +
    rewrites the WHOLE store — fine while the group space is
    span-bounded, O(all groups) per batch once it grows with the data
    (per-user/day spaces at 100×, the VERDICT r7 #5 ceiling). With it,
    per batch: ONE collect of the delta's distinct partition values and
    their directory strings (bounded — a micro-batch touches few
    hours/days; it is also the emptiness check), a read of just those
    partition directories by path (never a listing of the whole
    version), ONE exchange clustering the merge by ``partition_col``
    across `defaultParallelism` tasks so each touched partition is
    written as one file (a store's first version is written the same
    way), and a new version whose untouched partition directories are
    HARDLINKED from the previous version by `versioned.carry_forward`
    (inode refcounts keep them alive past the old version's cleanup;
    O(file count) metadata ops, zero data copy — the filesystem analog
    of a manifest-based table format reusing unchanged data files). The
    whole-version pointer-swap crash safety is unchanged: the new
    version is complete before the pointer moves."""
    unknown = {k for k in merge_aggs.values()} - set(MERGE_FNS)
    if unknown:
        raise ValueError(f"unknown merge kinds: {sorted(unknown)}")
    if partition_col is not None and partition_col not in key_cols:
        raise ValueError(
            f"partition_col {partition_col!r} must be one of the rollup "
            f"keys {key_cols} — partitions must align with merge groups "
            f"so a pruned rewrite can never split a group across files"
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = current_version(store_path)
        stored_token = None
        prev_dir = cur[0] if cur is not None else None
        if cur is not None:
            meta = cur[1]
            stored_token = meta.get("checkpoint_token")
            if not override_lineage and stored_token != checkpoint_token:
                raise ValueError(
                    f"rollup store at {store_path} belongs to checkpoint "
                    f"{stored_token!r} but this query runs under "
                    f"{checkpoint_token!r}: batch ids are not comparable "
                    f"across checkpoints — start a new store, delete the "
                    f"old one explicitly, or pass override_lineage=True "
                    f"for a deliberate ad-hoc backfill"
                )
            if batch_id <= int(meta["applied_batch_id"]):
                return  # replayed batch: already folded in
            stored_layout = meta.get("partition_col")
            if stored_layout != partition_col:
                raise ValueError(
                    f"rollup store at {store_path} is laid out by "
                    f"{stored_layout!r} but this sink merges by "
                    f"{partition_col!r}: a mismatched pruned rewrite "
                    f"would split or miss groups — recreate the store "
                    f"or match the layout"
                )
        def pin_state_schema(df: DataFrame) -> DataFrame:
            # The algebraic state schema must be a FIXED POINT of the
            # merge: re-aggregating widens decimals (sum(decimal(28,2))
            # -> decimal(38,2)), and under the pruned rewrite a widened
            # partition would sit next to hardlinked unwidened ones —
            # an unreadable mixed-schema version. partial_agg's output
            # types define the store schema, every merge casts back.
            d_types = dict(delta.dtypes)
            return df.select(
                *[
                    F.col(c).cast(d_types[c]).alias(c)
                    if c in merge_aggs
                    else F.col(c)
                    for c in delta.columns
                ]
            )

        # pin the delta (each branch below consumes it 2-3×) and skip
        # empty batches BEFORE committing: a partitioned write of an
        # empty frame emits only _SUCCESS — no schema-bearing file — so
        # an empty FIRST batch would commit a version that wedges every
        # later read with UNABLE_TO_INFER_SCHEMA (r8 review finding,
        # reproduced live). Skipping is idempotent-safe: a replayed
        # empty batch is empty again, and the watermark not advancing
        # for a no-op batch costs nothing (ids are monotonic).
        delta = partial_agg(batch_df).localCheckpoint(eager=True)

        def merge(frames: DataFrame) -> DataFrame:
            return pin_state_schema(
                frames.groupBy(*key_cols).agg(
                    *[
                        MERGE_FNS[kind](c).alias(c)
                        for c, kind in merge_aggs.items()
                    ]
                )
            )

        if partition_col is None:
            if not delta.take(1):
                return
            merged = delta
            if cur is not None:
                merged = merge(spark.read.parquet(cur[0]).unionByName(delta))
        else:
            # ONE bounded collect (a row per touched hour/day, never raw
            # rows) answers both "is the batch empty" and "which
            # partitions does it touch"; the string form is the value
            # Spark's writer renders into the directory name
            touched = (
                delta.select(
                    partition_col, F.col(partition_col).cast("string")
                )
                .distinct()
                .collect()
            )
            if not touched:
                return
            if any(value is None for value, _ in touched):
                raise ValueError(
                    f"partition_col {partition_col!r} carries nulls — "
                    f"null partitions are not addressable for a pruned "
                    f"rewrite; filter or default them in partial_agg"
                )
            frames = delta
            if cur is not None:
                # read the touched directories BY PATH: opening the
                # version directory lists every stored partition (a
                # Spark job of one task per directory past 32 of them),
                # so the batch would cost O(store). Names come from the
                # writer's own escaping ('a:b/c' -> a%3Ab%2Fc). The
                # delta's EXPLICIT schema is load-bearing: directory
                # partition TYPE INFERENCE is lossy — a string value
                # like '0123' infers as INT 123, silently splitting the
                # group (r8 review finding, reproduced live); with a
                # user schema the raw dir value is parsed as the
                # declared type, verbatim for strings.
                path_string = (
                    spark._jvm.org.apache.spark.sql.catalyst.catalog
                    .ExternalCatalogUtils.getPartitionPathString
                )
                dirs = [
                    str(d)
                    for d in (
                        Path(cur[0]) / path_string(partition_col, text)
                        for _, text in touched
                    )
                    if d.is_dir()
                ]
                if dirs:
                    stored = (
                        spark.read.schema(delta.schema)
                        .option("basePath", cur[0])
                        .parquet(*dirs)
                    )
                    frames = stored.select(*delta.columns).unionByName(delta)
            # cluster by the partition key inside the merge's one
            # exchange: the aggregate accepts that distribution (the key
            # is one of its grouping keys) and AQE never coalesces an
            # explicit count, so every touched partition is written by
            # ONE of the parallel tasks — one file per directory
            merged = merge(
                frames.repartition(
                    spark.sparkContext.defaultParallelism, partition_col
                )
            )

        def write(vdir: str) -> None:
            w = merged.write.mode("overwrite")
            if partition_col is not None:
                w = w.partitionBy(partition_col)
            w.parquet(vdir)
            carry_forward(prev_dir, vdir)

        commit_version(
            store_path,
            write,
            {
                "applied_batch_id": int(batch_id),
                # an override (ad-hoc) sink INHERITS the stored lineage
                # token rather than erasing it — otherwise one backfill
                # call would permanently disable the fresh-checkpoint
                # guard (round-7 second-pass review finding). On a
                # store that does not exist yet there is nothing to
                # inherit: record the caller's own token, else an
                # override-created store would lock out its legitimate
                # tokened stream (r8 review finding).
                "checkpoint_token": (
                    stored_token
                    if override_lineage and cur is not None
                    else checkpoint_token
                ),
                "partition_col": partition_col,
                # delta's dtypes ARE the store schema (pin_state_schema
                # fixed point); recorded so reads never rely on lossy
                # partition type inference
                "state_schema": delta.schema.json(),
            },
            # the merge folded THIS `cur` — a concurrent commit in
            # between would be silently buried; raise instead (r8
            # single-writer enforcement)
            expect_current=prev_dir,
        )

    return apply_batch


# ---------------------------------------------------------------------------
# The concrete hourly-events rollup (the batch query's exact states)
# ---------------------------------------------------------------------------
HOURLY_KEYS = ["hour_ms", "event_type"]
HOURLY_MERGE = {
    "n_events": "sum",
    "_sum_value": "sum",
    "_max_value": "max",
    "_first_event": "min",
}


def hourly_partial(events: DataFrame) -> DataFrame:
    """The per-(hour, type) algebraic states (decimal money math) that
    the hourly stream store and `q_incremental_hourly_rollup` merge."""
    val = F.col("value").cast("decimal(18,2)")
    return events.groupBy(
        F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("hour_ms"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(val).alias("_sum_value"),
        F.max(val).alias("_max_value"),
        F.min("event_id").alias("_first_event"),
    )


def finalize_hourly(states: DataFrame) -> DataFrame:
    """State → presentation columns: `q_incremental_hourly_rollup`'s
    output, which its DuckDB oracle hashes."""
    return states.select(
        "hour_ms",
        "event_type",
        "n_events",
        F.col("_sum_value").cast("decimal(18,2)").cast("double").alias(
            "sum_value"
        ),
        F.col("_max_value").cast("double").alias("max_value"),
        F.col("_first_event").alias("first_event"),
    )


def hourly_rollup_stream(
    stream: DataFrame, store_path: str, checkpoint_dir: str
):
    """Wire an events stream into the hourly rollup store; returns the
    StreamingQuery (availableNow)."""
    return (
        stream.writeStream.foreachBatch(
            incremental_rollup_sink(
                store_path, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
                checkpoint_token=checkpoint_dir,
                # hypertable layout: one chunk per hour — each batch
                # rewrites only the hours it touches
                partition_col="hour_ms",
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
