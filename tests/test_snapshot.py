"""S13 database snapshot/export: manifest-last commit, TTL re-dump gate,
size/status check, and stale-refusing load (the reference's threaded
pg_dump + download endpoints, `monitor/views/snapshot.py:38-80`)."""

from __future__ import annotations

import json

import pytest

from lol_data_collection_system_spark.sources import (
    create_snapshot,
    load_snapshot,
    snapshot_status,
)


def _tables(spark):
    return {
        "dim": spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]),
        "fact": spark.range(10).withColumnRenamed("id", "n"),
    }


def test_snapshot_roundtrip_and_freshness_gate(spark, tmp_path):
    path = str(tmp_path / "snap")
    out = create_snapshot(spark, _tables(spark), path)
    assert out["status"] == "created"
    assert out["tables"] == {"dim": 2, "fact": 10}

    # fresh → "exists", no re-dump (reference 201 path)
    assert create_snapshot(spark, _tables(spark), path)["status"] == "exists"

    st = snapshot_status(path)
    assert st["exists"] and st["fresh"] and st["bytes"] > 0
    assert st["tables"] == {"dim": 2, "fact": 10}

    loaded = load_snapshot(spark, path)
    assert sorted(map(tuple, loaded["dim"].collect())) == [(1, "a"), (2, "b")]
    assert loaded["fact"].count() == 10

    # expired gate → a new dump replaces the old
    assert create_snapshot(spark, _tables(spark), path, ttl_s=0.0)[
        "status"
    ] == "created"


def test_snapshot_refuses_missing_and_stale(spark, tmp_path):
    path = str(tmp_path / "nosnap")
    with pytest.raises(FileNotFoundError):
        load_snapshot(spark, path)
    assert snapshot_status(path) == {
        "exists": False,
        "fresh": False,
        "bytes": 0,
        "tables": {},
    }

    create_snapshot(spark, _tables(spark), path)
    with pytest.raises(ValueError):
        load_snapshot(spark, path, ttl_s=0.0)


def test_snapshot_half_written_is_invisible(spark, tmp_path):
    """The manifest is the commit marker: table files without a manifest
    read as 'missing', never as torn data."""
    root = tmp_path / "torn"
    _tables(spark)["dim"].write.parquet(str(root / "dim"))
    assert not snapshot_status(str(root))["exists"]
    with pytest.raises(FileNotFoundError):
        load_snapshot(spark, str(root))


def test_snapshot_nonblocking_thread(spark, tmp_path):
    path = str(tmp_path / "async_snap")
    out = create_snapshot(spark, _tables(spark), path, blocking=False)
    assert out["status"] == "dumping"
    out["thread"].join(timeout=120)
    assert not out["thread"].is_alive()
    st = snapshot_status(path)
    assert st["exists"] and st["tables"] == {"dim": 2, "fact": 10}


def test_snapshot_manifest_shape(spark, tmp_path):
    path = tmp_path / "mshape"
    create_snapshot(spark, _tables(spark), str(path))
    manifest = json.loads((path / "_MANIFEST.json").read_text())
    assert set(manifest) == {"created_at", "tables"}


def test_scd2_apply_classifies_every_transition(spark):
    """One merge covers all four cases: unchanged pass-through, value
    change (close + reopen), key vanish (close only), new key (open
    only); already-closed rows pass untouched; NULL->value counts as a
    change (eqNullSafe struct compare)."""
    from lol_data_collection_system_spark.sources.snapshot import (
        scd2_apply,
        scd2_init,
    )

    snap1 = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)],
        "k bigint, v double",
    )
    hist0 = scd2_init(snap1, ["k"], ["v"], 100)
    snap2 = spark.createDataFrame(
        [(1, 10.0), (2, 25.0), (3, 30.0), (5, 50.0)],
        "k bigint, v double",
    )
    hist1 = scd2_apply(hist0, snap2, ["k"], ["v"], 200)
    rows = {(r.k, r.valid_from_ms, r.valid_to_ms): r.v for r in hist1.collect()}
    assert rows[(1, 100, None)] == 10.0          # unchanged
    assert rows[(2, 100, 200)] == 20.0           # closed old version
    assert rows[(2, 200, None)] == 25.0          # reopened new version
    assert rows[(3, 100, 200)] is None           # NULL->30 is a change
    assert rows[(3, 200, None)] == 30.0
    assert rows[(4, 100, 200)] == 40.0           # vanished: closed only
    assert rows[(5, 200, None)] == 50.0          # new key
    assert len(rows) == 7

    # a second application with an identical snapshot is a no-op on the
    # open slice and never touches closed rows
    hist2 = scd2_apply(hist1, snap2, ["k"], ["v"], 300)
    assert sorted(
        (r.k, r.valid_from_ms, r.valid_to_ms) for r in hist2.collect()
    ) == sorted((r.k, r.valid_from_ms, r.valid_to_ms) for r in hist1.collect())


def test_scd2_stream_equals_batch_and_replays_are_noops(spark, tmp_path):
    """Streaming SCD2 apply (T3/T6): a two-version snapshot stream folded
    through foreachBatch must reproduce the driver-oracle-gated batch
    derivation (`customer_scd2_history`) row for row, and replays — a
    re-delivered old batch AND a full fresh-checkpoint re-run over the
    same files — must be no-ops on the committed store."""
    import os as _os
    import time as _time
    from pathlib import Path as _Path

    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.sources import load_table
    from lol_data_collection_system_spark.streaming.scd2 import (
        applied_watermark,
        read_scd2_history,
        scd2_apply_stream,
        scd2_sink,
    )

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    t0, t1 = 1_000, 2_000  # the entry module's SCD2_T0/T1
    keys, tracked = ["c_custkey"], ["c_acctbal", "c_mktsegment"]

    # the SAME snapshot derivation as q_customer_scd2_history
    cust = load_table(spark, sf_dir, "customer")
    snap1 = cust.select(*keys, *tracked).withColumn(
        "snap_ts_ms", F.lit(t0).cast("bigint")
    )
    survivors = cust.filter(F.col("c_custkey") % 13 != 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + F.lit(10.0))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        "c_mktsegment",
    )
    newcomers = cust.filter(F.col("c_custkey") % 11 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    snap2 = survivors.unionByName(newcomers).withColumn(
        "snap_ts_ms", F.lit(t1).cast("bigint")
    )

    src = tmp_path / "scd2_src"
    snap1.coalesce(1).write.parquet(str(src / "v1"))
    snap2.coalesce(1).write.parquet(str(src / "v2"))
    # force discovery order v1 -> v2 (the file source picks oldest-mtime
    # first under maxFilesPerTrigger=1)
    now = _time.time()
    for sub, age in (("v1", 120.0), ("v2", 60.0)):
        for p in _Path(src / sub).rglob("*"):
            _os.utime(p, (now - age, now - age))

    stream = (
        spark.readStream.schema(snap1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    store = str(tmp_path / "scd2_store")
    q = scd2_apply_stream(
        stream, store, keys, tracked, str(tmp_path / "scd2_ckpt")
    )
    q.awaitTermination(120)

    def rows(df):
        return sorted(
            (r.c_custkey, r.c_acctbal, r.c_mktsegment,
             r.valid_from_ms, r.valid_to_ms)
            for r in df.collect()
        )

    got = rows(read_scd2_history(spark, store))
    want = rows(
        entry_mod.queries()["customer_scd2_history"](spark, sf_dir)
    )
    assert got == want and applied_watermark(store) == t1

    # replayed OLD batch (at-least-once delivery): watermark no-op
    scd2_sink(store, keys, tracked)(snap1, batch_id=99)
    assert rows(read_scd2_history(spark, store)) == want
    assert applied_watermark(store) == t1

    # full re-run with a FRESH checkpoint over the same files: no-op too
    q2 = scd2_apply_stream(
        spark.readStream.schema(snap1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        store, keys, tracked, str(tmp_path / "scd2_ckpt2"),
    )
    q2.awaitTermination(120)
    assert rows(read_scd2_history(spark, store)) == want


def test_hourly_rollup_stream_equals_full_recompute(spark, tmp_path):
    """Streaming continuous-aggregate maintenance: folding per-batch
    partial aggregates into the rollup store must equal the full
    recompute over all events (the lossless-merge property the batch
    `incremental_hourly_rollup` query hash-gates), and replays must not
    double-count (the applied-batch-id watermark)."""
    import os as _os
    import time as _time
    from pathlib import Path as _Path

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.sources import load_table
    from lol_data_collection_system_spark.streaming.rollup import (
        applied_batch_id,
        finalize_hourly,
        hourly_partial,
        hourly_rollup_stream,
        incremental_rollup_sink,
        read_rollup,
        HOURLY_KEYS,
        HOURLY_MERGE,
    )

    sf_dir = _os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"
    )
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "value", "event_type"
    )
    cut = F.col("event_id") % 2 == 0
    src = tmp_path / "ru_src"
    events.filter(cut).coalesce(1).write.parquet(str(src / "b1"))
    events.filter(~cut).coalesce(1).write.parquet(str(src / "b2"))
    now = _time.time()
    for sub, age in (("b1", 120.0), ("b2", 60.0)):
        for p in _Path(src / sub).rglob("*"):
            _os.utime(p, (now - age, now - age))

    store = str(tmp_path / "ru_store")
    q = hourly_rollup_stream(
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*"),
        store,
        str(tmp_path / "ru_ckpt"),
    )
    q.awaitTermination(120)
    assert applied_batch_id(store) == 1  # two batches folded

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(finalize_hourly(read_rollup(spark, store)))
    want = rows(finalize_hourly(hourly_partial(events)))
    assert got == want and len(want) > 0

    # a token-less ad-hoc call on this tokened store is a lineage
    # mismatch (None-vs-set) and must raise; override_lineage=True is
    # the explicit backfill escape
    import pytest as _pytest

    with _pytest.raises(ValueError, match="override_lineage"):
        incremental_rollup_sink(
            store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
            partition_col="hour_ms",
        )(events.filter(cut), batch_id=1)
    # replayed batch id (at-least-once): watermark makes it a no-op —
    # WITHOUT it this would double-count every state
    sink = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        override_lineage=True, partition_col="hour_ms",
    )
    sink(events.filter(cut), batch_id=1)
    assert rows(finalize_hourly(read_rollup(spark, store))) == want
    # a genuinely new batch DOES merge (n_events doubles for its groups)
    sink(events.filter(cut), batch_id=2)
    n_before = sum(r[2] for r in want)
    n_after = sum(
        r[2] for r in rows(finalize_hourly(read_rollup(spark, store)))
    )
    assert n_after == n_before + events.filter(cut).count()


def test_rollup_sink_rejects_foreign_checkpoint(spark, tmp_path):
    """Batch ids are only comparable within one checkpoint lineage: a
    store committed under checkpoint A must refuse batches arriving
    under checkpoint B (a fresh checkpoint restarts ids at 0 and would
    otherwise silently skip new data or double-count)."""
    import pytest as _pytest

    from lol_data_collection_system_spark.streaming.rollup import (
        HOURLY_KEYS,
        HOURLY_MERGE,
        hourly_partial,
        incremental_rollup_sink,
    )

    events = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 5.0, "a")],
        ["event_id", "ts_s", "value", "event_type"],
    ).selectExpr(
        "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value", "event_type"
    )
    store = str(tmp_path / "tok_store")
    sink_a = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        checkpoint_token="ckpt-A",
    )
    sink_a(events, batch_id=0)
    sink_b = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        checkpoint_token="ckpt-B",
    )
    with _pytest.raises(ValueError, match="checkpoint"):
        sink_b(events, batch_id=0)

    # None-vs-set is a mismatch in BOTH directions (ADVICE r7): a
    # tokened stream against a store created token-less would otherwise
    # silently skip or double-count under incomparable batch ids
    store2 = str(tmp_path / "tok_store2")
    incremental_rollup_sink(
        store2, hourly_partial, HOURLY_KEYS, HOURLY_MERGE
    )(events, batch_id=0)
    with _pytest.raises(ValueError, match="checkpoint"):
        incremental_rollup_sink(
            store2, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
            checkpoint_token="ckpt-A",
        )(events, batch_id=1)


def test_rollup_pruned_rewrite_links_untouched_partitions(spark, tmp_path):
    """partition_col mode (VERDICT r7 #5): a batch touching only hour B
    must REWRITE hour B's partition and HARDLINK hour A's untouched
    data files from the previous version (same inodes — zero data copy;
    writer metadata such as .crc sidecars is not carried), the merged
    store must equal the full recompute, and a sink with a mismatched
    layout must refuse loudly."""
    import os as _os
    from pathlib import Path as _Path

    import pytest as _pytest

    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )
    from lol_data_collection_system_spark.streaming.rollup import (
        HOURLY_KEYS,
        HOURLY_MERGE,
        finalize_hourly,
        hourly_partial,
        incremental_rollup_sink,
        read_rollup,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, ["event_id", "ts_s", "value", "event_type"]
        ).selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value",
            "event_type",
        )

    hour_a = [(1, "2024-01-01 00:10:00", 5.0, "a"),
              (2, "2024-01-01 00:40:00", 7.0, "b")]
    hour_b = [(3, "2024-01-01 01:05:00", 2.0, "a")]
    hour_b2 = [(4, "2024-01-01 01:55:00", 9.0, "a")]

    store = str(tmp_path / "pruned_store")
    sink = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        checkpoint_token="ck", partition_col="hour_ms",
    )
    sink(ev(hour_a + hour_b), batch_id=0)

    def part_inodes(vdir):
        out = {}
        for d in _Path(vdir).iterdir():
            if d.is_dir() and d.name.startswith("hour_ms="):
                out[d.name] = sorted(
                    _os.stat(f).st_ino for f in d.rglob("part-*")
                )
        return out

    v0 = current_version(store)[0]
    inodes0 = part_inodes(v0)
    assert len(inodes0) == 2  # one chunk per hour

    sink(ev(hour_b2), batch_id=1)  # touches ONLY hour B
    v1 = current_version(store)[0]
    assert v1 != v0
    inodes1 = part_inodes(v1)
    def hval(d):
        return int(d.split("=")[1])

    a_dir = min(inodes0, key=hval)  # the earlier (untouched) hour
    b_dir = max(inodes0, key=hval)
    assert inodes1[a_dir] == inodes0[a_dir]  # hardlinked, not rewritten
    assert not set(inodes1[b_dir]) & set(inodes0[b_dir])  # rewritten
    assert not list((_Path(v1) / a_dir).rglob("*.crc"))  # data files only

    got = sorted(
        tuple(r) for r in finalize_hourly(read_rollup(spark, store)).collect()
    )
    want = sorted(
        tuple(r)
        for r in finalize_hourly(
            hourly_partial(ev(hour_a + hour_b + hour_b2))
        ).collect()
    )
    assert got == want and len(want) == 3

    # layout mismatch: an unpartitioned sink on this store must refuse
    with _pytest.raises(ValueError, match="laid out"):
        incremental_rollup_sink(
            store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
            checkpoint_token="ck",
        )(ev(hour_b2), batch_id=2)
    # and partition_col must be a rollup key
    with _pytest.raises(ValueError, match="keys"):
        incremental_rollup_sink(
            store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
            partition_col="value",
        )


def test_rollup_empty_first_batch_does_not_wedge_store(spark, tmp_path):
    """An empty FIRST micro-batch must not commit a schema-less
    partitioned version (r8 review: a partitioned write of an empty
    frame emits only _SUCCESS, wedging every later read with
    UNABLE_TO_INFER_SCHEMA) — it is a no-op; the first real batch
    initializes the store."""
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )
    from lol_data_collection_system_spark.streaming.rollup import (
        HOURLY_KEYS,
        HOURLY_MERGE,
        finalize_hourly,
        hourly_partial,
        incremental_rollup_sink,
        read_rollup,
    )

    def ev(rows):
        return spark.createDataFrame(
            rows, ["event_id", "ts_s", "value", "event_type"]
        ).selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value",
            "event_type",
        )

    store = str(tmp_path / "empty_first")
    sink = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        checkpoint_token="ck", partition_col="hour_ms",
    )
    rows = [(1, "2024-01-01 00:10:00", 5.0, "a")]
    empty = ev(rows).limit(0)
    sink(empty, batch_id=0)  # empty first batch: no commit
    assert current_version(store) is None
    sink(ev(rows), batch_id=1)
    got = finalize_hourly(read_rollup(spark, store)).collect()
    assert len(got) == 1 and got[0]["n_events"] == 1
    # an empty LATER batch is also a no-op, not a wedge
    sink(empty, batch_id=2)
    assert finalize_hourly(read_rollup(spark, store)).count() == 1


def test_rollup_pruned_rewrite_preserves_string_partition_values(
    spark, tmp_path
):
    """Directory partition type inference is LOSSY for strings ('0123'
    infers as INT 123) — the pruned read must use the delta's explicit
    schema so stored groups are never silently re-keyed (r8 review,
    reproduced live)."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.streaming.rollup import (
        incremental_rollup_sink,
        read_rollup,
    )

    def batch(n):
        # 'a:b/c' is escaped in its directory name (a%3Ab%2Fc): the
        # merge must find the stored partition under the writer's name
        return spark.createDataFrame(
            [(k, float(i)) for i in range(n) for k in ("0123", "a:b/c")],
            "skey string, v double",
        )

    def partial(df):
        return df.groupBy("skey").agg(F.count(F.lit(1)).alias("n"))

    store = str(tmp_path / "strpart")
    sink = incremental_rollup_sink(
        store, partial, ["skey"], {"n": "sum"},
        checkpoint_token="ck", partition_col="skey",
    )
    sink(batch(3), batch_id=0)
    sink(batch(2), batch_id=1)  # touches the SAME two partitions
    got = sorted(
        (r["skey"], r["n"]) for r in read_rollup(spark, store).collect()
    )
    # one group per key, verbatim keys, merged counts
    assert got == [("0123", 5), ("a:b/c", 5)]


def _hour_events(spark, hours, types_per_hour=1):
    """One event per type for each of `types_per_hour` event types in
    every hour of `hours` (offsets from 2024-01-01 00:00)."""
    rows = [
        (h * 1000 + t, h * 3600 + 60, float(t), f"t{t}")
        for h in hours
        for t in range(types_per_hour)
    ]
    return spark.createDataFrame(
        rows, ["event_id", "offset_s", "value", "event_type"]
    ).selectExpr(
        "event_id",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, "
        "offset_s) AS ts",
        "value",
        "event_type",
    )


def test_rollup_batch_reads_only_its_touched_partitions(spark, tmp_path):
    """A batch that touches one hour of a 40-hour store must not list
    the store: reading the version directory lists its 40 partition
    directories with one Spark job of a task per directory (past 32).
    Reading the touched directories by path keeps every job of the
    batch small, whatever the store holds."""
    from lol_data_collection_system_spark.streaming.rollup import (
        HOURLY_KEYS,
        HOURLY_MERGE,
        finalize_hourly,
        hourly_partial,
        incremental_rollup_sink,
        read_rollup,
    )

    n_hours = 40
    store = str(tmp_path / "wide_store")
    sink = incremental_rollup_sink(
        store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
        checkpoint_token="ck", partition_col="hour_ms",
    )
    sink(_hour_events(spark, range(n_hours)), batch_id=0)

    sc = spark.sparkContext
    group = "rollup_one_touched_hour"
    sc.setJobGroup(group, "one-hour batch on a 40-hour store")
    try:
        sink(_hour_events(spark, [7]), batch_id=1)
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    assert job_ids
    for jid in job_ids:
        stages = [
            tracker.getStageInfo(s) for s in tracker.getJobInfo(jid).stageIds
        ]
        n_tasks = sum(s.numTasks for s in stages if s is not None)
        assert n_tasks < n_hours, f"job {jid} ran {n_tasks} tasks"

    got = finalize_hourly(read_rollup(spark, store))
    assert got.count() == n_hours
    assert got.filter("n_events = 2").count() == 1


def test_rollup_writes_one_file_per_touched_partition(spark, tmp_path):
    """The merge is clustered by the partition key inside its one
    exchange, so each partition a batch writes holds one data file —
    whatever the shuffle partition count, and with AQE's coalescing off."""
    from pathlib import Path as _Path

    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )
    from lol_data_collection_system_spark.streaming.rollup import (
        HOURLY_KEYS,
        HOURLY_MERGE,
        hourly_partial,
        incremental_rollup_sink,
    )

    def data_files(vdir):
        return {
            d.name: len(list(d.glob("part-*.parquet")))
            for d in _Path(vdir).iterdir()
            if d.is_dir() and d.name.startswith("hour_ms=")
        }

    conf = {
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        store = str(tmp_path / "clustered_store")
        sink = incremental_rollup_sink(
            store, hourly_partial, HOURLY_KEYS, HOURLY_MERGE,
            checkpoint_token="ck", partition_col="hour_ms",
        )
        sink(_hour_events(spark, range(3), types_per_hour=20), batch_id=0)
        first = data_files(current_version(store)[0])
        assert len(first) == 3 and set(first.values()) == {1}
        sink(_hour_events(spark, [1, 4], types_per_hour=20), batch_id=1)
        second = data_files(current_version(store)[0])
        assert len(second) == 4 and set(second.values()) == {1}
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_carry_forward_links_appends_and_replaces(tmp_path):
    """`versioned.carry_forward`, the one carry rule of every
    append-grown store, on a bare directory tree: unwritten subdirs
    (nested ``k=v/`` partitions included) carry with the same inodes, an
    ``append`` subdir holds the new files beside the old ones, a written
    subdir not named in ``append`` is replaced, writer metadata (``_``/
    ``.``-prefixed files) is never carried, and a first version
    (``prev_vdir=None``) gets nothing."""
    import os as _os
    from pathlib import Path as _Path

    from lol_data_collection_system_spark.sources.versioned import (
        carry_forward,
    )

    prev = tmp_path / "v-prev"
    files = {
        "kept/part-0.parquet": "k0",
        "kept/_SUCCESS": "",
        "kept/.part-0.parquet.crc": "c",
        "parted/h=1/part-1.parquet": "p1",
        "parted/h=1/.part-1.parquet.crc": "c",
        "parted/h=2/part-2.parquet": "p2",
        "grown/part-old.parquet": "g0",
        "grown/_SUCCESS": "",
        "swapped/part-old.parquet": "s0",
    }
    for rel, text in files.items():
        (prev / rel).parent.mkdir(parents=True, exist_ok=True)
        (prev / rel).write_text(text)

    new = tmp_path / "v-new"
    for rel in ("grown/part-new.parquet", "swapped/part-new.parquet"):
        (new / rel).parent.mkdir(parents=True, exist_ok=True)
        (new / rel).write_text("fresh")
    carry_forward(str(prev), str(new), append=("grown",))

    def tree(root):
        return {
            str(f.relative_to(root))
            for f in _Path(root).rglob("*")
            if f.is_file()
        }

    assert tree(new) == {
        "kept/part-0.parquet",
        "parted/h=1/part-1.parquet",
        "parted/h=2/part-2.parquet",
        "grown/part-old.parquet",
        "grown/part-new.parquet",
        "swapped/part-new.parquet",
    }
    for rel in (
        "kept/part-0.parquet",
        "parted/h=1/part-1.parquet",
        "parted/h=2/part-2.parquet",
        "grown/part-old.parquet",
    ):
        assert _os.stat(new / rel).st_ino == _os.stat(prev / rel).st_ino

    first = tmp_path / "v-first"
    (first / "only").mkdir(parents=True)
    carry_forward(None, str(first), append=("only",))
    assert list(first.rglob("*")) == [first / "only"]


def test_commit_version_detects_concurrent_commit(tmp_path):
    """Single-writer enforcement (VERDICT r7 #3): two interleaved
    committers that both derived from the same observed store state
    produce ONE winner and one ConcurrentCommitError — never a silently
    buried version."""
    from pathlib import Path as _Path

    import pytest as _pytest

    from lol_data_collection_system_spark.sources.versioned import (
        ConcurrentCommitError,
        commit_version,
        current_version,
    )

    store = str(tmp_path / "vstore")

    def w(payload):
        def write(vdir):
            _Path(vdir).mkdir(parents=True)
            (_Path(vdir) / "data.txt").write_text(payload)

        return write

    # A and B both observe "no store yet"; A commits first, B must fail
    commit_version(store, w("A"), {"who": "A"}, expect_current=None)
    with _pytest.raises(ConcurrentCommitError):
        commit_version(store, w("B"), {"who": "B"}, expect_current=None)
    vdir, meta = current_version(store)
    assert meta["who"] == "A"
    # a sequential writer that re-read the store proceeds (full path ok)
    commit_version(store, w("B2"), {"who": "B2"}, expect_current=vdir)
    assert current_version(store)[1]["who"] == "B2"
    # a now-stale expectation raises again; the winner stays committed
    with _pytest.raises(ConcurrentCommitError):
        commit_version(store, w("C"), {"who": "C"}, expect_current=vdir)
    assert current_version(store)[1]["who"] == "B2"
    # build-from-scratch writers (no expectation) still last-write-win
    commit_version(store, w("D"), {"who": "D"})
    assert current_version(store)[1]["who"] == "D"


def test_scd2_sink_refuses_partial_snapshot_across_batches(spark, tmp_path):
    """A snapshot version split across micro-batches must raise when its
    tail arrives (digest mismatch), not be dropped as a replay — while a
    TRUE replay (identical rows) digest-matches into a no-op."""
    import pytest as _pytest

    from lol_data_collection_system_spark.streaming.scd2 import (
        read_scd2_history,
        scd2_sink,
    )

    def snap(rows):
        return spark.createDataFrame(
            rows, "k bigint, v double, snap_ts_ms bigint"
        )

    store = str(tmp_path / "psnap_store")
    sink = scd2_sink(store, ["k"], ["v"])
    head = snap([(1, 10.0, 1000), (2, 20.0, 1000)])
    sink(head, batch_id=0)
    n0 = read_scd2_history(spark, store).count()
    # true replay: identical rows for the applied version -> no-op
    sink(head, batch_id=1)
    assert read_scd2_history(spark, store).count() == n0
    # the missing tail of version 1000 arrives later -> refuse loudly
    with _pytest.raises(ValueError, match="complete within ONE"):
        sink(snap([(3, 30.0, 1000)]), batch_id=2)
