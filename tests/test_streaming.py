"""Streaming-layer tests (SURVEY.md §5 item 5): each streaming job run
with an availableNow trigger over file sources must equal its batch twin;
the upsert store must be idempotent under duplicate/late/replayed events
(reference behaviors T3/T4/T6)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lol_data_collection_system_spark.streaming import (
    latest_wins_upsert_sink,
    sliding_quota_counts,
    streaming_sessions,
    two_phase_upsert,
)
from lol_data_collection_system_spark.streaming.upsert import latest_wins_merge

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("region", T.StringType()),
        T.StructField("method", T.StringType()),
    ]
)


#: Event-time sentinel: advances the watermark past every real window so
#: append-mode streaming emits them within one availableNow run.
SENTINEL_TS = "2024-01-01 01:00:00"
SENTINEL_MS = 1704070800000


def _request_rows():
    # 7 requests for (euw, match) inside one 10 s window vs quota 5;
    # 2 requests for (na, summoner) vs quota 10.
    base = "2024-01-01 00:00:{:02d}"
    rows = [(base.format(s), "euw", "match") for s in (1, 2, 3, 4, 5, 6, 7)]
    rows += [(base.format(s), "na", "summoner") for s in (2, 8)]
    rows.append((SENTINEL_TS, "zz", "sentinel"))
    return [(r[0], r[1], r[2]) for r in rows]


def _write_json_source(spark, tmpdir, rows):
    df = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows], ["ts_s", "region", "method"]
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "region", "method")
    df.coalesce(1).write.mode("overwrite").json(str(tmpdir))
    return df


def test_sliding_quota_streaming_equals_batch(spark, tmp_path):
    src_dir = tmp_path / "req"
    out_dir = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    batch_df = _write_json_source(spark, src_dir, _request_rows())
    quotas = spark.createDataFrame(
        [("euw", "match", 5), ("na", "summoner", 10)],
        ["region", "method", "max_requests"],
    )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA).json(str(src_dir))
    )
    q = (
        sliding_quota_counts(stream, quotas, ["region", "method"], "ts", 10, 5)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # append mode emits only watermark-closed windows: everything except
    # the sentinel's own windows — drop them from both sides
    got = spark.read.parquet(str(out_dir)).filter(F.col("region") != "zz")
    want = sliding_quota_counts(
        batch_df, quotas, ["region", "method"], "ts", 10, 5
    ).filter(F.col("region") != "zz")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # quota breach is visible: the 10s window holding all 7 euw requests
    over = got.filter(F.col("over_quota")).collect()
    assert any(r.region == "euw" and r.n_requests > 5 for r in over)


def test_streaming_sessions_equal_batch(spark, tmp_path):
    src_dir = tmp_path / "sess_src"
    out_dir = tmp_path / "sess_out"
    ckpt = tmp_path / "sess_ckpt"
    rows = [
        ("2024-01-01 00:00:00", "a", "x"),
        ("2024-01-01 00:00:10", "a", "x"),  # same session (gap < 15s)
        ("2024-01-01 00:01:00", "a", "x"),  # new session
        ("2024-01-01 00:00:05", "b", "x"),
        (SENTINEL_TS, "zz", "x"),  # closes all real sessions
    ]
    batch_df = _write_json_source(spark, src_dir, rows)

    stream = spark.readStream.schema(EVENTS_SCHEMA).json(str(src_dir))
    q = (
        streaming_sessions(stream, ["region"], "ts", "15 seconds")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(str(out_dir)).filter(F.col("region") != "zz").collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            streaming_sessions(batch_df, ["region"], "ts", "15 seconds")
            .filter(F.col("region") != "zz")
            .collect(),
        )
    )
    assert got == want
    by_key = {(r[0], r[1]): r[3] for r in got}  # (region, start_ms) -> n
    assert by_key[("a", 1704067200000)] == 2
    assert by_key[("a", 1704067260000)] == 1
    assert by_key[("b", 1704067205000)] == 1


UPSERT_SCHEMA = T.StructType(
    [
        T.StructField("match_id", T.LongType()),
        T.StructField("region", T.StringType()),
        T.StructField("phase", T.LongType()),
        T.StructField("tier", T.StringType()),
        T.StructField("result_json", T.StringType()),
    ]
)


def test_two_phase_upsert_idempotent(spark, tmp_path):
    store = str(tmp_path / "store")
    src = tmp_path / "upd"
    ckpt = str(tmp_path / "upsert_ckpt")

    phase1 = [(1, "euw", 1, "GOLD", None), (2, "na", 1, "SILVER", None)]
    phase2 = [(1, "euw", 2, None, '{"win":true}')]
    dup_phase1_replay = [(1, "euw", 1, "GOLD", None)]  # late duplicate
    updates = phase1 + phase2 + dup_phase1_replay
    spark.createDataFrame(updates, UPSERT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src))

    stream = spark.readStream.schema(UPSERT_SCHEMA).json(str(src))
    q = two_phase_upsert(stream, store, ["match_id", "region"], "phase", ckpt)
    q.awaitTermination(120)

    rows = {
        (r.match_id, r.region): r for r in spark.read.parquet(store).collect()
    }
    assert len(rows) == 2
    # phase 2 filled result_json without erasing phase 1's tier
    assert rows[(1, "euw")].tier == "GOLD"
    assert rows[(1, "euw")].result_json == '{"win":true}'
    assert rows[(2, "na")].result_json is None

    # replaying the same batch changes nothing (exactly-once effect)
    sink = latest_wins_upsert_sink(store, ["match_id", "region"], "phase")
    sink(spark.createDataFrame(updates, UPSERT_SCHEMA), batch_id=99)
    rows2 = {
        (r.match_id, r.region): (r.tier, r.result_json)
        for r in spark.read.parquet(store).collect()
    }
    assert rows2 == {
        k: (v.tier, v.result_json) for k, v in rows.items()
    }


def test_latest_wins_merge_pure():
    # unit check of the merge lattice without any IO
    import pyspark.sql

    spark = pyspark.sql.SparkSession.getActiveSession()
    cur = spark.createDataFrame([(1, "euw", 1, "GOLD", None)], UPSERT_SCHEMA)
    upd = spark.createDataFrame([(1, "euw", 2, None, "res")], UPSERT_SCHEMA)
    out = latest_wins_merge(cur, upd, ["match_id", "region"], "phase").collect()
    assert len(out) == 1
    assert out[0].tier == "GOLD" and out[0].result_json == "res"


def test_poll_until_event(spark, tmp_path):
    """T1: exactly one `completed` row per target at its FIRST satisfying
    poll; polls after completion are swallowed; pending targets emit
    nothing (until the give-up timeout)."""
    from lol_data_collection_system_spark.streaming import poll_until_event

    src = tmp_path / "polls"
    out_dir = tmp_path / "poll_out"
    ckpt = tmp_path / "poll_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("target", T.StringType()),
            T.StructField("done", T.BooleanType()),
            T.StructField("ts_ms", T.LongType()),
        ]
    )
    # batch 1: m1 pending twice; m2 pending. batch 2: m1 completes on its
    # 3rd poll, m2 still pending, m3 completes instantly.
    spark.createDataFrame(
        [("m1", False, 1000), ("m1", False, 2000), ("m2", False, 1500)], schema
    ).coalesce(1).write.mode("overwrite").json(str(src / "f1"))
    spark.createDataFrame(
        [("m1", True, 3000), ("m1", True, 4000), ("m2", False, 2500),
         ("m3", True, 100)],
        schema,
    ).coalesce(1).write.mode("overwrite").json(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out_dir))

    q = (
        poll_until_event(stream, give_up_after_ms=3_600_000)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(out_dir)).collect()
    by_target = {r.target: r for r in rows}
    # m1: completed exactly once, on poll 3 (ts 3000) — the later done poll
    # at ts 4000 did not re-emit
    assert [r.target for r in rows].count("m1") == 1
    assert by_target["m1"].status == "completed"
    assert by_target["m1"].n_polls == 3
    assert by_target["m1"].event_ts_ms == 3000
    # m3: first poll completes
    assert by_target["m3"].status == "completed"
    assert by_target["m3"].n_polls == 1
    # m2: still pending — no output row before its give-up timeout
    assert "m2" not in by_target


def test_heartbeat_listener(spark, tmp_path):
    """T9: a micro-batch query's progress events appear as heartbeat rows
    queryable as a DataFrame."""
    import time

    from lol_data_collection_system_spark.streaming import (
        heartbeats_df,
        install_heartbeats,
    )

    listener = install_heartbeats(spark)
    try:
        src = tmp_path / "hb_src"
        out_dir = tmp_path / "hb_out"
        ckpt = tmp_path / "hb_ckpt"
        schema = T.StructType([T.StructField("v", T.LongType())])
        spark.createDataFrame([(1,), (2,), (3,)], schema).coalesce(1).write.mode(
            "overwrite"
        ).json(str(src))
        q = (
            spark.readStream.schema(schema)
            .json(str(src))
            .writeStream.format("parquet")
            .option("path", str(out_dir))
            .option("checkpointLocation", str(ckpt))
            .queryName("hb_probe")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener bus is async — wait for the progress event to land
        beat = None
        for _ in range(100):
            snap = {b["name"]: b for b in listener.snapshot()}
            beat = snap.get("hb_probe")
            if beat and beat["status"] in ("alive", "terminated") and (
                beat.get("n_progress_events") or 0
            ) > 0:
                break
            time.sleep(0.1)
        assert beat is not None, "no heartbeat recorded for hb_probe"
        assert beat["num_input_rows"] == 3
        df = heartbeats_df(spark, listener)
        row = df.filter(df.name == "hb_probe").collect()[0]
        assert row.last_batch_id >= 0
        assert row.n_progress_events >= 1
    finally:
        spark.streams.removeListener(listener)


def test_stateful_target_tracking(spark, tmp_path):
    """T2: state accumulates across micro-batches (maxFilesPerTrigger=1
    forces two batches; the second batch's counts include the first's)."""
    from lol_data_collection_system_spark.streaming.stateful import (
        TRACKER_OUTPUT,
        track_targets,
    )
    from pyspark.sql import types as T2

    src = tmp_path / "targets"
    out_dir = tmp_path / "tracker_out"
    ckpt = tmp_path / "tracker_ckpt"
    src.mkdir()
    schema = T2.StructType([T2.StructField("target", T2.StringType())])
    spark.createDataFrame([("a",), ("a",), ("b",)], schema).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src / "f1"))
    spark.createDataFrame([("a",), ("c",)], schema).coalesce(1).write.mode(
        "overwrite"
    ).json(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(str(out_dir))

    q = (
        track_targets(stream, timeout_ms=60_000)
        .writeStream.foreachBatch(sink)  # update-mode rows, appended per batch
        .option("checkpointLocation", str(ckpt))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(str(out_dir)).collect()
    per_target_max = {}
    for r in rows:
        per_target_max[r.target] = max(
            per_target_max.get(r.target, 0), r.n_observations
        )
    # state carried across batches: a = 2 (batch1) then 3 (batch2);
    # set-compare since foreachBatch+append may replay a batch on retry
    assert per_target_max == {"a": 3, "b": 1, "c": 1}
    active = [r for r in rows if r.status == "active"]
    a_counts = sorted(set(r.n_observations for r in active if r.target == "a"))
    assert a_counts == [2, 3]
    # a processing-time timeout may fire in the trailing batch — if it
    # does, the rotated row must carry the final accumulated count
    for r in rows:
        if r.status == "rotated":
            assert r.n_observations == per_target_max[r.target]


def test_streaming_dedup_keeps_first_arrival(spark, tmp_path):
    """Streaming exact dedup: a content duplicate arriving in a later
    micro-batch (within the watermark) is dropped; normalization folds
    case/punctuation variants onto one fingerprint; batch twin agrees."""
    from lol_data_collection_system_spark.streaming import dedup_stream

    src = tmp_path / "docs"
    out_dir = tmp_path / "dedup_out"
    ckpt = tmp_path / "dedup_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write(name, rows):
        spark.createDataFrame(rows, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    write("f1", [("2024-01-01 00:00:01", 1, "alpha beta"),
                 ("2024-01-01 00:00:02", 2, "gamma delta")])
    # batch 2: doc 3 duplicates doc 1's content (modulo case/punct — same
    # normalized fingerprint); doc 4 is new
    write("f2", [("2024-01-01 00:01:00", 3, "Alpha, BETA!"),
                 ("2024-01-01 00:01:01", 4, "epsilon zeta")])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    q = (
        dedup_stream(stream, watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = sorted(r.doc_id for r in spark.read.parquet(str(out_dir)).collect())
    assert kept == [1, 2, 4]

    # batch twin: same number of survivors, same fingerprint set (which
    # of docs 1/3 batch keeps is tie-arbitrary; the streaming run pins
    # first-arrival)
    batch = spark.read.schema(schema).json(str(src) + "/*")
    batch_fps = {r.fp for r in dedup_stream(batch).collect()}
    stream_fps = {r.fp for r in spark.read.parquet(str(out_dir)).collect()}
    assert batch_fps == stream_fps and len(batch_fps) == 3


def test_streaming_corpus_ingest_pipeline(spark, tmp_path):
    """Online ingest = scrub → quality filter → watermarked dedup as ONE
    streaming query: stateless projections compose with the stateful
    dedup unchanged, and the stream's survivors equal the batch
    composition's (modulo which copy of a dup-pair survives)."""
    from lol_data_collection_system_spark.operators.text import (
        quality_filter_flags,
        scrub_patterns,
    )
    from lol_data_collection_system_spark.streaming import dedup_stream

    src = tmp_path / "ingest"
    out_dir = tmp_path / "ingest_out"
    ckpt = tmp_path / "ingest_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    good = "the and for " + " ".join(f"word{i}" for i in range(60))
    rows1 = [
        ("2024-01-01 00:00:01", 1, good),
        ("2024-01-01 00:00:02", 2, "too short"),          # fails length
        ("2024-01-01 00:00:03", 3, good + " mail a@b.com"),
    ]
    rows2 = [
        ("2024-01-01 00:01:00", 4, good),                  # dup of doc 1
        ("2024-01-01 00:01:01", 5, "the " * 80),           # fails repetition
    ]
    for name, rows in (("f1", rows1), ("f2", rows2)):
        spark.createDataFrame(rows, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    def pipeline(df):
        scrubbed = scrub_patterns(df)
        kept = quality_filter_flags(
            scrubbed, min_tokens=30, min_distinct_ratio=0.3,
            min_stopword_ratio=0.01,
        ).filter(F.col("keep"))
        return dedup_stream(kept, text_col="text_scrubbed")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    q = (
        pipeline(stream)
        .select("doc_id", "text_scrubbed", "fp")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id: r for r in spark.read.parquet(str(out_dir)).collect()}
    # doc 1 survives; 2/5 fail quality; 4 is dropped as its dup arrived
    # first; 3 survives with its email scrubbed (scrub runs BEFORE the
    # fingerprint, so 3 is NOT a dup of 1 — the address distinguishes it
    # only until scrubbing... fingerprint is over scrubbed text, and
    # '<email>' keeps it distinct from doc 1)
    assert set(got) == {1, 3}
    assert "a@b.com" not in got[3].text_scrubbed
    assert "<email>" in got[3].text_scrubbed

    # batch twin: same surviving fingerprints
    batch = spark.read.schema(schema).json(str(src) + "/*")
    batch_fps = {r.fp for r in pipeline(batch).collect()}
    assert batch_fps == {r.fp for r in got.values()}


def test_streaming_near_dedup_drops_banded_rewrites(spark, tmp_path):
    """Multi-band streaming near-dup guard: a case/punctuation rewrite
    (identical shingle set -> identical hash in EVERY band) arriving in a
    later micro-batch loses all its buckets and is dropped; distinct docs
    win all their buckets and pass; stream doc set == batch twin doc set
    (the stream==batch recall parity for the full banding scheme)."""
    from lol_data_collection_system_spark.streaming import near_dedup_stream

    src = tmp_path / "neardup"
    out_dir = tmp_path / "neardup_out"
    ckpt = tmp_path / "neardup_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write(name, rows):
        spark.createDataFrame(rows, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    base = "alpha beta gamma delta epsilon zeta eta theta"
    write("f1", [("2024-01-01 00:00:01", 1, base),
                 ("2024-01-01 00:00:02", 2, "one two three four five six")])
    # doc 3: punctuation/case rewrite of doc 1 — same normalized shingles,
    # so every band collides; doc 4: new content
    write("f2", [("2024-01-01 00:01:00", 3, "Alpha, BETA gamma; delta epsilon ZETA eta theta!"),
                 ("2024-01-01 00:01:01", 4, "seven eight nine ten eleven twelve")])
    # flush row: pushes the watermark far past the earlier emit windows so
    # the chained windowed aggregation emits them (it itself stays pending)
    write("f3", [("2024-01-01 02:00:00", 99, "flush flush flush flush")])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    q = (
        near_dedup_stream(stream, watermark_delay="10 minutes")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    stream_rows = spark.read.parquet(str(out_dir)).collect()
    kept = sorted(r.doc_id for r in stream_rows)
    assert kept == [1, 2, 4]
    # every kept doc won ALL its bands (n_hashes/band_size = 4)
    assert all(len(r.bands) == 4 for r in stream_rows)

    batch = spark.read.schema(schema).json(str(src) + "/*")
    batch_rows = near_dedup_stream(batch).collect()
    batch_kept = {r.doc_id: tuple(r.bands) for r in batch_rows}
    # batch twin sees the flush doc too (no pending-window asymmetry)
    assert sorted(batch_kept) == [1, 2, 4, 99]
    # per-doc band sets agree between engines for the commonly-kept docs
    assert {i: b for i, b in batch_kept.items() if i != 99} == {
        r.doc_id: tuple(r.bands) for r in stream_rows
    }


def test_near_dedup_partial_band_collision_drops_doc(spark):
    """A doc colliding with an earlier doc on only SOME bands is still
    dropped (matches-on-≥1-band rule): batch-mode check with a crafted
    pair sharing most but not all shingles."""
    from lol_data_collection_system_spark.streaming import near_dedup_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # doc 2 appends one token: most k=3 shingles (and likely most band
    # mins) survive; if any band agrees it must be dropped
    rows = [
        ("2024-01-01 00:00:01", 1, base),
        ("2024-01-01 00:00:02", 2, base + " lambda"),
        ("2024-01-01 00:00:03", 3, "unrelated words entirely different content here now"),
    ]
    df = spark.createDataFrame(rows, ["ts_s", "doc_id", "text"]).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
    )
    kept = {r.doc_id for r in near_dedup_stream(df).collect()}
    assert 1 in kept and 3 in kept
    # doc 2 shares 8 of 9 base shingles with doc 1 -> essentially certain
    # band agreement; assert it was dropped (if this ever flakes the
    # banding geometry changed, not the operator)
    assert 2 not in kept


def test_corpus_guard_stream_filters_against_static_corpus(spark, tmp_path):
    """Stream-vs-static-corpus guard: an exact copy of a corpus doc and a
    one-token rewrite (shares band buckets) are dropped; novel text
    passes. Stream and batch twins keep the same doc set, and the kept
    set is a subset of incremental_dedup's `novel` statuses (the guard is
    the conservative, candidate-level online tier)."""
    from lol_data_collection_system_spark.operators.dedup import incremental_dedup
    from lol_data_collection_system_spark.streaming import corpus_guard_stream

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    src = tmp_path / "guard_docs"
    out_dir = tmp_path / "guard_out"
    ckpt = tmp_path / "guard_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )

    def write(name, rows):
        spark.createDataFrame(rows, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    rows1 = [
        # exact copy of corpus doc 2 -> dropped at the fingerprint tier
        ("2024-01-01 00:00:01", 10, "one two three four five six seven eight nine ten"),
        # near-rewrite of corpus doc 1 (one trailing token changed) ->
        # shares band buckets -> dropped at the band tier
        ("2024-01-01 00:00:02", 11, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    rows2 = [
        ("2024-01-01 00:01:01", 12, "completely different words entirely here now"),
    ]
    write("f1", rows1)
    write("f2", rows2)
    # flush row: pushes the watermark past the earlier emit windows so the
    # final windowed aggregation emits them (it itself stays pending)
    write("f3", [("2024-01-01 02:00:00", 99, "flush flush flush flush")])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    # band_size=2 for fixture-scale recall (see test_incremental)
    q = (
        corpus_guard_stream(stream, corpus, band_size=2)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept_stream = sorted(
        r.doc_id for r in spark.read.parquet(str(out_dir)).collect()
    )
    assert kept_stream == [12]

    batch = spark.read.schema(schema).json(str(src) + "/*")
    kept_batch = sorted(
        r.doc_id for r in corpus_guard_stream(batch, corpus, band_size=2).collect()
    )
    # batch twin sees the pending flush doc too
    assert kept_batch == kept_stream + [99]

    # the guard served from the STORED corpus index (written uncapped —
    # this guard bands full shingle sets) keeps the identical set
    from lol_data_collection_system_spark.operators.dedup import (
        read_corpus_index,
        write_corpus_index,
    )

    idx_path = str(tmp_path / "guard_index")
    # bands persisted at the guard's geometry: the stored-bands serve
    # path must keep the identical set (r8)
    write_corpus_index(
        corpus, idx_path, "doc_id", "text", 3, None, bands=(16, 2)
    )
    kept_stored = sorted(
        r.doc_id
        for r in corpus_guard_stream(
            batch, corpus, band_size=2,
            corpus_index=read_corpus_index(spark, idx_path),
        ).collect()
    )
    assert kept_stored == kept_batch

    # guard-kept ⊆ incremental_dedup novel (same fp space / banding)
    delta = batch.select("doc_id", "text")
    novel = {
        r.doc_id
        for r in incremental_dedup(
            corpus, delta, "doc_id", "text", k=3, band_size=2, threshold=0.2
        ).collect()
        if r.status == "novel"
    }
    assert set(kept_stream) <= novel


def test_pii_scrub_is_stream_capable(spark, tmp_path):
    """PII redaction is pure column work, so the SAME operator runs on a
    stream with no state, no watermark, and per-row output — the scrub
    stage of a streaming ingest pipeline."""
    from lol_data_collection_system_spark.operators.pii import scan_pii

    src = tmp_path / "pii_docs"
    out_dir = tmp_path / "pii_out"
    ckpt = tmp_path / "pii_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    spark.createDataFrame(
        [(1, "mail bob@x.io now"), (2, "clean row")], schema
    ).coalesce(1).write.mode("overwrite").json(str(src / "f1"))

    stream = spark.readStream.schema(schema).json(str(src) + "/*")
    q = (
        scan_pii(stream, "doc_id", "text")
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.doc_id: r for r in spark.read.parquet(str(out_dir)).collect()}
    assert rows[1].redacted_text == "mail <EMAIL> now" and rows[1].n_pii == 1
    assert rows[2].redacted_text == "clean row" and rows[2].n_pii == 0


def test_classify_stream_exact_status_parity(spark, tmp_path):
    """classify_stream == incremental_dedup, per doc, on (status,
    match_id, jaccard) — the verified three-tier classification, not the
    candidate-superset drop set corpus_guard_stream keeps. Runs the same
    plan as a true file-source stream and as a batch frame; both must
    agree with the batch classifier."""
    from lol_data_collection_system_spark.operators.dedup import (
        incremental_dedup,
    )
    from lol_data_collection_system_spark.streaming import classify_stream

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            # shares the "alpha beta gamma" shingle with doc 1 so
            # max_doc_freq=1 exercises the stop-list tier on both sides
            (3, "alpha beta gamma completely other trailing words here"),
        ],
        "doc_id long, text string",
    )
    rows = [
        # exact copy of corpus doc 2 -> exact_dup, match 2, jaccard 1.0
        ("2024-01-01 00:00:01", 10, "one two three four five six seven eight nine ten"),
        # near rewrite of corpus doc 1 -> verified near_dup
        ("2024-01-01 00:00:02", 11, "alpha beta gamma delta epsilon zeta eta iota"),
        # shares a few shingles with doc 2: candidate territory but below
        # the verify threshold -> the guard would drop it, the classifier
        # must call it novel (this is the parity point of the operator)
        ("2024-01-01 00:01:01", 12, "three four five six entirely different tail words"),
        ("2024-01-01 00:01:02", 13, "completely unrelated text with nothing shared at all"),
    ]
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1)

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "cls_docs"
    src.mkdir()

    def write(name, rs):
        spark.createDataFrame(rs, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    write("f1", rows[:2])
    write("f2", rows[2:])
    write("f3", [("2024-01-01 02:00:00", 99, "flush flush flush flush")])

    batch = spark.read.schema(schema).json(str(src) + "/*")
    got_batch = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in classify_stream(batch, corpus, **kw).collect()
    }
    want = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in incremental_dedup(
            corpus, batch.select("doc_id", "text"), "doc_id", "text", **kw
        ).collect()
    }
    assert got_batch == want
    assert want[10] == ("exact_dup", 2, 1.0)
    assert want[11][0] == "near_dup" and want[11][1] == 1
    assert want[12][0] == "novel" and want[13][0] == "novel"

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "cls_out", tmp_path / "cls_ckpt"
    q = (
        classify_stream(stream, corpus, **kw)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    # the flush doc's window is still pending on the stream side
    assert got_stream == {i: want[i] for i in (10, 11, 12, 13)}


def test_classify_stream_reobserved_id_classifies_in_each_window(
    spark, tmp_path
):
    """ADVICE r9 regression: a doc id re-observed at a LATER event time
    within the watermark horizon (a re-crawl under the same id) must get
    its own verify rows — the candidate dedup key carries the full row
    identity (id, ts, payload digest, corpus id), not just (id, corpus
    id). Pre-fix, the second observation's candidate pair was dropped by
    the keyed state, so its emit window aggregated only the base row and
    reported `novel` instead of `near_dup`."""
    from lol_data_collection_system_spark.streaming import classify_stream

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    near = "alpha beta gamma delta epsilon zeta eta iota"
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = tmp_path / "re_docs"
    src.mkdir()

    def write(name, rs):
        spark.createDataFrame(rs, ["ts_s", "doc_id", "text"]).select(
            F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
        ).coalesce(1).write.mode("overwrite").json(str(src / name))

    # same id, two observations two emit-windows apart, well inside the
    # 10-minute watermark horizon; then a flush row to close both windows
    write("f1", [("2024-01-01 00:00:05", 20, near)])
    write("f2", [("2024-01-01 00:02:05", 20, near)])
    write("f3", [("2024-01-01 02:00:00", 99, "flush flush flush flush")])

    kw = dict(k=3, band_size=2, threshold=0.5)
    batch = spark.read.schema(schema).json(str(src) + "/*")
    got_batch = {
        (r.window.start.minute, r.doc_id): r.status
        for r in classify_stream(batch, corpus, **kw).collect()
        if r.doc_id == 20
    }
    assert got_batch == {(0, 20): "near_dup", (2, 20): "near_dup"}

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "re_out", tmp_path / "re_ckpt"
    q = (
        classify_stream(stream, corpus, **kw)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        (r.window.start.minute, r.doc_id): r.status
        for r in spark.read.parquet(str(out_dir)).collect()
        if r.doc_id == 20
    }
    assert got_stream == {(0, 20): "near_dup", (2, 20): "near_dup"}


def test_classifier_scoring_is_stream_capable(spark, tmp_path):
    """Model serving on the ingest stream: weights trained offline fold
    into a pure projection (`logreg_score`), so the SAME operator scores
    a stream statelessly — and stream scores equal batch scores
    bit-for-bit (the IEEE-exact rational sigmoid)."""
    from lol_data_collection_system_spark.operators import classifier as clf

    src = tmp_path / "clf_docs"
    out_dir = tmp_path / "clf_out"
    ckpt = tmp_path / "clf_ckpt"
    src.mkdir()
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("f1", T.DoubleType()),
            T.StructField("f2", T.DoubleType()),
        ]
    )
    rows = [(i, (i * 7 % 13) / 13.0, (i * 5 % 11) / 11.0) for i in range(20)]
    batch = spark.createDataFrame(rows, schema)
    batch.coalesce(1).write.mode("overwrite").json(str(src / "f1"))
    weights = [0.25, 1.5, -0.75]

    stream = spark.readStream.schema(schema).json(str(src) + "/*")
    q = (
        clf.logreg_score(stream, weights, ["f1", "f2"])
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.score
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    want = {
        r.doc_id: r.score
        for r in clf.logreg_score(batch, weights, ["f1", "f2"]).collect()
    }
    assert got == want  # bit-exact stream == batch


def test_classify_stream_null_and_blank_text_parity(spark, tmp_path):
    """NULL-text parity regression: the batch classifier's shingles()
    posexplodes NULL text to ZERO rows, so a NULL-text doc is novel even
    when the corpus contains a blank doc (shingle set {''}); the stream
    side's row-local shingle array must do the same — an [''] array here
    would band-collide with the blank corpus doc and misclassify. Blank
    (whitespace-only) delta text, by contrast, IS an exact dup of a
    blank corpus doc in both engines (same normalized fingerprint)."""
    from lol_data_collection_system_spark.operators.dedup import (
        incremental_dedup,
    )
    from lol_data_collection_system_spark.streaming import classify_stream

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (4, "   "),  # blank doc: shingle set {''}
        ],
        "doc_id long, text string",
    )
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    delta = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", 20, None),  # NULL text
            ("2024-01-01 00:00:02", 21, ""),  # empty text
            ("2024-01-01 00:00:03", 22, "alpha beta gamma delta epsilon zeta eta theta"),
        ],
        ["ts_s", "doc_id", "text"],
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text")
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=None)

    want = {
        r.doc_id: (r.status, r.match_id)
        for r in incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text", **kw
        ).collect()
    }
    got = {
        r.doc_id: (r.status, r.match_id)
        for r in classify_stream(delta, corpus, **kw).collect()
    }
    assert got == want
    assert want[20] == ("novel", -1)  # NULL text never matches
    assert want[21] == ("exact_dup", 4)  # blank == blank by fingerprint
    assert want[22] == ("exact_dup", 1)


def _bloom_classify_fixtures(spark):
    """Corpus with a guaranteed hot shingle at max_doc_freq=1, plus a
    delta whose docs hit every tier."""
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "alpha beta gamma completely other trailing words here"),
        ],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", 10,
             "one two three four five six seven eight nine ten"),
            ("2024-01-01 00:00:02", 11,
             "alpha beta gamma delta epsilon zeta eta iota"),
            ("2024-01-01 00:01:01", 12,
             "three four five six entirely different tail words"),
            ("2024-01-01 00:01:02", 13,
             "completely unrelated text with nothing shared at all"),
        ],
        ["ts_s", "doc_id", "text"],
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text")
    return corpus, delta


def test_classify_stream_bloom_stop_set_zero_fp_equals_exact(spark):
    """stop_set='bloom' must reproduce the exact-list classification
    whenever the Bloom has no false positive over the shingles actually
    probed — asserted in-test (the filter is md5-deterministic, so this
    is a stable property of the data + geometry, not luck), which makes
    the equality assertion principled."""
    from lol_data_collection_system_spark.operators import bloom as B
    from lol_data_collection_system_spark.operators.dedup import (
        corpus_shingle_index,
        incremental_dedup,
    )
    from lol_data_collection_system_spark.streaming import classify_stream
    from lol_data_collection_system_spark.streaming.dedup import row_shingles

    corpus, delta = _bloom_classify_fixtures(spark)
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1)
    m_bits, h = 1 << 16, 4

    # assert the zero-FP precondition over every shingle the plan probes
    _, _, hot_df = corpus_shingle_index(corpus, "doc_id", "text", 3, 1)
    hot = {r.shingle for r in hot_df.collect()}
    assert hot  # the stop tier is actually exercised
    words = B.dense_words(B.build_bloom(hot_df, "shingle", m_bits, h), m_bits)
    probed = (
        delta.select(F.explode(row_shingles("text", 3)).alias("s"))
        .distinct()
        .select("s", B.member_expr(F.col("s"), words, m_bits, h).alias("hit"))
        .collect()
    )
    fps = {r.s for r in probed if r.hit and r.s not in hot}
    assert fps == set()  # geometry gives zero FPs on this data

    def run(**extra):
        return {
            r.doc_id: (r.status, r.match_id, r.jaccard)
            for r in classify_stream(delta, corpus, **kw, **extra).collect()
        }

    exact = run(stop_set="exact")
    bloom = run(stop_set="bloom", stop_bloom_bits=m_bits,
                stop_bloom_hashes=h)
    assert bloom == exact
    want = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text", **kw
        ).collect()
    }
    assert bloom == want  # and both equal the batch classifier


def test_classify_stream_bloom_fp_envelope(spark):
    """Forced false positives (2-word filter): the guard still runs, the
    df-cap never degrades (no false negatives — every truly-hot shingle
    is stopped), and any status deviation vs exact mode is confined to
    docs that contain a Bloom-false-positive shingle."""
    from lol_data_collection_system_spark.operators import bloom as B
    from lol_data_collection_system_spark.operators.dedup import (
        corpus_shingle_index,
    )
    from lol_data_collection_system_spark.streaming import classify_stream
    from lol_data_collection_system_spark.streaming.dedup import row_shingles

    corpus, delta = _bloom_classify_fixtures(spark)
    # extra docs overlapping docs 1/2 fatten the hot set so a 1-word,
    # 1-hash filter deterministically fires false positives
    corpus = corpus.union(
        spark.createDataFrame(
            [
                (4, "one two three four five six seven different close"),
                (5, "alpha beta gamma delta epsilon zeta closing words"),
            ],
            "doc_id long, text string",
        )
    )
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1)
    m_bits, h = 32, 1

    _, _, hot_df = corpus_shingle_index(corpus, "doc_id", "text", 3, 1)
    hot = {r.shingle for r in hot_df.collect()}
    words = B.dense_words(B.build_bloom(hot_df, "shingle", m_bits, h), m_bits)
    probe = lambda c: B.member_expr(c, words, m_bits, h)  # noqa: E731
    # no false negatives: every hot shingle probes positive
    hot_hits = hot_df.select(probe(F.col("shingle")).alias("hit")).collect()
    assert all(r.hit for r in hot_hits)
    # which delta docs contain an over-stopped (FP) shingle?
    fp_docs = {
        r.doc_id
        for r in delta.select(
            "doc_id", F.explode(row_shingles("text", 3)).alias("s")
        )
        .filter(probe(F.col("s")) & ~F.col("s").isin(*sorted(hot)))
        .collect()
    }
    assert fp_docs  # the tiny filter really does fire FPs here

    def run(**extra):
        return {
            r.doc_id: (r.status, r.match_id, r.jaccard)
            for r in classify_stream(delta, corpus, **kw, **extra).collect()
        }

    exact = run(stop_set="exact")
    bloom = run(stop_set="bloom", stop_bloom_bits=m_bits,
                stop_bloom_hashes=h)
    deviating = {d for d in exact if bloom[d] != exact[d]}
    assert deviating <= fp_docs  # the documented deviation envelope
    # exact fingerprints are untouched by the stop set in any mode
    assert bloom[10] == ("exact_dup", 2, 1.0)


def test_classify_stream_from_stored_corpus_index(spark, tmp_path):
    """The guard served from the PERSISTED corpus index
    (write_corpus_index → read_corpus_index) classifies identically to
    the in-plan derivation — the 'at 100 TB the index is precomputed +
    stored' claim as a test, on the classifier that makes it."""
    from lol_data_collection_system_spark.operators.dedup import (
        incremental_dedup,
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.streaming import classify_stream

    corpus, delta = _bloom_classify_fixtures(spark)
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1)
    path = str(tmp_path / "corpus_index")
    write_corpus_index(corpus, path, "doc_id", "text", 3, 1)
    idx = read_corpus_index(spark, path)
    assert idx[2] is not None  # the hot set was persisted too

    def rows(df):
        return {
            r.doc_id: (r.status, r.match_id, r.jaccard) for r in df.collect()
        }

    in_plan = rows(classify_stream(delta, corpus, **kw))
    stored = rows(classify_stream(delta, corpus, corpus_index=idx, **kw))
    assert stored == in_plan
    # and the batch classifier agrees from the same stored index
    stored_batch = rows(
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text",
            corpus_index=idx, **kw,
        )
    )
    assert stored_batch == in_plan


def test_classify_stream_auto_degrades_to_bloom_not_raise(spark, tmp_path):
    """The round-6 raise-at-scale point is gone: with a hot list larger
    than max_stop_shingles, stop_set='exact' still raises (the only
    no-Bloom path), but the default 'auto' degrades to the
    geometry-bounded Bloom stop set and runs — and stream==batch parity
    stays EXACT in the degraded mode (the probe is md5-deterministic, so
    both modes cap the same shingles bit-for-bit)."""
    import pytest as _pytest

    from lol_data_collection_system_spark.streaming import classify_stream

    corpus, delta = _bloom_classify_fixtures(spark)
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1,
              max_stop_shingles=0)

    with _pytest.raises(ValueError, match="max_stop_shingles"):
        classify_stream(delta, corpus, stop_set="exact", **kw)

    got_batch = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in classify_stream(delta, corpus, **kw).collect()
    }
    assert set(got_batch) == {10, 11, 12, 13}
    assert got_batch[10] == ("exact_dup", 2, 1.0)

    src = tmp_path / "bloom_docs"
    src.mkdir()
    delta.coalesce(1).write.mode("overwrite").json(str(src / "f1"))
    spark.createDataFrame(
        [("2024-01-01 02:00:00", 99, "flush flush flush flush")],
        ["ts_s", "doc_id", "text"],
    ).select(
        F.col("ts_s").cast("timestamp").alias("ts"), "doc_id", "text"
    ).coalesce(1).write.mode("overwrite").json(str(src / "f2"))
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "bloom_out", tmp_path / "bloom_ckpt"
    q = (
        classify_stream(stream, corpus, **kw)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_stream = {
        r.doc_id: (r.status, r.match_id, r.jaccard)
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    assert got_stream == got_batch  # stream == batch, Bloom mode


def test_streaming_ewma_equals_batch_on_closed_buckets(spark, tmp_path):
    """The streaming EWMA scorer must emit exactly the batch
    `ewma_scores` rows for every CLOSED bucket (state carries counts and
    trailing history across micro-batches; gaps are synthesized as
    zeros), including after a multi-hour silence."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators.windows import ewma_scores
    from lol_data_collection_system_spark.streaming.anomaly import ewma_stream

    h0 = dt.datetime(2024, 3, 1, 0, 15)
    rows = []
    # both groups span the same buckets so batch's global grid == each
    # group's stream grid; 'b' is silent h2-h4 (gap synthesis)
    for h, n in [(0, 2), (1, 3), (2, 9), (3, 1), (4, 2), (5, 4), (6, 1)]:
        for i in range(n):
            rows.append(("a", h0 + dt.timedelta(hours=h, seconds=i)))
    for h, n in [(0, 4), (1, 1), (5, 7), (6, 1)]:
        for i in range(n):
            rows.append(("b", h0 + dt.timedelta(hours=h, seconds=i)))

    schema = T2.StructType(
        [
            T2.StructField("event_type", T2.StringType()),
            T2.StructField("ts", T2.TimestampType()),
        ]
    )
    batch_df = spark.createDataFrame(rows, schema)

    src = tmp_path / "ewma_src"
    out_dir = tmp_path / "ewma_out"
    ckpt = tmp_path / "ewma_ckpt"
    src.mkdir()
    # split by time into two files -> two micro-batches; state must
    # carry the h<=2 history into the h>=3 batch
    cut = h0 + dt.timedelta(hours=3)
    spark.createDataFrame(
        [r for r in rows if r[1] < cut], schema
    ).coalesce(1).write.json(str(src / "f1"))
    spark.createDataFrame(
        [r for r in rows if r[1] >= cut], schema
    ).coalesce(1).write.json(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )

    def sink(batch_df_, _bid):
        batch_df_.write.mode("append").parquet(str(out_dir))

    q = (
        ewma_stream(stream, "event_type", "ts", window=4)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.event_type, r.bucket_ms): (r.cnt, r.decayed_prev, r.ratio)
        for r in spark.read.parquet(str(out_dir)).collect()
    }
    scored = ewma_scores(batch_df, "event_type", "ts", window=4).collect()
    max_bucket = max(r.bucket_ms for r in scored)
    want = {
        (r.event_type, r.bucket_ms): (r.cnt, r.decayed_prev, r.ratio)
        for r in scored
        if r.bucket_ms < max_bucket  # newest bucket never closes
    }
    assert got == want
    assert len(want) >= 10  # gap buckets for 'b' included


def _run_ewma_files(spark, tmp_path, file_rows, **ewma_kw):
    """Write each rows-list as one file (=> one micro-batch, in order)
    and return {(group, bucket_ms): (cnt, decayed_prev, ratio)} emitted
    by `ewma_stream` across all batches."""
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.streaming.anomaly import ewma_stream

    schema = T2.StructType(
        [
            T2.StructField("event_type", T2.StringType()),
            T2.StructField("ts", T2.TimestampType()),
        ]
    )
    src = tmp_path / "ewma_src"
    out_dir = tmp_path / "ewma_out"
    ckpt = tmp_path / "ewma_ckpt"
    src.mkdir()
    for i, rows in enumerate(file_rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.json(
            str(src / f"f{i}")
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )

    def sink(batch_df_, _bid):
        batch_df_.write.mode("append").parquet(str(out_dir))

    q = (
        ewma_stream(stream, "event_type", "ts", **ewma_kw)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r.event_type, r.bucket_ms): (r.cnt, r.decayed_prev, r.ratio)
        for r in spark.read.parquet(str(out_dir)).collect()
    }


def test_streaming_ewma_bulk_skips_gap_longer_than_window(spark, tmp_path):
    """A silent gap far longer than `window` saturates the trailing
    history to all-zeros so the bulk-skip branch fires (the state update
    is O(observed x window), not O(gap)); a single observed bucket in
    the MIDDLE of the gap must re-seed the history and be followed by
    the correct zero-count emissions — all still bit-identical to the
    batch `ewma_scores` grid."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators.windows import ewma_scores

    h0 = dt.datetime(2024, 3, 1, 0, 15)

    def at(h, n):
        return [
            ("a", h0 + dt.timedelta(hours=h, seconds=i)) for i in range(n)
        ]

    # active h0-h1, silent h2..h24, one mid-gap event at h25, silent
    # again h26..h49, resume h50-h52; window=4 << both gaps
    f1 = at(0, 2) + at(1, 3)
    f2 = at(25, 1)
    f3 = at(50, 4) + at(51, 2) + at(52, 1)
    got = _run_ewma_files(spark, tmp_path, [f1, f2, f3], window=4)

    schema = T2.StructType(
        [
            T2.StructField("event_type", T2.StringType()),
            T2.StructField("ts", T2.TimestampType()),
        ]
    )
    scored = ewma_scores(
        spark.createDataFrame(f1 + f2 + f3, schema), "event_type", "ts", window=4
    ).collect()
    max_bucket = max(r.bucket_ms for r in scored)
    want = {
        (r.event_type, r.bucket_ms): (r.cnt, r.decayed_prev, r.ratio)
        for r in scored
        if r.bucket_ms < max_bucket  # newest bucket never closes
    }
    assert got == want
    ms = 3_600_000
    b0 = int(h0.replace(minute=0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    # the mid-gap bucket re-seeded history: h26..h29 emit cnt=0 rows,
    # then the skip re-saturates (nothing until h50 closes with history)
    assert any(k[1] == b0 + 26 * ms for k in got)
    assert not any(b0 + 30 * ms <= k[1] < b0 + 50 * ms for k in got)


def test_streaming_ewma_horizon_rejects_far_future_keeps_live(spark, tmp_path):
    """With `horizon_buckets` set: a corrupt far-future timestamp riding
    in a batch that ALSO has live in-horizon traffic is dropped as an
    outlier (never adopted as pending), a whole batch of lone corrupt
    input is rejected, and live traffic afterwards both resets the
    adoption candidate and keeps processing — output equals batch
    scoring of only the clean events."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators.windows import ewma_scores

    h0 = dt.datetime(2024, 3, 1, 0, 15)

    def at(h, n):
        return [
            ("a", h0 + dt.timedelta(hours=h, seconds=i)) for i in range(n)
        ]

    f1 = at(0, 2) + at(1, 3)
    f2 = at(9_000, 1)  # lone corrupt batch: rejected, candidate n=1
    f3 = at(2, 9) + at(3, 1) + at(9_500, 1)  # mixed: live wins, outlier drops
    f4 = at(9_000, 1)  # candidate was reset by f3 -> n=1 again, rejected
    f5 = at(4, 2) + at(5, 4)
    got = _run_ewma_files(
        spark,
        tmp_path,
        [f1, f2, f3, f4, f5],
        window=4,
        horizon_buckets=48,
        adopt_after_batches=2,
    )

    clean = f1 + at(2, 9) + at(3, 1) + f5
    schema = T2.StructType(
        [
            T2.StructField("event_type", T2.StringType()),
            T2.StructField("ts", T2.TimestampType()),
        ]
    )
    scored = ewma_scores(
        spark.createDataFrame(clean, schema), "event_type", "ts", window=4
    ).collect()
    max_bucket = max(r.bucket_ms for r in scored)
    want = {
        (r.event_type, r.bucket_ms): (r.cnt, r.decayed_prev, r.ratio)
        for r in scored
        if r.bucket_ms < max_bucket
    }
    assert got == want and len(got) >= 4  # h1..h4 closed with history


def test_streaming_ewma_horizon_recovers_after_long_idle(spark, tmp_path):
    """A group legitimately idle LONGER than `horizon_buckets` must not
    be stuck forever: after `adopt_after_batches` consecutive
    whole-batch rejections agreeing on the new base, the stream
    re-anchors and keeps emitting (the regression the recoverable guard
    exists for)."""
    import datetime as dt

    h0 = dt.datetime(2024, 3, 1, 0, 15)

    def at(h, n):
        return [
            ("a", h0 + dt.timedelta(hours=h, seconds=i)) for i in range(n)
        ]

    f1 = at(0, 2) + at(1, 3)
    f2 = at(300, 7) + at(301, 2)  # idle 300h >> horizon: rejected, n=1
    f3 = at(302, 5)  # agrees with candidate -> n=2 -> ADOPTED
    f4 = at(303, 2)  # in-horizon of new pending: closes 302 (zero hist)
    f5 = at(304, 1)  # closes 303 with 302's count in history -> emits
    got = _run_ewma_files(
        spark,
        tmp_path,
        [f1, f2, f3, f4, f5],
        window=4,
        horizon_buckets=48,
        adopt_after_batches=2,
    )

    ms = 3_600_000
    b0 = int(h0.replace(minute=0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    # pre-adoption rejected batches are dropped by policy
    assert not any(k[1] in (b0 + 300 * ms, b0 + 301 * ms) for k in got)
    # post-adoption the group is alive again: bucket 303 closes with
    # bucket 302's count (5) in its trailing history and emits
    key = ("a", b0 + 303 * ms)
    assert key in got and got[key][0] == 2
    # and the pre-idle history was closed out on adoption (bucket 1
    # scored against bucket 0's count)
    assert ("a", b0 + 1 * ms) in got


def test_streaming_transitions_equal_batch_lag(spark, tmp_path):
    """Aggregated streaming (prev,next) pair counts must equal the
    batch lag-window pairs exactly, with state carrying the last event
    across micro-batches."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.streaming.anomaly import (
        transition_stream,
    )

    t0 = dt.datetime(2024, 7, 1)
    rows = []
    eid = 0
    for u, seq in [(1, "abcab"), (2, "aabb"), (3, "c")]:
        for i, ch in enumerate(seq):
            rows.append((u, eid, t0 + dt.timedelta(minutes=i), ch))
            eid += 1
    schema = T2.StructType(
        [
            T2.StructField("user_id", T2.LongType()),
            T2.StructField("event_id", T2.LongType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("event_type", T2.StringType()),
        ]
    )
    batch_df = spark.createDataFrame(rows, schema)

    src = tmp_path / "tr_src"
    out_dir = tmp_path / "tr_out"
    ckpt = tmp_path / "tr_ckpt"
    src.mkdir()
    cut = t0 + dt.timedelta(minutes=2)
    spark.createDataFrame(
        [r for r in rows if r[2] < cut], schema
    ).coalesce(1).write.json(str(src / "f1"))
    spark.createDataFrame(
        [r for r in rows if r[2] >= cut], schema
    ).coalesce(1).write.json(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )

    def sink(bdf, _bid):
        bdf.write.mode("append").parquet(str(out_dir))

    q = (
        transition_stream(stream)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.read.parquet(str(out_dir))
        .groupBy("prev_type", "next_type")
        .count()
        .collect()
    )
    got_map = {(r.prev_type, r.next_type): r["count"] for r in got}

    w = Window.partitionBy("user_id").orderBy(
        F2.unix_millis("ts"), F2.col("event_id")
    )
    want = (
        batch_df.withColumn("prev_type", F2.lag("event_type").over(w))
        .filter(F2.col("prev_type").isNotNull())
        .groupBy("prev_type", F2.col("event_type").alias("next_type"))
        .count()
        .collect()
    )
    want_map = {(r.prev_type, r.next_type): r["count"] for r in want}
    assert got_map == want_map
    assert sum(got_map.values()) == 4 + 3 + 0  # per-user n-1 pairs


def test_streaming_media_near_dedup_drops_brightness_reupload(spark, tmp_path):
    """The perceptual media guard must drop a brightness-shifted
    re-upload (identical dHash, all bands collide) and a lightly-edited
    near-dup (shares >=1 band), keep a structurally different image, and
    match its batch twin's kept-id set across micro-batches."""
    import base64
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import multimodal as mm
    from lol_data_collection_system_spark.streaming.dedup import (
        media_near_dedup_stream,
    )

    w, h = 12, 10
    checker = [
        (40 + 90 * ((x * 3 + y * 7) % 2), 10, 20)
        for y in range(h)
        for x in range(w)
    ]
    other = [
        (10 + 13 * ((x // 2 + y) % 2), 10, 20)
        for y in range(h)
        for x in range(w)
    ]
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = [
        (1, t0, mm.encode_bmp(w, h, checker)),
        # brightness re-upload 10s later: same dHash -> dropped
        (2, t0 + dt.timedelta(seconds=10),
         mm.encode_bmp(w, h, [(r + 30, g + 30, b + 30) for r, g, b in checker])),
        # different structure in batch 2: kept
        (3, t0 + dt.timedelta(seconds=70), mm.encode_bmp(w, h, other)),
        # re-upload of image 1 arriving in batch 2: still dropped
        (4, t0 + dt.timedelta(seconds=80), mm.encode_bmp(w, h, checker)),
        # flush row far ahead: closes all emit windows
        (9, t0 + dt.timedelta(hours=2), mm.encode_bmp(2, 2, [(0, 0, 0)] * 4)),
    ]
    schema = T2.StructType(
        [
            T2.StructField("media_id", T2.LongType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("payload", T2.BinaryType()),
        ]
    )
    src = tmp_path / "media_src"
    out = tmp_path / "media_out"
    ckpt = tmp_path / "media_ckpt"
    src.mkdir()
    # json file source can't carry binary: ship payload b64 and decode
    for name, sel in [("f1", rows[:2]), ("f2", rows[2:])]:
        spark.createDataFrame(
            [(i, ts, base64.b64encode(p).decode()) for i, ts, p in sel],
            ["media_id", "ts", "payload_b64"],
        ).coalesce(1).write.json(str(src / name))

    raw_schema = T2.StructType(
        [
            T2.StructField("media_id", T2.LongType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("payload_b64", T2.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
        .select("media_id", "ts", F.unbase64("payload_b64").alias("payload"))
    )
    q = (
        media_near_dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept_stream = {
        r.media_id for r in spark.read.parquet(str(out)).collect()
    }
    assert kept_stream == {1, 3}  # 2 and 4 near-dup-dropped; 9 pending

    batch = (
        spark.read.schema(raw_schema)
        .json(str(src) + "/*")
        .select("media_id", "ts", F.unbase64("payload_b64").alias("payload"))
    )
    kept_batch = {
        r.media_id for r in media_near_dedup_stream(batch).collect()
    }
    assert kept_stream <= kept_batch and kept_batch - kept_stream == {9}


def test_media_near_dedup_survives_corrupt_payload(spark):
    """A corrupt/non-BMP payload must not kill the hashing stage: it
    gets a deterministic md5-derived stand-in hash (effectively unique)
    and flows through as a kept row."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import multimodal as mm
    from lol_data_collection_system_spark.streaming.dedup import (
        media_near_dedup_stream,
    )

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        (1, t0, mm.encode_bmp(2, 2, [(9, 9, 9)] * 4)),
        (2, t0 + dt.timedelta(seconds=5), b"\x00garbage not a bmp"),
        (3, t0 + dt.timedelta(seconds=9), b"BM\x01truncated header"),
        # textured (solid images all dHash to 0 and would collide) with
        # band bytes verified disjoint from the md5 stand-in hashes of
        # rows 2-3 (band-level candidates have no Hamming verify stage)
        (9, t0 + dt.timedelta(hours=2),
         mm.encode_bmp(12, 10,
                       [(40 + 90 * ((x // 2 + y) % 2), 10, 20)
                        for y in range(10) for x in range(12)])),
    ]
    schema = T2.StructType(
        [
            T2.StructField("media_id", T2.LongType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("payload", T2.BinaryType()),
        ]
    )
    batch = spark.createDataFrame(rows, schema)
    kept = {r.media_id for r in media_near_dedup_stream(batch).collect()}
    assert kept == {1, 2, 3, 9}  # corrupt blobs unique, nothing crashed


def test_stored_band_index_serves_identically(spark, tmp_path):
    """write_corpus_index(bands=) persists the (id, band_idx, band_hash)
    frame; consumers use it when the requested geometry matches (a pure
    cost skip — banding is a deterministic function of the shingles) and
    silently derive from the stored shingles otherwise. Both paths must
    classify bit-identically to the in-plan derivation."""
    from lol_data_collection_system_spark.operators.dedup import (
        incremental_dedup,
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.streaming import classify_stream

    corpus, delta = _bloom_classify_fixtures(spark)
    kw = dict(k=3, band_size=2, threshold=0.5, max_doc_freq=1)
    path = str(tmp_path / "banded_index")
    write_corpus_index(
        corpus, path, "doc_id", "text", 3, 1, bands=(16, 2), sets=True
    )
    idx = read_corpus_index(spark, path)
    assert idx.bands is not None and idx.sets is not None
    assert idx.bands_for(16, 2) is not None  # exact geometry: served
    assert idx.bands_for(16, 4) is None  # other geometry: derive
    assert idx.bands_for(8, 2) is None

    def rows(df):
        return {
            r.doc_id: (r.status, r.match_id, r.jaccard) for r in df.collect()
        }

    in_plan = rows(
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text", **kw
        )
    )
    served = rows(
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text",
            corpus_index=idx, **kw,
        )
    )
    assert served == in_plan
    # classify_stream from the same banded index agrees too
    assert rows(classify_stream(delta, corpus, corpus_index=idx, **kw)) == (
        in_plan
    )
    # a consumer at a DIFFERENT geometry falls back to deriving from the
    # stored shingles — correct for ITS geometry (== in-plan at 16/4)
    kw4 = dict(k=3, band_size=4, threshold=0.5, max_doc_freq=1)
    in_plan4 = rows(
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text", **kw4
        )
    )
    assert rows(
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text",
            corpus_index=idx, **kw4,
        )
    ) == in_plan4


def test_stored_index_consumers_reject_param_mismatch(spark, tmp_path):
    """A stored index probed under a DIFFERENT shingle size (or df-cap)
    has a disjoint band space — every near-dup would silently score
    novel (ADVICE r7). All three consumers must raise on the recorded
    meta, without the caller remembering read_corpus_index(expect=)."""
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        incremental_dedup,
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.streaming import (
        classify_stream,
        corpus_guard_stream,
    )

    corpus, delta = _bloom_classify_fixtures(spark)
    path = str(tmp_path / "k3_index")
    write_corpus_index(corpus, path, "doc_id", "text", 3, None)  # k=3
    idx = read_corpus_index(spark, path)
    assert idx.meta["k"] == 3  # the recorded derivation params travel
    with _pytest.raises(ValueError, match="incompatible"):
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text",
            k=4, corpus_index=idx,
        )
    with _pytest.raises(ValueError, match="incompatible"):
        classify_stream(delta, corpus, k=4, corpus_index=idx)
    with _pytest.raises(ValueError, match="incompatible"):
        corpus_guard_stream(delta, corpus, k=4, corpus_index=idx)
    # cap mismatch on the classifiers is the same exposure
    with _pytest.raises(ValueError, match="incompatible"):
        incremental_dedup(
            corpus, delta.select("doc_id", "text"), "doc_id", "text",
            k=3, max_doc_freq=2, corpus_index=idx,
        )


def test_corpus_guard_rejects_capped_stored_index(spark, tmp_path):
    """A df-capped stored index bands shingle sets missing every hot
    shingle — the guard must refuse it loudly rather than silently
    weaken the drop rule."""
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        read_corpus_index,
        write_corpus_index,
    )
    from lol_data_collection_system_spark.streaming import corpus_guard_stream

    corpus, delta = _bloom_classify_fixtures(spark)
    path = str(tmp_path / "capped_index")
    write_corpus_index(corpus, path, "doc_id", "text", 3, 1)  # capped!
    with _pytest.raises(ValueError, match="df-cap"):
        corpus_guard_stream(
            delta, corpus, band_size=2,
            corpus_index=read_corpus_index(spark, path),
        )


def test_ann_serve_stream_equals_batch_operator(spark, tmp_path):
    """Streaming ANN serving (foreachBatch over the stored IVF index)
    must equal the batch operator on the union of the micro-batches —
    structural stream==batch, since scoring is stateless per query."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import similarity as sim
    from lol_data_collection_system_spark.streaming.serve import (
        ann_serve_stream,
    )

    emb = spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(16)])
         for i in range(40)],
        ["vec_id", "embedding"],
    )
    index = sim.kmeans_assign(emb, k=4, iters=2)
    cents = sim.kmeans_centroids(emb, k=4, iters=2)
    # queries: perturbed corpus vectors, split into two stream files
    queries = [
        (100 + i,
         [v + 0.25 * ((i + d) % 3) for d, v in enumerate(
             [float(((i + 2) * (d2 + 5)) % 19) - 9.0 for d2 in range(16)])])
        for i in range(6)
    ]
    schema = T2.StructType([
        T2.StructField("query_id", T2.LongType()),
        T2.StructField("embedding", T2.ArrayType(T2.DoubleType())),
    ])
    src = tmp_path / "qsrc"
    src.mkdir()
    spark.createDataFrame(queries[:3], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(queries[3:], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = ann_serve_stream(
        stream, str(out_dir), str(ckpt), emb, index, cents, k=4
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out_dir))
        .drop("_batch_id")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in sim.ivf_serve_topk(
            spark.createDataFrame(queries, schema), emb, index, cents, k=4
        ).collect()
    )
    assert got == want
    assert len({t[0] for t in got}) == 6  # every query answered
    # per-query ranks are contiguous from 1
    by_q = {}
    for qid, _vid, rank, _cos in got:
        by_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())

    # sink replay (crash between write and checkpoint commit): re-running
    # a batch overwrites its own partition, never appends a second copy
    from lol_data_collection_system_spark.streaming.serve import (
        ann_serve_sink,
    )

    sink = ann_serve_sink(str(out_dir), emb, index, cents, k=4)
    replay_df = spark.createDataFrame(queries[:3], schema)
    sink(replay_df, 0)  # batch 0 delivered again
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out_dir))
        .drop("_batch_id")
        .collect()
    )
    assert again == want


def test_simhash128_local_matches_batch_operator(spark):
    """The row-local fold signature must equal dedup.simhash128's
    lane-packed aggregate bit for bit — the stream buckets must live in
    the batch fingerprint space."""
    from pyspark.sql import functions as F2

    from lol_data_collection_system_spark.operators.dedup import (
        simhash128,
        token_md5,
    )
    from lol_data_collection_system_spark.streaming.dedup import (
        simhash128_local,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "completely different words everywhere tonight"),
            (4, "one"),
            (5, "alpha beta gamma delta zeta"),
        ],
        ["doc_id", "text"],
    )
    want = {
        r.doc_id: (r.simhash_w0, r.simhash_w1)
        for r in simhash128(
            token_md5(docs, "doc_id", "text"), "doc_id"
        ).collect()
    }
    got = {
        r.doc_id: (r.s.w0, r.s.w1)
        for r in docs.select(
            "doc_id", simhash128_local("text").alias("s")
        ).collect()
    }
    assert got == want


def test_simhash_near_dedup_stream_equals_batch_and_drops_reupload(
    spark, tmp_path
):
    """Exact re-uploads lose every band and drop; distinct docs keep;
    the kept-id set equals the batch twin's across micro-batches."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.streaming.dedup import (
        simhash_near_dedup_stream,
    )

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", t0),
        (2, "a completely different document about spark plans", t0 + dt.timedelta(seconds=30)),
        # exact re-upload of 1 (same token set): must drop
        (3, "the quick brown fox jumps over the lazy dog", t0 + dt.timedelta(minutes=2)),
        # fresh content in the second file: must keep
        (4, "yet another unrelated piece of text entirely here", t0 + dt.timedelta(minutes=3)),
        # re-upload of 2 arriving later: must drop
        (5, "a completely different document about spark plans", t0 + dt.timedelta(minutes=4)),
    ]
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
        T2.StructField("ts", T2.TimestampType()),
    ])
    batch_df = spark.createDataFrame(rows, schema)
    src = tmp_path / "src"
    src.mkdir()
    cut = t0 + dt.timedelta(minutes=2, seconds=30)
    spark.createDataFrame(
        [r for r in rows if r[2] < cut], schema
    ).coalesce(1).write.json(str(src / "f1"))
    spark.createDataFrame(
        [r for r in rows if r[2] >= cut], schema
    ).coalesce(1).write.json(str(src / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"

    def sink(bdf, _bid):
        bdf.write.mode("append").parquet(str(out_dir))

    q = (
        simhash_near_dedup_stream(stream, watermark_delay="0 seconds")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept_stream = {
        r.doc_id for r in spark.read.parquet(str(out_dir)).collect()
    }
    kept_batch = {
        r.doc_id
        for r in simhash_near_dedup_stream(batch_df).collect()
    }
    assert kept_stream == kept_batch == {1, 2, 4}


def test_ivf_ingest_stream_builds_versioned_index(spark, tmp_path):
    """Streaming ingest folds micro-batches into the versioned index
    store: final content == the batch route of all vectors; a
    fresh-checkpoint re-run over the same files leaves the content
    unchanged (content-keyed idempotency, not batch-id-keyed); serving
    from the store equals serving from the in-memory merge."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import similarity as sim
    from lol_data_collection_system_spark.streaming.serve import (
        ivf_ingest_stream,
        read_ivf_index,
    )

    base_emb = spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(16)])
         for i in range(20)],
        ["vec_id", "embedding"],
    )
    cents = sim.kmeans_centroids(base_emb, k=4, iters=2)
    deltas = [
        (100 + i, [float(((i + 7) * (d + 3)) % 17) - 8.0 for d in range(16)])
        for i in range(8)
    ]
    schema = T2.StructType([
        T2.StructField("vec_id", T2.LongType()),
        T2.StructField("embedding", T2.ArrayType(T2.DoubleType())),
    ])
    src = tmp_path / "vsrc"
    src.mkdir()
    spark.createDataFrame(deltas[:4], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(deltas[4:], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )

    def run(ckpt_name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = ivf_ingest_stream(
            stream, str(tmp_path / "store"), str(tmp_path / ckpt_name),
            cents,
        )
        q.awaitTermination(120)

    run("ckpt1")
    got = {
        r.vec_id: r.cid
        for r in read_ivf_index(spark, str(tmp_path / "store")).collect()
    }
    empty = spark.createDataFrame([], "vec_id bigint, cid bigint")
    want = {
        r.vec_id: r.cid
        for r in sim.ivf_index_append(
            empty, spark.createDataFrame(deltas, schema), cents
        ).collect()
    }
    assert got == want and len(got) == 8

    # fresh checkpoint, same files: content unchanged
    run("ckpt2")
    again = {
        r.vec_id: r.cid
        for r in read_ivf_index(spark, str(tmp_path / "store")).collect()
    }
    assert again == got

    # serving from the store == serving from the in-memory merge
    queries = spark.createDataFrame(deltas[:2], schema).select(
        F2.col("vec_id").alias("query_id"), "embedding"
    )
    # the store indexes only the DELTAS (base_emb was never ingested),
    # so the vector side must cover the delta ids
    all_vecs = base_emb.unionByName(spark.createDataFrame(deltas, schema))
    from_store = sorted(
        tuple(r)
        for r in sim.ivf_serve_topk(
            queries, all_vecs,
            read_ivf_index(spark, str(tmp_path / "store")), cents, k=3,
        ).collect()
    )
    in_mem = sorted(
        tuple(r)
        for r in sim.ivf_serve_topk(
            queries, all_vecs,
            sim.ivf_index_append(
                empty, spark.createDataFrame(deltas, schema), cents
            ),
            cents, k=3,
        ).collect()
    )
    assert from_store == in_mem and len(from_store) > 0


def test_corpus_ingest_stream_self_grows_and_replays_exactly(
    spark, tmp_path
):
    """Batch 2 must dedupe against batch 1's novel survivors (the
    static-corpus guard cannot); a fresh-checkpoint rerun reproduces the
    statuses and index content exactly (self-exclusion on replay)."""
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators.dedup import (
        read_corpus_index,
    )
    from lol_data_collection_system_spark.streaming.dedup import (
        corpus_ingest_stream,
    )

    base_text = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank and then sleeps through the afternoon sun"
    )
    rows_f1 = [
        (1, base_text),
        (2, "an entirely different document about query planning here"),
    ]
    rows_f2 = [
        (3, base_text),  # exact copy of batch-1 novel doc 1
        (4, base_text + " extra tail"),  # near-dup of doc 1
        (5, "yet another unrelated text about window functions only"),
    ]
    schema = T2.StructType([
        T2.StructField("doc_id", T2.LongType()),
        T2.StructField("text", T2.StringType()),
    ])
    src = tmp_path / "dsrc"
    src.mkdir()
    spark.createDataFrame(rows_f1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(rows_f2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = corpus_ingest_stream(
            stream,
            str(tmp_path / "idx"),
            str(tmp_path / "statuses"),
            str(tmp_path / ckpt),
            threshold=0.3,
        )
        q.awaitTermination(120)

    run("ckpt1")
    statuses = {
        r.doc_id: (r.status, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "statuses")).collect()
    }
    assert statuses[1][0] == "novel" and statuses[2][0] == "novel"
    assert statuses[3] == ("exact_dup", 1)
    assert statuses[4][0] == "near_dup" and statuses[4][1] == 1
    assert statuses[5][0] == "novel"
    idx_fp, _sh, _hot = read_corpus_index(spark, str(tmp_path / "idx"))
    indexed = {r["_exact_match_id"] for r in idx_fp.collect()}
    assert indexed == {1, 2, 5}

    # fresh checkpoint, same files: statuses and index content unchanged
    run("ckpt2")
    again = {
        r.doc_id: (r.status, r.match_id)
        for r in spark.read.parquet(str(tmp_path / "statuses")).collect()
    }
    assert again == statuses
    idx_fp2, _sh2, _hot2 = read_corpus_index(spark, str(tmp_path / "idx"))
    assert {r["_exact_match_id"] for r in idx_fp2.collect()} == {1, 2, 5}


def test_media_corpus_guard_drops_corpus_reuploads(spark, tmp_path):
    """Re-uploads (including brightness-shifted ones) of EXISTING corpus
    assets drop; genuinely new structure passes; stream == batch."""
    import base64
    import datetime as dt

    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import multimodal as mm
    from lol_data_collection_system_spark.streaming.dedup import (
        media_corpus_guard_stream,
    )

    w, h = 12, 10
    checker = [
        (40 + 90 * ((x * 3 + y * 7) % 2), 10, 20)
        for y in range(h)
        for x in range(w)
    ]
    other = [
        (10 + 13 * ((x // 2 + y) % 2), 10, 20)
        for y in range(h)
        for x in range(w)
    ]
    corpus = spark.createDataFrame(
        [(100, bytearray(mm.encode_bmp(w, h, checker)))],
        ["media_id", "payload"],
    )
    corpus_phash = mm.phash_images(corpus).select("phash")

    t0 = dt.datetime(2024, 5, 1, 0, 0, 0)
    rows = [
        # brightness-shifted re-upload of the corpus asset: dropped
        (1, t0, mm.encode_bmp(
            w, h, [(r + 30, g + 30, b + 30) for r, g, b in checker])),
        # new structure: kept
        (2, t0 + dt.timedelta(seconds=30), mm.encode_bmp(w, h, other)),
        # flush row far ahead: closes all emit windows
        (9, t0 + dt.timedelta(hours=2),
         mm.encode_bmp(2, 2, [(0, 0, 0)] * 4)),
    ]
    schema = T2.StructType([
        T2.StructField("media_id", T2.LongType()),
        T2.StructField("ts", T2.TimestampType()),
        T2.StructField("payload", T2.BinaryType()),
    ])
    batch_df = spark.createDataFrame(
        [(i, ts, bytearray(p)) for i, ts, p in rows], schema
    )

    src = tmp_path / "mc_src"
    src.mkdir()
    spark.createDataFrame(
        [(i, ts, base64.b64encode(p).decode()) for i, ts, p in rows],
        ["media_id", "ts", "payload_b64"],
    ).coalesce(1).write.json(str(src / "f1"))
    raw_schema = T2.StructType([
        T2.StructField("media_id", T2.LongType()),
        T2.StructField("ts", T2.TimestampType()),
        T2.StructField("payload_b64", T2.StringType()),
    ])
    stream = (
        spark.readStream.schema(raw_schema)
        .json(str(src) + "/*")
        .select(
            "media_id", "ts",
            F2.unbase64(F2.col("payload_b64")).alias("payload"),
        )
    )
    out, ckpt = tmp_path / "mc_out", tmp_path / "mc_ckpt"

    def sink(bdf, _bid):
        bdf.write.mode("append").parquet(str(out))

    q = (
        media_corpus_guard_stream(stream, corpus_phash)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(ckpt))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept_stream = {
        r.media_id for r in spark.read.parquet(str(out)).collect()
    }
    kept_batch = {
        r.media_id
        for r in media_corpus_guard_stream(batch_df, corpus_phash).collect()
    }
    # row 9 is the flush row: its OWN emit window stays open at
    # end-of-stream (append mode), so the stream emits the closed
    # windows only — batch sees it, both agree on everything closed
    assert kept_stream == {2}
    assert kept_batch == {2, 9}


def test_media_guard_payload_hash_dispatches_audio(spark):
    """The shared payload fingerprint dispatches on container magic:
    a gain-scaled WAV re-upload loses every band to the original in the
    batch twin of the media guard (audio joins the perceptual dedup)."""
    import datetime as dt

    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import multimodal as mm
    from lol_data_collection_system_spark.streaming.dedup import (
        media_near_dedup_stream,
    )

    # clips longer than the 65-tap grid, so every tap is a distinct
    # sample and the fingerprint has full entropy — the guard's banding
    # is candidate-level (no Hamming verify online), so degenerate
    # super-short clips with near-empty fingerprints would share their
    # zero bands and over-drop; that regime belongs to the verified
    # components path (audio_near_dup), not the ingest guard
    wave = [((i * 37 + 11) % 19) - 9 for i in range(130)]
    other = [((i * 53 + 5) % 23) - 11 for i in range(130)]
    t0 = dt.datetime(2024, 6, 1)
    rows = [
        (1, t0, bytearray(mm.encode_wav(16000, wave))),
        # louder re-upload 10s later: same ahash -> dropped
        (2, t0 + dt.timedelta(seconds=10),
         bytearray(mm.encode_wav(16000, [s * 40 for s in wave]))),
        # different waveform: kept
        (3, t0 + dt.timedelta(seconds=20),
         bytearray(mm.encode_wav(16000, other))),
    ]
    media = spark.createDataFrame(
        rows,
        T2.StructType([
            T2.StructField("media_id", T2.LongType()),
            T2.StructField("ts", T2.TimestampType()),
            T2.StructField("payload", T2.BinaryType()),
        ]),
    )
    kept = {r.media_id for r in media_near_dedup_stream(media).collect()}
    assert kept == {1, 3}


def test_ivf_ingest_writes_delta_bytes_and_autocompacts(spark, tmp_path):
    """The stored ingest path holds ivf_index_append's cost claim
    (VERDICT r8 #1): each micro-batch version writes only the DELTA's
    part-files and hardlinks the rest forward — fresh bytes per batch
    are flat while the index grows — and once the part-file count
    crosses the compaction threshold the sink self-compacts to a
    content-identical coalesced version (VERDICT r8 #4)."""
    import os

    from lol_data_collection_system_spark.operators import similarity as sim
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
        data_files,
    )
    from lol_data_collection_system_spark.streaming.serve import (
        ivf_ingest_sink,
        read_ivf_index,
    )

    base_emb = spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(16)])
         for i in range(20)],
        ["vec_id", "embedding"],
    )
    cents = sim.kmeans_centroids(base_emb, k=4, iters=2)
    store = str(tmp_path / "store")

    def batch(lo, n):
        return spark.createDataFrame(
            [(lo + i,
              [float(((lo + i + 7) * (d + 3)) % 17) - 8.0
               for d in range(16)])
             for i in range(n)],
            ["vec_id", "embedding"],
        ).coalesce(1)

    # compaction OFF: measure per-batch fresh (non-hardlinked) bytes
    sink = ivf_ingest_sink(store, cents, compact_files=None)
    fresh_bytes, total_rows = [], 0
    for b in range(6):
        sink(batch(100 * (b + 1), 4), b)
        total_rows += 4
        vdir, _ = current_version(store)
        stats = [os.stat(f) for f in data_files(os.path.join(vdir, "index"))]
        # fresh files have link count 1 inside this version until the
        # NEXT append links them forward; hardlinked carry-overs have
        # nlink >= 2 (previous version still holds them)
        fresh_bytes.append(
            sum(s.st_size for s in stats if s.st_nlink == 1)
        )
    # fresh bytes stay flat (one 4-row file) while the index grows 6x
    assert max(fresh_bytes) <= 2 * min(b for b in fresh_bytes if b > 0)
    got = {r.vec_id: r.cid for r in read_ivf_index(spark, store).collect()}
    assert len(got) == total_rows

    # replayed batch: delta is empty -> no new version committed
    vdir_before, _ = current_version(store)
    sink(batch(100, 4), 0)
    vdir_after, _ = current_version(store)
    assert vdir_after == vdir_before

    # compaction ON with a tiny threshold: content identical, file
    # count bounded
    sink2 = ivf_ingest_sink(store, cents, compact_files=4)
    for b in range(4):
        sink2(batch(1000 + 100 * b, 3), 10 + b)
    vdir, _ = current_version(store)
    n_files = len(data_files(os.path.join(vdir, "index")))
    assert n_files <= 4
    merged = {
        r.vec_id: r.cid for r in read_ivf_index(spark, store).collect()
    }
    # expectation: route every ingested vector in one in-plan append
    all_ingested = spark.createDataFrame(
        [(100 * (b + 1) + i,
          [float(((100 * (b + 1) + i + 7) * (d + 3)) % 17) - 8.0
           for d in range(16)])
         for b in range(6) for i in range(4)]
        + [(1000 + 100 * b + i,
            [float(((1000 + 100 * b + i + 7) * (d + 3)) % 17) - 8.0
             for d in range(16)])
           for b in range(4) for i in range(3)],
        ["vec_id", "embedding"],
    )
    want = {
        r.vec_id: r.cid
        for r in sim.ivf_index_append(
            spark.createDataFrame([], "vec_id bigint, cid bigint"),
            all_ingested, cents,
        ).collect()
    }
    assert merged == want


def test_ivfadc_serve_stream_equals_batch_funnel(spark, tmp_path):
    """The streamed IVFADC + exact-refine funnel (foreachBatch over the
    four stored artifacts) must equal the batch funnel on the union of
    the micro-batches — stateless per query, so stream==batch is
    structural; replaying a batch overwrites its own partition."""
    from pyspark.sql import functions as F2
    from pyspark.sql import types as T2

    from lol_data_collection_system_spark.operators import similarity as sim
    from lol_data_collection_system_spark.streaming.serve import (
        ivfadc_serve_sink,
        ivfadc_serve_stream,
    )

    emb = spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(16)])
         for i in range(40)],
        ["vec_id", "embedding"],
    )
    n_sub, sub_dim = 2, 8
    index = sim.kmeans_assign(emb, k=3, iters=2)
    cents = sim.kmeans_centroids(emb, k=3, iters=2)
    res = index.join(emb, "vec_id").join(
        F2.broadcast(cents), "cid"
    ).select(
        "vec_id",
        F2.zip_with(
            F2.col("embedding"), F2.col("cvec"), lambda a, b: a - b
        ).alias("embedding"),
    )
    books = sim.pq_codebooks(res, n_sub, sub_dim, n_centroids=4)
    codes = sim.pq_encode(res, books, n_sub, sub_dim)

    queries = [
        (100 + i,
         [v + 0.25 * ((i + d) % 3) for d, v in enumerate(
             [float(((i + 2) * (d2 + 5)) % 19) - 9.0 for d2 in range(16)])])
        for i in range(6)
    ]
    schema = T2.StructType([
        T2.StructField("query_id", T2.LongType()),
        T2.StructField("embedding", T2.ArrayType(T2.DoubleType())),
    ])
    src = tmp_path / "qsrc"
    src.mkdir()
    spark.createDataFrame(queries[:3], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(queries[3:], schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out_dir, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = ivfadc_serve_stream(
        stream, str(out_dir), str(ckpt), emb, index, cents, books, codes,
        k=3, refine=8, n_subspaces=n_sub, sub_dim=sub_dim,
    )
    q.awaitTermination(120)

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out_dir))
        .drop("_batch_id")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in sim.ivfadc_refine_topk(
            spark.createDataFrame(queries, schema), emb, index, cents,
            books, codes, k=3, refine=8,
            n_subspaces=n_sub, sub_dim=sub_dim,
        ).collect()
    )
    assert got == want
    assert len({t[0] for t in got}) == 6  # every query answered

    # replayed batch rewrites its own partition in place
    sink = ivfadc_serve_sink(
        str(out_dir), emb, index, cents, books, codes,
        k=3, refine=8, n_subspaces=n_sub, sub_dim=sub_dim,
    )
    sink(spark.createDataFrame(queries[:3], schema), 0)
    again = sorted(
        tuple(r)
        for r in spark.read.parquet(str(out_dir))
        .drop("_batch_id")
        .collect()
    )
    assert again == want


def test_read_ingest_statuses_latest_wins(spark, tmp_path):
    """A rerun under a different file->batch split can leave one doc in
    two batch partitions with disagreeing statuses; the reader collapses
    to the latest batch's row (ADVICE r8)."""
    import datetime as dt

    from pyspark.sql import functions as F2

    from lol_data_collection_system_spark.streaming.dedup import (
        read_ingest_statuses,
    )

    w = F2.struct(
        F2.lit(dt.datetime(2024, 1, 1)).alias("start"),
        F2.lit(dt.datetime(2024, 1, 1, 0, 1)).alias("end"),
    )
    out = str(tmp_path / "statuses")
    for bid, rows in [
        (0, [(1, "novel", -1, 0.0), (2, "novel", -1, 0.0)]),
        (3, [(2, "exact_dup", 1, 1.0), (5, "novel", -1, 0.0)]),
    ]:
        (
            spark.createDataFrame(
                rows, "doc_id long, status string, match_id long, jaccard double"
            )
            .select(w.alias("window"), "*")
            .withColumn("_batch_id", F2.lit(bid))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )
    got = {
        r.doc_id: r.status
        for r in read_ingest_statuses(spark, out).collect()
    }
    assert got == {1: "novel", 2: "exact_dup", 5: "novel"}
