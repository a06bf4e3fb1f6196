"""Streaming ANN serving: score a STREAM of incoming query vectors
against stored index artifacts, emitting per-query top-k matches.

The online half of the stored-serving story (SURVEY §2.11): the corpus
index (IVF assignment + centroids) is trained once and persisted; the
ingest path then answers every arriving vector — retrieval serving,
"find my near-neighbors before admitting this document", embedding
joins — without ever retraining or rescanning the corpus beyond the
probed cells.

Design: per-query top-k needs a rank window, which Structured
Streaming's append mode cannot run incrementally — but the scoring is
STATELESS per query (each query's answer depends only on the static
index), so the exact batch semantics drop out of `foreachBatch`
applying the BATCH operator (`similarity.ivf_serve_topk`) to each
micro-batch. stream == batch is structural, not approximate: the union
of per-batch results equals the batch operator on the union of inputs,
row for row (pinned by pytest). State is zero; the sink partitions by
batch id and dynamically OVERWRITES only that partition, so a replayed
batch (crash between write and checkpoint commit) rewrites its own
deterministic rows in place instead of appending duplicates — pinned
by the sink-replay pytest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.similarity import ivf_serve_topk

__all__ = [
    "ann_serve_sink",
    "ann_serve_stream",
    "delete_from_ivf_store",
    "ivfadc_serve_sink",
    "ivfadc_serve_stream",
    "ivf_ingest_sink",
    "ivf_ingest_stream",
    "read_ivf_centroids",
    "read_ivf_index",
]


def ann_serve_sink(
    out_dir: str,
    emb: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """foreachBatch body: batch-exact ANN serving of each micro-batch of
    query vectors, appended to `out_dir` as parquet. Kept separate from
    the wiring so tests (and backfills) can call it on a static frame."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        out = ivf_serve_topk(
            batch_df,
            emb,
            index,
            centroids,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        # replay-idempotent: a re-delivered batch overwrites ITS OWN
        # partition (deterministic rows), never appends a second copy
        (
            out.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return sink


def ann_serve_stream(
    queries_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    emb: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """Wire a query-vector stream into stored-index ANN serving; returns
    the StreamingQuery (availableNow — swap the trigger for continuous
    serving)."""
    return (
        queries_stream.writeStream.foreachBatch(
            ann_serve_sink(
                out_dir,
                emb,
                index,
                centroids,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                query_id_col=query_id_col,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def ivfadc_serve_sink(
    out_dir: str,
    emb: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 5,
    refine: int = 20,
    n_subspaces: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """foreachBatch body: the COMPLETE IVFADC + exact-refine funnel
    (`similarity.ivfadc_refine_topk`) applied batch-exactly to each
    micro-batch of query vectors — route by stored centroids, ADC-scan
    the routed cell's stored CODE rows, exact-rerank the shortlist —
    appended to `out_dir` as parquet. Stateless per query like the
    plain-IVF server, so the union of per-batch results equals the
    batch funnel on the union of inputs row for row (VERDICT r8 #6);
    replay overwrites the batch's own deterministic partition."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from ..operators.similarity import ivfadc_refine_topk

        out = ivfadc_refine_topk(
            batch_df,
            emb,
            index,
            centroids,
            codebooks,
            codes,
            k=k,
            refine=refine,
            n_subspaces=n_subspaces,
            sub_dim=sub_dim,
            id_col=id_col,
            vec_col=vec_col,
            query_id_col=query_id_col,
        )
        (
            out.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )

    return sink


def ivfadc_serve_stream(
    queries_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    emb: DataFrame,
    index: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    k: int = 5,
    refine: int = 20,
    n_subspaces: int = 2,
    sub_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
):
    """Wire a query-vector stream into the stored-artifact IVFADC
    refine funnel; returns the StreamingQuery (availableNow — swap the
    trigger for continuous serving). All four serving artifacts
    (assignment, centroids, residual codebooks, code table) sit on the
    static side; per-batch reads are bounded by the probed cells' code
    rows plus refine×|batch| full vectors."""
    return (
        queries_stream.writeStream.foreachBatch(
            ivfadc_serve_sink(
                out_dir,
                emb,
                index,
                centroids,
                codebooks,
                codes,
                k=k,
                refine=refine,
                n_subspaces=n_subspaces,
                sub_dim=sub_dim,
                id_col=id_col,
                vec_col=vec_col,
                query_id_col=query_id_col,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_ivf_index(spark: SparkSession, store_root: str) -> DataFrame:
    """The committed (id, cid) assignment of a versioned IVF index
    store — what `ivf_serve_topk` takes as ``index``. Raises before the
    first commit (an unbuilt index must not silently serve empty).
    Pending tombstones (`delete_from_ivf_store`) anti-join out here, so
    deleted vectors stop serving the instant the delete commits."""
    from pyspark.sql import functions as F

    from ..sources.versioned import current_version

    cur = current_version(store_root)
    if cur is None:
        raise FileNotFoundError(
            f"no committed IVF index at {store_root}: run the ingest "
            f"stream (or ivf_index_append + commit) first"
        )
    vdir, meta = cur
    idx = spark.read.parquet(os.path.join(vdir, "index"))
    if meta.get("has_tombstones"):
        key = meta["tombstone_keys"]["index"]
        tombs = spark.read.parquet(os.path.join(vdir, "tombstones"))
        idx = idx.join(
            F.broadcast(tombs.select(F.col("_tomb_id").alias(key))),
            key,
            "left_anti",
        )
    return idx


def delete_from_ivf_store(
    spark: SparkSession,
    store_root: str,
    delete_ids: DataFrame,
    id_col: str = "vec_id",
) -> bool:
    """Right-to-be-forgotten against the versioned IVF serving store
    (VERDICT r9 #1): commit an O(delete-set) tombstone version —
    `read_ivf_index` anti-joins the deleted vectors out immediately,
    and the next `compact_version` pass (the ingest sink's
    ``compact_files`` watcher, or a direct call) rewrites the
    assignment minus those rows, so deletion never needs a full store
    rebuild. Replayed delete batches are no-ops. Tombstoned ids count
    as EXISTING for `ivf_ingest_sink`'s anti-join until the purge, so
    a deleted vector cannot silently re-enter the serving set — and
    can be re-ingested after compaction. Requests for ids ABSENT from
    the store are dropped, so a replayed batch stays a no-op even
    after the purge removed its tombstones. Returns True iff a version
    was committed."""
    from pyspark.sql import functions as F

    from ..sources.versioned import append_tombstones, current_version

    cur = current_version(store_root)
    if cur is None:
        raise FileNotFoundError(
            f"no committed IVF index at {store_root}: nothing to delete"
        )
    present = spark.read.parquet(os.path.join(cur[0], "index")).select(
        F.col(id_col).alias("_tomb_id")
    )
    fresh = (
        delete_ids.toDF("_tomb_id")
        .distinct()
        .join(present, "_tomb_id", "left_semi")
    )
    return append_tombstones(
        spark, store_root, fresh, key_cols={"index": id_col}
    )


def read_ivf_centroids(spark: SparkSession, store_root: str):
    """The stored centroid frame of a versioned IVF store, or None when
    the store has never retrained (centroids then live wherever the
    caller trained them). A skew-triggered rebuild
    (`ivf_ingest_sink(skew_ratio=, retrain=)`) commits the NEW
    centroids into the store, so serve-side readers must prefer these
    over any caller-held frame."""
    from ..sources.versioned import current_version

    cur = current_version(store_root)
    if cur is None:
        return None
    vdir, meta = cur
    if not meta.get("has_centroids"):
        return None
    return spark.read.parquet(os.path.join(vdir, "centroids"))


def ivf_ingest_sink(
    store_root: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_files: int | None = 64,
    skew_ratio: float | None = None,
    retrain=None,
):
    """foreachBatch body: fold each micro-batch of NEW vectors into the
    versioned (id, cid) index store — continuous ingest into the
    serving index with zero retraining. Idempotency is CONTENT-keyed,
    deliberately not batch-id-keyed: the id anti-join inside
    `ivf_index_delta` makes a replayed (or fresh-checkpoint
    re-delivered) batch fold to the identical index — a batch-id
    watermark would instead silently SKIP genuinely new vectors after a
    checkpoint reset, since fresh checkpoints restart batch ids at 0
    (the scd2 sink keys on data-derived version stamps for the same
    reason). A replayed batch's delta is EMPTY, so it commits nothing
    at all; `commit_version`'s compare-and-swap still raises on a
    concurrent writer instead of losing its fold.

    Per-batch cost tracks the DELTA, stored path included (VERDICT r8
    #1): the new version writes ONLY `ivf_index_delta`'s rows as fresh
    part-files and HARDLINKS every data file of the previous version's
    index forward (`versioned.carry_forward` — O(file count) metadata
    ops, zero data copy, cross-filesystem roots degrade to copies).
    Previously each micro-batch rewrote the full ``index ∪ fresh``
    frame — at 10⁹ vectors the difference between ~16 GB and ~16 KB
    written per batch. The committed version stays COMPLETE (every
    assignment row under one version dir), so readers
    and the crash-safety argument are unchanged.

    ``compact_files``: the append grows one part-file set per batch;
    when the index subdir crosses this many data files the sink
    triggers `versioned.compact_version` (content-identical coalesced
    rewrite, its own CAS-guarded commit) — the store self-heals
    without an external scheduler (VERDICT r8 #4). None disables.

    ``skew_ratio`` + ``retrain`` wire the drift audit to a maintenance
    ACTION (VERDICT r9 #2/#3): frozen-centroid routing under drifting
    ingest piles vectors into few cells, so probe cost grows as O(hot
    cell) while recall sweeps can look fine. The sink maintains
    per-cell occupancy counters in the version meta (seeded by ONE
    count over the base index, then folded O(delta) per batch — never
    a store scan on the ingest path) and, when the hottest cell's load
    factor (``n_hot · k / n_total``, 1.0 = balanced) exceeds
    ``skew_ratio``, calls ``retrain(spark) -> (index_df,
    centroids_df)`` and commits the result as a REBUILD version: fresh
    index + the NEW centroids stored under ``centroids`` (serve-side
    readers pick them up via `read_ivf_centroids`; later batches route
    against them), counters reset from the new assignment, pending
    tombstones dropped (the retrain source is the logical corpus — the
    caller's retrain must read through its own deletion filter).
    Counters track the PHYSICAL index (tombstoned rows included until
    purge) — overcounting only fires the trigger earlier, never
    silently late. Both None disables (the r9 behavior)."""
    from pyspark.sql import functions as F

    from ..operators.similarity import ivf_index_delta
    from ..sources.versioned import (
        carry_forward,
        commit_version,
        compact_version,
        current_version,
    )

    if (skew_ratio is None) != (retrain is None):
        raise ValueError(
            "ivf_ingest_sink: skew_ratio and retrain come together — a "
            "threshold with no action (or an action with no trigger) is "
            "dead configuration"
        )

    def _counts_of(idx_df) -> dict:
        return {
            str(r["cid"]): int(r["n"])
            for r in idx_df.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # k-row pull, bounded by the trained k
        }

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = current_version(store_root)
        if cur is None:
            prev_dir = None
            base = spark.createDataFrame(
                [], f"{id_col} bigint, cid bigint"
            )
        else:
            prev_dir, _meta = cur
            base = spark.read.parquet(os.path.join(prev_dir, "index"))
        # a retrain committed new centroids: later batches route by them
        cents = centroids
        stored_cents = read_ivf_centroids(spark, store_root)
        if stored_cents is not None:
            cents = stored_cents
        # pin the delta: consumed twice (emptiness probe + write), and
        # the probe must not race a concurrent store commit
        fresh = ivf_index_delta(
            base, batch_df, cents, id_col=id_col, vec_col=vec_col
        ).localCheckpoint(eager=True)
        if not fresh.take(1):
            # fixed point: replayed or all-duplicate batch — the store
            # already holds every row this fold would produce. Skipping
            # also keeps an empty FIRST batch from committing a
            # schema-less parquet dir (only _SUCCESS) that would wedge
            # every later read.
            return

        prior_meta = {} if cur is None else dict(cur[1])
        new_meta = {**prior_meta, "last_batch_id": int(batch_id)}
        if skew_ratio is not None:
            counts = prior_meta.get("cell_counts")
            if counts is None:
                counts = _counts_of(base)  # once per store lifetime
            counts = dict(counts)
            for cid, n in _counts_of(fresh).items():
                counts[cid] = counts.get(cid, 0) + n
            new_meta["cell_counts"] = counts

        def writer(vdir: str) -> None:
            fresh.write.parquet(os.path.join(vdir, "index"))
            # every NON-index subdir (pending tombstones, stored
            # centroids) links forward whole — an ingest between a
            # delete and its purge must not resurrect the deleted
            # vectors
            carry_forward(prev_dir, vdir, append=("index",))

        commit_version(
            store_root, writer, new_meta, expect_current=prev_dir
        )

        if skew_ratio is not None:
            counts = new_meta["cell_counts"]
            total = sum(counts.values())
            k = cents.count()  # k-row frame
            hot = max(counts.values(), default=0)
            if total and k and hot * k > skew_ratio * total:
                new_idx, new_cents = retrain(spark)
                new_idx = new_idx.select(F.col(id_col), F.col("cid"))
                # the retrain provider's corpus store may LAG the
                # stream (ADVICE r10): nothing guarantees the batch
                # this sink just committed is in the retrain source,
                # and the advanced checkpoint means no replay would
                # restore it. Route the batch's novel vectors against
                # the NEW centroids and union them in — ids the retrain
                # already covers anti-join out inside ivf_index_delta,
                # so a non-lagging provider commits identical rows.
                batch_carry = ivf_index_delta(
                    new_idx,
                    batch_df.join(
                        fresh.select(F.col(id_col)), id_col, "left_semi"
                    ),
                    new_cents,
                    id_col=id_col,
                    vec_col=vec_col,
                )
                new_idx = new_idx.unionByName(
                    batch_carry
                ).localCheckpoint(eager=True)
                reb_dir, _m = current_version(store_root)

                def rebuild_writer(vdir: str) -> None:
                    new_idx.write.parquet(
                        os.path.join(vdir, "index")
                    )
                    new_cents.write.parquet(
                        os.path.join(vdir, "centroids")
                    )

                commit_version(
                    store_root,
                    rebuild_writer,
                    {
                        "last_batch_id": int(batch_id),
                        "has_centroids": True,
                        "rebuilds": int(new_meta.get("rebuilds", 0)) + 1,
                        "cell_counts": _counts_of(new_idx),
                        "has_tombstones": False,
                    },
                    expect_current=reb_dir,
                )
        if compact_files is not None:
            compact_version(spark, store_root, compact_files)

    return sink


def ivf_ingest_stream(
    vec_stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_files: int | None = 64,
    skew_ratio: float | None = None,
    retrain=None,
):
    """Wire a new-vector stream into the versioned IVF index store;
    returns the StreamingQuery (availableNow — swap the trigger for
    continuous ingestion). Pair with `read_ivf_index` +
    `ivf_serve_topk` on the query side; ``skew_ratio``/``retrain``
    wire the occupancy-skew trigger (see `ivf_ingest_sink`)."""
    return (
        vec_stream.writeStream.foreachBatch(
            ivf_ingest_sink(
                store_root, centroids, id_col, vec_col, compact_files,
                skew_ratio, retrain,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
