"""Streaming k-anonymous release gate (round 10): publish a stream of
rows ONLY as their quasi-identifier groups reach size >= k — the online
enforcement of the audit `validation.k_anonymity_profile` makes offline.

A batch release can filter sub-k groups after the fact; a stream cannot
wait for the corpus to finish. The gate quarantines rows whose
CUMULATIVE quasi group (published ∪ quarantined ∪ this batch) is still
below k and releases the whole group — quarantined backlog included —
the moment it crosses. Group sizes only grow, so a published row can
never retroactively violate: the final published set equals the batch
filter "rows in groups of total size >= k" over the full input,
regardless of batch boundaries (pinned by pytest).

Cost shape: per batch, the gate probes a per-group size side table
(`gsizes` — one row per touched group per commit, folded by sum at
probe time and physically merged by `compact_version`'s fold_sums
mechanism), so the ingest path reads O(distinct groups), never the
published rows. The replay-idempotency id probe is broadcast-scoped
(semi-join of the stored ids against the broadcast batch — map-side
columnar read, no corpus-sized shuffle; VERDICT r10 #4). Published
rows hardlink forward (O(delta) writes); only the (sub-k,
bounded-by-quarantined-groups) quarantine rewrites.

Replay correctness: idempotency is CONTENT-keyed on the id column —
ids already published or quarantined anti-join out, so a replayed or
fresh-checkpoint-re-delivered batch commits nothing new.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = [
    "k_anon_release_sink",
    "k_anon_release_stream",
    "l_div_release_sink",
    "t_close_release_sink",
    "read_released",
]


def read_released(spark, store_root: str) -> DataFrame:
    """The published (k-anonymous) rows of a release-gate store."""
    import os

    from ..sources.versioned import current_version

    cur = current_version(store_root)
    if cur is None:
        raise FileNotFoundError(
            f"no committed release store at {store_root}"
        )
    return spark.read.parquet(os.path.join(cur[0], "published"))


def k_anon_release_sink(
    store_root: str,
    quasi_cols: list[str],
    k: int,
    id_col: str = "row_id",
):
    """foreachBatch body for the k-anonymous release gate. Store
    layout: ``published`` (released rows, append-by-hardlink),
    ``quarantine`` (sub-k rows, rewritten whole — bounded by the sub-k
    group mass), ``gsizes`` ((quasi..., n) delta rows, folded by sum —
    the probe side table)."""
    import os
    from pathlib import Path

    from ..sources.versioned import (
        _link_tree,
        commit_version,
        current_version,
        data_files,
        link_or_copy,
    )

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("k_anon_release_sink: no quasi columns")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = current_version(store_root)
        if cur is None:
            prev_dir = None
            quarantine = batch_df.limit(0)
            gsizes = (
                batch_df.limit(0)
                .select(*quasi_cols)
                .withColumn("n", F.lit(0).cast("bigint"))
            )
            seen = batch_df.limit(0).select(F.col(id_col))
        else:
            prev_dir, _meta = cur
            quarantine = spark.read.parquet(
                os.path.join(prev_dir, "quarantine")
            )
            gsizes = spark.read.parquet(os.path.join(prev_dir, "gsizes"))
            seen = (
                spark.read.parquet(os.path.join(prev_dir, "published"))
                .select(F.col(id_col))
                .unionByName(quarantine.select(F.col(id_col)))
            )
        # within-batch duplicate ids dedup BEFORE the seen probe (ADVICE
        # r10): a batch carrying the same id twice must not double-count
        # toward k or publish duplicate rows (mirrors rtbf.deletion_sink's
        # .distinct() on its request batch)
        batch_rows = batch_df.dropDuplicates([id_col])
        # seen-probe scoped by a BROADCAST of the batch's ids (VERDICT
        # r10 #4): the naive batch.join(seen, left_anti) sort-merge-
        # shuffles the ENTIRE published id column every micro-batch —
        # O(corpus) shuffle on the ingest path. Flipping it — semi-join
        # the stored ids against the broadcast batch, then anti-join
        # the batch against that (≤|batch|-row) hit set — keeps both
        # joins broadcast: the id column is read map-side (columnar,
        # projection-pruned) and NOTHING corpus-sized ever shuffles.
        # Same two-phase shape as delete_from_corpus_index's tombstone
        # derivation; SCALING r11 measures the per-batch wall flat
        # across 1×/3×/10× published volume.
        already = seen.join(
            F.broadcast(batch_rows.select(F.col(id_col))),
            id_col,
            "left_semi",
        )
        fresh = batch_rows.join(
            F.broadcast(already), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if not fresh.take(1):
            # replayed or all-seen batch: group sizes only change with
            # NEW rows, so no quarantined group can cross k either —
            # commit nothing (content-keyed idempotency)
            return
        pool = quarantine.unionByName(fresh).localCheckpoint(eager=True)
        # NULL-safe group key (ADVICE r10): the audit contract says
        # "NULL quasi values form their own group" — groupBy already
        # honors that, but a plain equi-join on the quasi columns would
        # never match a NULL-keyed group, quarantining its rows forever
        # even past k. Joining on one struct-of-quasi key column makes
        # the match null-safe (Spark struct equality compares NULL
        # fields as equal), mirroring the t_closeness_profile fix.
        gk = F.struct(*[F.col(c) for c in quasi_cols]).alias("_gk")
        pool_counts = (
            pool.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("_pn"))
            .select(gk, "_pn")
        )
        # folded published sizes for ONLY the touched groups (broadcast
        # semi-join prunes the side table before its one sum)
        pub_counts = (
            gsizes.select(gk, "n")
            .join(
                F.broadcast(pool_counts.select("_gk")),
                "_gk",
                "left_semi",
            )
            .groupBy("_gk")
            .agg(F.sum("n").alias("_gn"))
        )
        ok = (
            pool_counts.join(pub_counts, "_gk", "left")
            .filter(
                F.col("_pn") + F.coalesce(F.col("_gn"), F.lit(0))
                >= F.lit(k)
            )
            .select("_gk")
        )
        pool_k = pool.select("*", gk)
        to_publish = (
            pool_k.join(F.broadcast(ok), "_gk", "left_semi")
            .drop("_gk")
            .localCheckpoint(eager=True)
        )
        new_quar = pool_k.join(
            F.broadcast(ok), "_gk", "left_anti"
        ).drop("_gk")
        delta_sizes = to_publish.groupBy(*quasi_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )

        def writer(vdir: str) -> None:
            pub = Path(vdir) / "published"
            to_publish.write.parquet(str(pub))
            gs = Path(vdir) / "gsizes"
            delta_sizes.write.parquet(str(gs))
            if prev_dir is not None:
                for sub, tgt in (("published", pub), ("gsizes", gs)):
                    for f in data_files(Path(prev_dir) / sub):
                        if not (tgt / f.name).exists():
                            link_or_copy(f, tgt / f.name)
                # any other subdir (pending tombstones etc.) carries
                for src in Path(prev_dir).iterdir():
                    if src.is_dir() and src.name not in (
                        "published", "gsizes", "quarantine"
                    ):
                        _link_tree(src, Path(vdir) / src.name)
            # quarantine REWRITES whole: it is the sub-k backlog,
            # bounded by (k-1) rows per open group
            new_quar.write.parquet(str(Path(vdir) / "quarantine"))

        prior_meta = {} if cur is None else dict(cur[1])
        commit_version(
            store_root,
            writer,
            {
                **prior_meta,
                "last_batch_id": int(batch_id),
                "k": k,
                "quasi_cols": list(quasi_cols),
                "fold_sums": {
                    "gsizes": {
                        "keys": list(quasi_cols),
                        "sum_cols": ["n"],
                        "drop_zero": True,
                    }
                },
            },
            expect_current=prev_dir,
        )

    return sink


def k_anon_release_stream(
    rows_stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    quasi_cols: list[str],
    k: int,
    id_col: str = "row_id",
):
    """Wire a row stream through the k-anonymous release gate; returns
    the StreamingQuery (availableNow — swap the trigger for continuous
    release). Read the published side with `read_released`."""
    return (
        rows_stream.writeStream.foreachBatch(
            k_anon_release_sink(store_root, quasi_cols, k, id_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def l_div_release_sink(
    store_root: str,
    quasi_cols: list[str],
    l: int,
    sensitive_col: str,
    id_col: str = "row_id",
):
    """foreachBatch body for the streaming DISTINCT-l-DIVERSITY release
    gate (VERDICT r10 #9) — the online enforcement of
    `validation.l_diversity_profile`: a row publishes only once its
    quasi group carries >= l distinct sensitive values (NULL counts as
    a value, mirroring the audit), quarantining the whole group until
    then and releasing the backlog at the crossing. Distinct counts
    only GROW, so — like the k gate and unlike t-closeness — the final
    published set equals the batch filter "rows in groups with >= l
    distinct sensitive values over the full input" regardless of batch
    boundaries (pinned by pytest).

    Store layout: ``published`` (hardlink-append), ``quarantine``
    (rewritten whole, bounded by the sub-l group mass), ``svals``
    ((quasi..., _s, n) delta rows over ALL SEEN rows, folded by sum via
    `compact_version`'s fold_sums — the probe side table: the decision
    reads O(open groups' value rows), never the published rows). The
    replay probe and group joins are broadcast-scoped and null-safe
    exactly as in `k_anon_release_sink`."""
    import os
    from pathlib import Path

    from ..sources.versioned import (
        _link_tree,
        commit_version,
        current_version,
        data_files,
        link_or_copy,
    )

    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    if not quasi_cols:
        raise ValueError("l_div_release_sink: no quasi columns")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = current_version(store_root)
        sv_schema = lambda df: df.select(  # noqa: E731
            *quasi_cols, F.col(sensitive_col).alias("_s")
        ).withColumn("n", F.lit(0).cast("bigint"))
        if cur is None:
            prev_dir = None
            quarantine = batch_df.limit(0)
            svals = sv_schema(batch_df.limit(0))
            seen = batch_df.limit(0).select(F.col(id_col))
        else:
            prev_dir, _meta = cur
            quarantine = spark.read.parquet(
                os.path.join(prev_dir, "quarantine")
            )
            svals = spark.read.parquet(os.path.join(prev_dir, "svals"))
            seen = (
                spark.read.parquet(os.path.join(prev_dir, "published"))
                .select(F.col(id_col))
                .unionByName(quarantine.select(F.col(id_col)))
            )
        batch_rows = batch_df.dropDuplicates([id_col])
        already = seen.join(
            F.broadcast(batch_rows.select(F.col(id_col))),
            id_col,
            "left_semi",
        )
        fresh = batch_rows.join(
            F.broadcast(already), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if not fresh.take(1):
            return
        pool = quarantine.unionByName(fresh).localCheckpoint(eager=True)
        gk = F.struct(*[F.col(c) for c in quasi_cols])
        delta_svals = fresh.groupBy(
            *quasi_cols, F.col(sensitive_col).alias("_s")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        touched = pool.select(gk.alias("_gk")).distinct()
        cum = (
            svals.unionByName(delta_svals)
            .select(gk.alias("_gk"), "_s")
            .join(F.broadcast(touched), "_gk", "left_semi")
        )
        ok = (
            cum.groupBy("_gk")
            .agg(
                (
                    F.count_distinct(F.col("_s"))
                    + F.max(F.col("_s").isNull().cast("int"))
                ).alias("_d")
            )
            .filter(F.col("_d") >= F.lit(l))
            .select("_gk")
        )
        pool_k = pool.select("*", gk.alias("_gk"))
        to_publish = (
            pool_k.join(F.broadcast(ok), "_gk", "left_semi")
            .drop("_gk")
            .localCheckpoint(eager=True)
        )
        new_quar = pool_k.join(
            F.broadcast(ok), "_gk", "left_anti"
        ).drop("_gk")

        def writer(vdir: str) -> None:
            pub = Path(vdir) / "published"
            to_publish.write.parquet(str(pub))
            sv = Path(vdir) / "svals"
            delta_svals.write.parquet(str(sv))
            if prev_dir is not None:
                for sub, tgt in (("published", pub), ("svals", sv)):
                    for f in data_files(Path(prev_dir) / sub):
                        if not (tgt / f.name).exists():
                            link_or_copy(f, tgt / f.name)
                for src in Path(prev_dir).iterdir():
                    if src.is_dir() and src.name not in (
                        "published", "svals", "quarantine"
                    ):
                        _link_tree(src, Path(vdir) / src.name)
            new_quar.write.parquet(str(Path(vdir) / "quarantine"))

        prior_meta = {} if cur is None else dict(cur[1])
        commit_version(
            store_root,
            writer,
            {
                **prior_meta,
                "last_batch_id": int(batch_id),
                "l": l,
                "quasi_cols": list(quasi_cols),
                "sensitive_col": sensitive_col,
                "fold_sums": {
                    "svals": {
                        "keys": [*quasi_cols, "_s"],
                        "sum_cols": ["n"],
                        "drop_zero": True,
                    }
                },
            },
            expect_current=prev_dir,
        )

    return sink


def t_close_release_sink(
    store_root: str,
    quasi_cols: list[str],
    t: float,
    sensitive_col: str,
    id_col: str = "row_id",
):
    """foreachBatch body for the streaming T-CLOSENESS release gate
    (VERDICT r10 #9) — the online form of
    `validation.t_closeness_profile`: a group's pooled rows publish
    once the total-variation distance between the group's CUMULATIVE
    sensitive histogram and the cumulative GLOBAL histogram is <= t.
    The distance arithmetic is the profile's, token for token: exact
    DECIMAL(38,0) cross-multiplication (num·10⁶ <= t_micros·den), the
    absent-category mass folded in algebraically, NULL sensitive
    values null-safely matched as their own category.

    NON-MONOTONE, stated loudly: unlike k and l, t-closeness can
    RE-break as the global distribution drifts — this gate promises
    RELEASE-TIME soundness (every publish happened at a moment the
    group satisfied t over all data seen so far) and never retracts.
    On drift-stationary inputs the final published set equals the
    batch filter (pinned by pytest); under drift the stream may hold
    groups the end-state filter would pass and vice versa — an online
    t gate cannot do otherwise without retraction. Every open group is
    re-evaluated each batch (the pool spans the whole quarantine), so
    a group whose distance is pulled under t by OTHER groups' ingest
    releases on the next batch, not never.

    Store layout: ``published``/``quarantine`` as the other gates;
    ``shist`` ((quasi..., _s, n) all-seen delta rows) and ``ghist``
    ((_s, n) all-seen delta rows), both folded by sum — the probe
    reads O(open groups' histogram rows) + O(|sensitive categories|)."""
    import os
    from pathlib import Path

    from ..sources.versioned import (
        _link_tree,
        commit_version,
        current_version,
        data_files,
        link_or_copy,
    )

    if not 0 < t < 1:
        raise ValueError(f"t must be in (0, 1), got {t}")
    if not quasi_cols:
        raise ValueError("t_close_release_sink: no quasi columns")
    t_micros = round(t * 1_000_000)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cur = current_version(store_root)
        if cur is None:
            prev_dir = None
            quarantine = batch_df.limit(0)
            shist = (
                batch_df.limit(0)
                .select(*quasi_cols, F.col(sensitive_col).alias("_s"))
                .withColumn("n", F.lit(0).cast("bigint"))
            )
            ghist = (
                batch_df.limit(0)
                .select(F.col(sensitive_col).alias("_s"))
                .withColumn("n", F.lit(0).cast("bigint"))
            )
            seen = batch_df.limit(0).select(F.col(id_col))
        else:
            prev_dir, _meta = cur
            quarantine = spark.read.parquet(
                os.path.join(prev_dir, "quarantine")
            )
            shist = spark.read.parquet(os.path.join(prev_dir, "shist"))
            ghist = spark.read.parquet(os.path.join(prev_dir, "ghist"))
            seen = (
                spark.read.parquet(os.path.join(prev_dir, "published"))
                .select(F.col(id_col))
                .unionByName(quarantine.select(F.col(id_col)))
            )
        batch_rows = batch_df.dropDuplicates([id_col])
        already = seen.join(
            F.broadcast(batch_rows.select(F.col(id_col))),
            id_col,
            "left_semi",
        )
        fresh = batch_rows.join(
            F.broadcast(already), id_col, "left_anti"
        ).localCheckpoint(eager=True)
        if not fresh.take(1):
            return
        pool = quarantine.unionByName(fresh).localCheckpoint(eager=True)
        gk = F.struct(*[F.col(c) for c in quasi_cols])
        delta_shist = fresh.groupBy(
            *quasi_cols, F.col(sensitive_col).alias("_s")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        delta_ghist = fresh.groupBy(
            F.col(sensitive_col).alias("_s")
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        touched = pool.select(gk.alias("_gk")).distinct()
        # cumulative per-(open group, category) counts — probe pruned
        # to the open groups before its one sum. Checkpointed: it is
        # small (open groups × categories), feeds three consumers, and
        # the severed lineage keeps the shared-subtree joins below
        # unambiguous (the _G/_sglob frames derive from the same fresh
        # scan otherwise).
        grp_hist = (
            shist.unionByName(delta_shist)
            .select(gk.alias("_gk"), "_s", "n")
            .join(F.broadcast(touched), "_gk", "left_semi")
            .groupBy("_gk", "_s")
            .agg(F.sum("n").alias("_cnt"))
            .localCheckpoint(eager=True)
        )
        # cumulative global histogram + total (|categories| rows)
        gfold = (
            ghist.unionByName(delta_ghist)
            .groupBy("_s")
            .agg(F.sum("n").alias("_sglob"))
            .localCheckpoint(eager=True)
        )
        gh = F.broadcast(gfold)
        # the global total is ONE scalar per batch — a bounded 1-row
        # driver pull (the repo's documented exception class), which
        # also keeps the decision plan a single keyed aggregate instead
        # of a 1-row cross join
        G_val = int(
            gfold.agg(F.sum("_sglob")).collect()[0][0] or 0
        )
        dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
        G = F.lit(G_val).cast("decimal(38,0)")
        gsz = grp_hist.groupBy("_gk").agg(F.sum("_cnt").alias("_g"))
        # frame-QUALIFIED + null-safe on the category key, mirroring
        # t_closeness_profile (NULL is a real category)
        j = (
            grp_hist.join(gh, grp_hist["_s"].eqNullSafe(gh["_s"]))
            .select(
                grp_hist["_gk"].alias("_gk"),
                grp_hist["_cnt"].alias("_cnt"),
                gh["_sglob"].alias("_sglob"),
            )
            .join(gsz, "_gk")
        )
        term = F.abs(
            dec(F.col("_cnt")) * G
            - dec(F.col("_sglob")) * dec(F.col("_g"))
        ) - dec(F.col("_sglob")) * dec(F.col("_g"))
        folded = j.groupBy("_gk").agg(
            F.sum(dec(term)).alias("_sumterm"),
            F.max("_g").alias("_gv"),
        )
        num = F.col("_sumterm") + G * dec(F.col("_gv"))
        den = F.lit(2).cast("decimal(38,0)") * dec(F.col("_gv")) * G
        ok = folded.filter(
            num * F.lit(1_000_000).cast("decimal(38,0)")
            <= F.lit(t_micros).cast("decimal(38,0)") * den
        ).select("_gk")
        pool_k = pool.select("*", gk.alias("_gk"))
        to_publish = (
            pool_k.join(F.broadcast(ok), "_gk", "left_semi")
            .drop("_gk")
            .localCheckpoint(eager=True)
        )
        new_quar = pool_k.join(
            F.broadcast(ok), "_gk", "left_anti"
        ).drop("_gk")

        def writer(vdir: str) -> None:
            pub = Path(vdir) / "published"
            to_publish.write.parquet(str(pub))
            sh = Path(vdir) / "shist"
            delta_shist.write.parquet(str(sh))
            gdir = Path(vdir) / "ghist"
            delta_ghist.write.parquet(str(gdir))
            if prev_dir is not None:
                for sub, tgt in (
                    ("published", pub), ("shist", sh), ("ghist", gdir)
                ):
                    for f in data_files(Path(prev_dir) / sub):
                        if not (tgt / f.name).exists():
                            link_or_copy(f, tgt / f.name)
                for src in Path(prev_dir).iterdir():
                    if src.is_dir() and src.name not in (
                        "published", "shist", "ghist", "quarantine"
                    ):
                        _link_tree(src, Path(vdir) / src.name)
            new_quar.write.parquet(str(Path(vdir) / "quarantine"))

        prior_meta = {} if cur is None else dict(cur[1])
        commit_version(
            store_root,
            writer,
            {
                **prior_meta,
                "last_batch_id": int(batch_id),
                "t": float(t),
                "quasi_cols": list(quasi_cols),
                "sensitive_col": sensitive_col,
                "fold_sums": {
                    "shist": {
                        "keys": [*quasi_cols, "_s"],
                        "sum_cols": ["n"],
                        "drop_zero": True,
                    },
                    "ghist": {
                        "keys": ["_s"],
                        "sum_cols": ["n"],
                        "drop_zero": True,
                    },
                },
            },
            expect_current=prev_dir,
        )

    return sink
