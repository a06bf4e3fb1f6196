"""Joins (SURVEY.md §2.3, J1-J12): broadcast dim joins, range/interval
self-joins, as-of joins, anti-join novelty detection.

The reference joins via ORM FK traversal (one row at a time) and Python
dict lookups. Here: dims are broadcast (no shuffle), the ±15 s fight
enrichment is a range self-join pre-partitioned by its equality key so the
range condition only runs within matching partitions, and the as-of tier
join — absent from Spark SQL — is the union+window pattern that costs one
shuffle and no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Fact ⋈ small dimension as an explicit broadcast-hash join.

    Reference: FK joins to region/game_version
    (``periodical_data_repair.py:65-66``) and in-memory dim caches
    (``utils.py:914-919``). Broadcasting removes the shuffle entirely: at
    100 TB the fact side streams through map tasks while the dim lives in
    every executor.
    """
    return fact.join(F.broadcast(dim), on, how)


def left_anti_novelty(fresh: DataFrame, known: DataFrame, on) -> DataFrame:
    """Rows of `fresh` whose key is absent from `known`.

    Reference: novel game-version detection
    ``[v for v in fresh if v not in known]`` (``utils.py:28-29``;
    ``periodical_data_repair.py:115-116``). Left-anti join — the cache-miss
    half of the fetch-or-cache pattern (J5, ``utils.py:862-900``).
    """
    return fresh.join(known, on, "left_anti")


def interval_self_join(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str,
    lower_ms: int,
    upper_ms: int,
    left_filter=None,
) -> DataFrame:
    """For each (filtered) left event, all right events of the same key
    within ``[ts+lower_ms, ts+upper_ms]``.

    Reference: fight-participant enrichment scans ±15 s around each kill
    (``utils.py:538-577``, the ``±15000`` window at ``:541,561``).

    Spark plan — **banded equi-join**: the join key is (key, time-bucket)
    with bucket width = the window span; each left row probes the ≤2-3
    buckets its window overlaps (a tiny explode), each right row registers
    in its own bucket. A join keyed only on the entity would emit the full
    per-key cross product before the range filter — quadratic in events
    per key, the classic range-join blowup at scale; banding makes the
    joined groups O(events per window) instead. The range predicate still
    applies exactly after the join. AQE splits residual skewed buckets.
    """
    width = max(upper_ms - lower_ms, 1)
    left = events if left_filter is None else events.filter(left_filter)
    l_ts_ms = F.unix_millis(F.col(ts_col))
    l = left.select(
        *[F.col(c).alias(f"l_{c}") for c in key_cols],
        F.col(ts_col).alias("l_ts"),
        F.explode(
            F.sequence(
                F.floor((l_ts_ms + lower_ms) / width),
                F.floor((l_ts_ms + upper_ms) / width),
            )
        ).alias("_bucket"),
        *[F.col(c) for c in events.columns if c not in key_cols and c != ts_col],
    )
    r_ts_ms = F.unix_millis(F.col(ts_col))
    r = events.select(
        *[F.col(c).alias(f"r_{c}") for c in key_cols],
        F.col(ts_col).alias("r_ts"),
        F.floor(r_ts_ms / width).alias("_bucket"),
    )
    key_eq = [F.col(f"l_{c}") == F.col(f"r_{c}") for c in key_cols]
    lo = F.unix_millis(F.col("l_ts")) + F.lit(lower_ms)
    hi = F.unix_millis(F.col("l_ts")) + F.lit(upper_ms)
    rng = F.unix_millis(F.col("r_ts")).between(lo, hi)
    cond = key_eq[0]
    for k in key_eq[1:]:
        cond = cond & k
    joined = l.join(
        r.withColumnRenamed("_bucket", "_r_bucket"),
        cond & (F.col("_bucket") == F.col("_r_bucket")) & rng,
        "inner",
    )
    return joined.drop("_bucket", "_r_bucket")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    right_value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` on the same key. Left rows with no prior right
    row keep NULL values (left-join semantics).

    Reference: tier-at-match-time — the most recent SummonerTierHistory row
    captured at/before the match (``utils.py:405-416, 84-88``). Spark SQL
    has no native ASOF JOIN; this is the scalable union+window pattern:

      union(tag sides) → window last(value, ignoreNulls) over
      (partitionBy key orderBy ts, side) → keep left rows

    One shuffle on (key), no range explosion, no UDF — beats the
    window+filter-per-pair formulation which materializes every candidate
    pair.
    """
    lt = left.withColumn("_side", F.lit(1))
    for c in right_value_cols:
        lt = lt.withColumn(f"{c}{suffix}", F.lit(None).cast(right.schema[c].dataType))
    rt = right.select(
        *key_cols,
        ts_col,
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
    ).withColumn("_side", F.lit(0))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    rt = rt.select(*lt.columns)
    u = lt.unionByName(rt)
    # Right rows (side=0) sort before left rows at equal ts → "<=" semantics.
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in right_value_cols:
        u = u.withColumn(f"{c}{suffix}", F.last(f"{c}{suffix}", ignorenulls=True).over(w))
    return u.filter(F.col("_side") == 1).drop("_side")


def asof_join_banded(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str,
    right_value_cols: list[str],
    bucket_ms: int,
    suffix: str = "_asof",
) -> DataFrame:
    """`asof_join` hardened against HOT KEYS: identical results, but no
    window is ever partitioned by the bare key.

    The plain union+window pattern partitions by the join key, so one
    user with 10⁹ events serializes through a single task — the same
    skew failure `interval_self_join` avoids by banding. This variant
    applies the same cure to the as-of frame:

    1. Band both sides into (key, time-bucket) with bucket width
       `bucket_ms`; run the union+last-ignoreNulls window WITHIN each
       bucket — per-task work is now O(events per bucket), a knob, not
       a data property.
    2. Per (key, bucket), reduce the right side to its latest NON-NULL
       value PER COLUMN (one `max(when(col not null, struct(ts, col)))`
       partial-agg'd aggregate per value column — a single latest-row
       struct would let a trailing NULL shadow an earlier non-null
       value, diverging from `asof_join`'s per-column
       last-ignoreNulls), then run the carry-forward window over THAT
       summary frame, partitioned by key but over bucket-count rows
       (timespan / bucket_ms — e.g. 1 440 rows per key-day at 1-minute
       buckets), not event-count rows.
    3. A left row's answer = its within-bucket last, else the carry
       from earlier buckets.

    Tie semantics: equal-ts right rows resolve via the lexicographic
    struct max in step 2 (deterministic); the unbanded form inherits
    whatever order the window shuffle produced (nondeterministic on
    ties), so on tie-free data the two operators agree exactly and on
    ties the banded form is the better-defined one.

    Cost vs `asof_join`: one extra shuffle (the bucket-summary
    aggregate + its key-window) and the carry join — all keyed by
    (key, bucket) except the summary window, which is key-keyed but
    bucket-sized. Use the plain form when keys are known-bounded (a
    user's clickstream), this one when a key can be a firehose.
    """
    lt = left.withColumn("_side", F.lit(1))
    for c in right_value_cols:
        lt = lt.withColumn(
            f"{c}{suffix}", F.lit(None).cast(right.schema[c].dataType)
        )
    rt = right.select(
        *key_cols,
        ts_col,
        *[F.col(c).alias(f"{c}{suffix}") for c in right_value_cols],
    ).withColumn("_side", F.lit(0))
    for c in left.columns:
        if c not in rt.columns:
            rt = rt.withColumn(c, F.lit(None))
    rt = rt.select(*lt.columns)
    u = lt.unionByName(rt).withColumn(
        "_bucket", F.floor(F.unix_millis(F.col(ts_col)) / F.lit(bucket_ms))
    )

    vcols = [f"{c}{suffix}" for c in right_value_cols]
    # 1: within-bucket as-of (window partitions bounded by bucket width)
    wb = (
        Window.partitionBy(*key_cols, "_bucket")
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for c in vcols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(wb))

    # 2: per-(key, bucket) latest right row -> carry-forward over the
    # SUMMARY frame (bucket-count rows per key, not event-count). The
    # summary is left-joined onto EVERY occupied (key, bucket) — a left
    # row in a right-empty bucket still needs the carry from earlier
    # buckets, so right-only summaries would silently null it out.
    right_latest = (
        rt.withColumn(
            "_bucket",
            F.floor(F.unix_millis(F.col(ts_col)) / F.lit(bucket_ms)),
        )
        .groupBy(*key_cols, "_bucket")
        .agg(
            *[
                F.max(
                    F.when(
                        F.col(c).isNotNull(),
                        F.struct(F.col(ts_col), F.col(c)),
                    )
                ).alias(f"_s_{c}")
                for c in vcols
            ]
        )
    )
    summary = (
        u.select(*key_cols, "_bucket")
        .distinct()
        .join(right_latest, [*key_cols, "_bucket"], "left")
    )
    wc = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("_bucket").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summary.select(
        *key_cols,
        "_bucket",
        *[
            F.last(f"_s_{c}", ignorenulls=True)
            .over(wc)
            .alias(f"_carry_{c}")
            for c in vcols
        ],
    )

    # 3: left rows take within-bucket answer, else the per-column carry
    out = u.filter(F.col("_side") == 1).join(
        carry, [*key_cols, "_bucket"], "left"
    )
    for c in vcols:
        out = out.withColumn(
            c, F.coalesce(F.col(c), F.col(f"_carry_{c}.{c}"))
        )
    return out.drop("_side", "_bucket", *[f"_carry_{c}" for c in vcols])


def salted_skew_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join hardened against HOT KEYS on the big side: the big
    side's rows take a salt derived from their scan partition, the small
    side replicates each row `n_salts` times, and the join keys on
    (key, salt) — a hot key's rows spread over up to `n_salts` shuffle
    partitions instead of crushing one reducer.

    RESULTS ARE IDENTICAL to ``big.join(small, on, how)`` — salting is a
    physical redistribution, not a semantic change — so the oracle for
    any salted query is simply the unsalted SQL. This is the manual
    fallback for engines/paths where AQE skew-join splitting can't see
    the skew (e.g. a skewed key feeding a non-sort-merge join, or a
    deliberately disabled AQE); with AQE on, prefer the optimizer.

    The salt is `pmod(spark_partition_id(), n_salts)`: rows of a hot key
    in DIFFERENT scan partitions get different salts (which is exactly
    the population that would pile onto one reducer), it costs no hash
    of row content, and it keeps the operator deterministic in VALUE
    (the salt only routes rows). Supported `how`: inner / left — the
    replicated-right shapes where duplicate small-side rows can't
    corrupt multiplicity (each big row still matches each small row
    exactly once, at its own salt).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_skew_join supports inner/left, got {how}")
    salted_big = big.withColumn(
        "_salt", F.pmod(F.spark_partition_id(), F.lit(n_salts))
    )
    salted_small = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_big.join(salted_small, [on, "_salt"], how).drop("_salt")


def join_cardinality_profile(
    a: DataFrame,
    b: DataFrame,
    key_a: str,
    key_b: str,
) -> DataFrame:
    """Pre-flight join planner: the EXACT output cardinality of
    ``a ⋈ b`` on the given keys plus its skew anatomy, computed from
    two per-key count aggregates and a key-matched join of COUNTS
    (never the data): one row —
    ``(est_rows, n_matching_keys, max_key, max_key_rows, skew_share)``.

    The companion to `aggregates.key_skew_profile`: that one profiles a
    single frame's key; this one answers "what does the JOIN produce,
    and does one key dominate it?" before paying for a bad shuffle.
    Σ n_a(k)·n_b(k) is exact for inner equi-joins; max contribution /
    total is the salting decision number.
    """
    ca = a.groupBy(F.col(key_a).alias("k")).agg(
        F.count(F.lit(1)).alias("na")
    )
    cb = b.groupBy(F.col(key_b).alias("k")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    per_key = ca.join(cb, "k").select(
        "k", (F.col("na") * F.col("nb")).alias("contrib")
    )
    best = F.max(
        F.struct(
            F.col("contrib").alias("contrib"),
            F.col("k").cast("string").alias("key"),
        )
    )
    return per_key.agg(
        F.sum("contrib").alias("est_rows"),
        F.count(F.lit(1)).alias("n_matching_keys"),
        best["key"].alias("max_key"),
        best["contrib"].alias("max_key_rows"),
    ).select(
        "est_rows",
        "n_matching_keys",
        "max_key",
        "max_key_rows",
        F.round(
            F.col("max_key_rows").cast("double")
            / F.col("est_rows").cast("double"),
            6,
        ).alias("skew_share"),
    )
