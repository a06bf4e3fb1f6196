"""Window-function operators (SURVEY.md §2.5 + A11/A12/A14/A15).

Everything the reference hand-rolls as ordered Python loops over one
player's history becomes a declarative window frame. The crucial scale
property: `Window.partitionBy(player)` distributes the per-player
computation across the cluster — the reference's loop is inherently
single-player-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cumulative_sum(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
    signed_value: Column,
    alias: str,
) -> DataFrame:
    """Running total over an ordered event stream.

    Reference: ``effective_gold_spent`` — +purchase / −sell / −destroy /
    undo-swap folded over ordered item events (``utils.py:499-513``).
    The sign logic lives in `signed_value`; the frame is
    unboundedPreceding→current.
    """
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(alias, F.sum(signed_value).over(w))


def streak_islands(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
    state: Column,
) -> DataFrame:
    """Gaps-and-islands: tag each row with a streak id that increments when
    `state` changes, plus the running streak length.

    Reference: consecutive win/loss streak counters that reset on change
    (``utils.py:754-759,939-956``). ``lag`` + change-flag + running sum is
    the classic distributed rewrite of that stateful scan.
    """
    w_order = Window.partitionBy(*partition).orderBy(*order)
    changed = (
        F.when(F.lag(state).over(w_order).isNull(), F.lit(1))
        .when(F.lag(state).over(w_order) != state, F.lit(1))
        .otherwise(F.lit(0))
    )
    out = df.withColumn("_chg", changed)
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, 0)
    out = out.withColumn("island_id", F.sum("_chg").over(w_cum)).drop("_chg")
    w_island = Window.partitionBy(*partition, "island_id").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return out.withColumn("streak_len", F.count(F.lit(1)).over(w_island))


def sliding_count(
    df: DataFrame,
    partition: list[str],
    ts_col: str,
    window_ms: int,
    alias: str = "window_count",
) -> DataFrame:
    """Per row: count of same-key rows in the trailing `window_ms` window
    (inclusive).

    Reference: the rate limiter counts requests per (region, method) within
    the last N seconds against a quota
    (``mysql_requesthistory_checking.py:46-100``) — there via LOCK TABLES +
    full rescan; here one `rangeBetween` frame over epoch millis. The
    streaming twin is ``streaming.ratelimit``.
    """
    w = (
        Window.partitionBy(*partition)
        .orderBy(F.unix_millis(F.col(ts_col)))
        .rangeBetween(-window_ms, 0)
    )
    return df.withColumn(alias, F.count(F.lit(1)).over(w))


def sessionize(
    df: DataFrame,
    partition: list[str],
    ts_col: str,
    gap_ms: int,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the previous
    event of the same key exceeds `gap_ms`.

    Reference: fights group kill events by ≤30 s adjacency
    (``utils.py:586-626``); this is the batch analogue of
    ``session_window`` (see ``streaming``). Exact reference *merge*
    semantics (victim-subset absorption) live in ``operators.fights``.
    """
    w = Window.partitionBy(*partition).orderBy(F.col(ts_col).asc())
    prev_ts = F.lag(F.unix_millis(F.col(ts_col))).over(w)
    new_sess = (
        F.when(prev_ts.isNull(), 1)
        .when(F.unix_millis(F.col(ts_col)) - prev_ts > gap_ms, 1)
        .otherwise(0)
    )
    out = df.withColumn("_new", new_sess)
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    return out.withColumn("session_id", F.sum("_new").over(w_cum)).drop("_new")


def ewma_scores(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    window: int = 24,
    bucket: str = "hour",
) -> DataFrame:
    """EWMA anomaly score for EVERY bucket with non-zero history —
    the full scored grid behind `ewma_anomaly_topk` (and the batch twin
    of `streaming/anomaly.ewma_stream`): event count vs the
    exponentially-decayed trailing rate (α=1/2) of the previous
    `window` buckets.

    Scale + determinism shape:

    - The bucket grid is DENSIFIED (groups × sequence(min..max bucket))
      so silent buckets count as zero — an EWMA that only sees non-empty
      buckets never decays and misses every post-lull spike. Grid size
      is time-span × |groups|, independent of row count.
    - The decayed rate is computed EXACTLY in integers: with α=1/2 the
      trailing weights are 2^(n-1-j), so the weighted sum is a Horner
      fold (`acc*2 + x`) over the previous-`window` counts — BIGINT all
      the way, one final double division by (2^n − 1). No float
      accumulation order anywhere, so both engines agree bit-for-bit.
    Returns (group, bucket_ms, cnt, decayed_prev, ratio) rows, ratio
    rounded to 6 dp, unordered.
    """
    b = F.date_trunc(bucket, F.col(ts_col))
    cnts = df.select(F.col(group_col).alias("g"), b.alias("b")).groupBy(
        "g", "b"
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = df.select(
        F.date_trunc(bucket, F.min(ts_col)).alias("mn"),
        F.date_trunc(bucket, F.max(ts_col)).alias("mx"),
    )
    groups = df.select(F.col(group_col).alias("g")).distinct()
    grid = groups.crossJoin(F.broadcast(bounds)).select(
        "g",
        F.explode(
            F.sequence(
                F.col("mn"), F.col("mx"), F.expr(f"interval 1 {bucket}")
            )
        ).alias("b"),
    )
    dense = grid.join(cnts, ["g", "b"], "left").select(
        "g", "b", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(-window, -1)
    )
    # newest-first so Horner gives the newest bucket the largest weight
    prev = F.reverse(F.collect_list("c").over(w))
    with_prev = dense.withColumn("prev", prev)
    num = F.aggregate(
        F.col("prev"),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc * F.lit(2).cast("bigint") + x,
    )
    den = F.expr(
        "shiftleft(CAST(1 AS BIGINT), size(prev)) - CAST(1 AS BIGINT)"
    )
    scored = (
        with_prev.withColumn("num", num)
        .withColumn("den", den)
        .filter(F.col("num") > 0)
        .select(
            F.col("g").alias(group_col),
            F.unix_millis("b").alias("bucket_ms"),
            F.col("c").alias("cnt"),
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("decayed_prev"),
            F.round(
                F.col("c").cast("double")
                / (F.col("num").cast("double") / F.col("den").cast("double")),
                6,
            ).alias("ratio"),
        )
    )
    return scored


def ewma_anomaly_topk(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    k: int = 20,
    window: int = 24,
    bucket: str = "hour",
) -> DataFrame:
    """Top-k rate anomalies per group — `ewma_scores` followed by
    `orderBy(...).limit(k)` (TakeOrderedAndProject, never a global
    window over the grid), ordered by (ratio desc, group, bucket_ms).
    """
    scored = ewma_scores(df, group_col, ts_col, window=window, bucket=bucket)
    return scored.orderBy(
        F.col("ratio").desc(), F.col(group_col), F.col("bucket_ms")
    ).limit(k)


def rolling_percentile(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
    value: Column,
    window: int,
    p: float,
    alias: str = "rolling_p",
) -> DataFrame:
    """Exact percentile of the trailing `window` rows per partition
    (current row inclusive) — rolling p95/p99 monitoring without ever
    sorting the partition globally: the only sort is `array_sort` over
    each row's ≤`window`-element frame, and the linear interpolation
    (the percentile/quantile_cont convention: rank p·(n−1)) is a fixed
    double-op sequence identical in the oracle.

    The frame list is O(window) per row — bounded state, the same
    contract as the EWMA fold; never use this with an unbounded frame
    (that is `percentile` after a groupBy, a different shape).
    """
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    arr = F.array_sort(F.collect_list(value.cast("double")).over(w))
    out = df.withColumn("_arr", arr)
    n = F.size("_arr")
    idx = F.lit(p) * (n - F.lit(1)).cast("double")
    lo = F.floor(idx).cast("int")
    frac = idx - lo.cast("double")
    interp = (
        F.element_at("_arr", lo + 1) * (F.lit(1.0) - frac)
        + F.element_at(
            "_arr", F.least(lo + 2, n)  # hi clamps at the last element
        )
        * frac
    )
    return out.withColumn(alias, F.round(interp, 6)).drop("_arr")


def gap_fill_interpolate(
    df: DataFrame,
    partition: list[str],
    bucket_col: str,
    value_col: str,
    bucket: str = "hour",
) -> DataFrame:
    """Densify a per-key time series onto its full bucket grid and
    linearly interpolate the missing values between known neighbors —
    the sensor/metric gap-repair classic. Leading/trailing gaps (no
    known point on one side) stay NULL; `filled` flags rows whose value
    was actually interpolated (unobserved AND repaired — edge rows that
    stay NULL are filled=false).

    Shape: the grid explode is span-bounded (same contract as
    `ewma_scores`); the interpolation needs ONE ordered window pass per
    direction (`last(ignorenulls)` backward, `first(ignorenulls)`
    forward) — no self-joins, no per-gap work. The interpolation
    weight (gap position / gap width) and the affine combination are a
    fixed double-op sequence, reproducible across engines.
    """
    b = F.date_trunc(bucket, F.col(bucket_col))
    known = df.select(
        *partition, b.alias("b"), F.col(value_col).cast("double").alias("v")
    )
    bounds = known.select(F.min("b").alias("mn"), F.max("b").alias("mx"))
    keys = known.select(*partition).distinct()
    grid = keys.crossJoin(F.broadcast(bounds)).select(
        *partition,
        F.explode(
            F.sequence(
                F.col("mn"), F.col("mx"), F.expr(f"interval 1 {bucket}")
            )
        ).alias("b"),
    )
    dense = grid.join(known, [*partition, "b"], "left")
    w_back = (
        Window.partitionBy(*partition)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(*partition)
        .orderBy("b")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    ms = F.unix_millis("b")
    prev_v = F.last("v", ignorenulls=True).over(w_back)
    prev_t = F.last(F.when(F.col("v").isNotNull(), ms), ignorenulls=True).over(
        w_back
    )
    next_v = F.first("v", ignorenulls=True).over(w_fwd)
    next_t = F.first(
        F.when(F.col("v").isNotNull(), ms), ignorenulls=True
    ).over(w_fwd)
    frac = (ms - prev_t).cast("double") / (next_t - prev_t).cast("double")
    # NO rounding on the interpolated branch: both engines evaluate the
    # identical IEEE op tree on identical inputs, so the doubles already
    # agree bit-for-bit — while round-to-6 would CREATE divergence
    # (midpoints of 6-dp neighbors land exactly on the x.xxxxxx5 tie,
    # where Spark's HALF_UP and DuckDB's binary rounding disagree).
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * frac,
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return dense.select(
        *partition,
        ms.alias("bucket_ms"),
        interp.alias(value_col),
        # unobserved AND actually repaired — edge rows whose value stays
        # NULL are not "filled"
        (F.col("v").isNull() & interp.isNotNull()).alias("filled"),
    )
