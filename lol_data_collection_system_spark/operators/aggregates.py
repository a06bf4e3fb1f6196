"""Grouped aggregation (SURVEY.md §2.4, A1-A17).

The reference folds counters in Python loops per row (e.g. the ~70-stat
means, ``lolapi/app_lib/utils.py:846-847,931-937``). Spark's hash aggregate
does the same in one pass with map-side partial aggregation — the shuffle
moves one partial row per (key, mapper), not one row per input row. All
money arithmetic goes through DECIMAL so results are exact and
bit-reproducible against the DuckDB oracle (double summation order is not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dec(col_name: str, scale: int = 2) -> Column:
    """Exact-decimal view of a money/quantity column (parquet stores them as
    double with `scale` true decimals)."""
    return F.col(col_name).cast(f"decimal(18,{scale})")


def grouped_pivot_count(
    df: DataFrame, group_col: str, pivot_col: str, values: list[str]
) -> DataFrame:
    """Counts per group pivoted by category — one shuffle, not one query per
    bucket.

    Reference: matches per game-version per region × 8 tier LIKE buckets,
    issued as ~3 sequential ORM aggregates per region
    (``monitor/views/gathering.py:30-64``). Passing explicit pivot values
    skips Spark's extra distinct-scan job and keeps the output schema stable.
    """
    return (
        df.groupBy(group_col)
        .pivot(pivot_col, values)
        .count()
        .na.fill(0, [v for v in values])
    )


def conditional_tallies(df: DataFrame, group_cols: list[str], **conds: Column) -> DataFrame:
    """Several filtered counts in one pass: ``agg(count(when(cond, 1)) ...)``.

    Reference: availability counters — matches total / in-role / on-champion
    / with-spells / with-runes, folded as five Python counters in one loop
    (``utils.py:990-1098``); win/loss tallies
    (``proto_data_gathering.py:91-93,214-218``).
    """
    aggs = [F.count(F.when(c, 1)).alias(name) for name, c in conds.items()]
    aggs.append(F.count(F.lit(1)).alias("total"))
    return df.groupBy(*group_cols).agg(*aggs)


def argmax_per_group(
    df: DataFrame, group_cols: list[str], order_by: list[Column], keep: list[str]
) -> DataFrame:
    """Top-1 row per group under a deterministic ordering.

    Reference: jungler = max neutralMinionsKilled among smite carriers,
    support = min totalMinionsKilled (``utils.py:451-459``); peak point
    (``monitor_gathering.py:53``). `max_by(struct)` would work for single
    expressions; `row_number` generalizes to composite tie-breaks, which the
    oracle parity check needs for determinism.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, *keep)
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_n: int = 10
) -> DataFrame:
    """Pre-flight shuffle-skew diagnostic: (rank, key, n_rows, share)
    for the `top_n` heaviest values of `key_col`.

    This is the measurement behind every skew decision in the repo —
    whether a join needs `salted_skew_join`, whether a shingle needs
    the `max_doc_freq` cap, whether AQE's skew threshold will even
    trigger. A key with share ≫ 1/shuffle_partitions serializes one
    task; read the profile BEFORE paying for a bad shuffle, not from
    its straggler afterwards.

    Plan: one map-combined hash-agg over the key, a 1-row broadcast
    total, and TakeOrderedAndProject for the top-N (never a global
    sort); the ranking window runs on the ≤ top_n survivors only. Key
    values are emitted as strings so the profile is type-generic.
    """
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = counts.agg(F.sum("n_rows").alias("_tot"))
    top = counts.orderBy(F.col("n_rows").desc(), F.col("key")).limit(top_n)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_rows").desc(), F.col("key"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .select(
            "rank",
            "key",
            "n_rows",
            F.round(
                F.col("n_rows").cast("double") / F.col("_tot"), 6
            ).alias("share"),
        )
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-profiling audit: (column, n_rows, n_nulls, null_frac,
    n_distinct) for every listed column — the schema-health check run
    before trusting a new snapshot of a table (a column whose null rate
    jumped is the classic silent upstream breakage).

    ONE pass: all per-column aggregates ride a single `agg` (multiple
    exact count-distincts plan through Spark's Expand — one scan with a
    cols-fold row multiplication, the standard exact-profile cost), and
    the wide result unpivots through a literal struct array. Counts
    only — min/max are omitted deliberately: their string rendering is
    type- and engine-specific, while counts compare exactly everywhere.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).alias(f"_nd_{c}"))
    wide = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.col("_n"), F.explode(entries).alias("_e"))
        .select(
            F.col("_e.column").alias("column"),
            F.col("_n").alias("n_rows"),
            F.col("_e.n_nulls").alias("n_nulls"),
            F.round(
                F.col("_e.n_nulls").cast("double") / F.col("_n"), 6
            ).alias("null_frac"),
            F.col("_e.n_distinct").alias("n_distinct"),
        )
    )


def linreg_by_group(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
    x_scale: int = 6,
    y_scale: int = 6,
) -> DataFrame:
    """Per-group simple linear regression (slope / intercept / r²) from
    closed-form moments — distributed trend detection (volume ramps,
    quality drift over time) in ONE map-combined aggregation pass.

    The five sufficient moments (n, Σx, Σy, Σxy, Σx², Σy²) are DECIMAL
    sums of grid-snapped inputs (x, y quantized to `x_scale`/`y_scale`
    decimals first) — exact and order-free, the `fit_pca`/`cluster_stats`
    discipline — so every group's fit is bit-identical across
    partitionings and engines. The closed forms then run as one fixed
    sequence of double ops (identical in the oracle), rounded to 6 dp.

    Degenerate groups (all x equal: zero variance) emit NULL slope/
    intercept/r²; a zero-variance y with varying x emits slope 0 and
    NULL r² (r² is 0/0 there).

    At 100 TB this is the cheapest possible shape: no shuffle beyond one
    partial-agg row per (group, mapper); never a sort, never a window.
    """
    # decimal(18,s) × decimal(18,s) → decimal(37, 2s): fits the 38-digit
    # cap with NO precision-loss truncation (a 28-digit operand would
    # overflow the product type and silently round — engine-divergent).
    xd = x.cast("double").cast(f"decimal(18,{x_scale})")
    yd = y.cast("double").cast(f"decimal(18,{y_scale})")
    m = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    den_x = n * sxx - sx * sx
    den_y = n * syy - sy * sy
    num = n * sxy - sx * sy
    slope = F.when(den_x != 0, num / den_x)
    intercept = F.when(den_x != 0, (sy - (num / den_x) * sx) / n)
    r2 = F.when((den_x != 0) & (den_y != 0), (num * num) / (den_x * den_y))
    return m.select(
        *group_cols,
        F.col("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def golden_records(
    df: DataFrame,
    key_cols: list[str],
    value_cols: list[str],
    priority: Column,
) -> DataFrame:
    """Survivorship merge (master-data "golden record"): one row per
    key where EACH value column independently takes the value from the
    highest-priority row that has it non-null — the standard rule for
    consolidating an entity that several feeds describe partially
    (CRM has the segment, billing has the balance, ...).

    `priority` must be unique per (key, row) — e.g. a source rank when
    each source contributes at most one row per key. That uniqueness is
    what makes the per-column argmax a pure `max(struct(non_null,
    priority, value))` whose comparison never reaches the value field
    (so NULL values never enter a struct comparison — engine-divergent
    territory), and it makes the merge deterministic by construction.

    Plan: ONE map-combined hash aggregate, all columns at once — no
    joins, no windows; the survivorship of d columns costs the same
    shuffle as a plain groupBy.
    """
    aggs = [
        F.max(
            F.struct(
                F.col(c).isNotNull().alias("has"),
                priority.alias("pri"),
                F.col(c).alias("v"),
            )
        )["v"].alias(c)
        for c in value_cols
    ]
    return df.groupBy(*key_cols).agg(
        *aggs, F.count(F.lit(1)).alias("n_feed_rows")
    )


def correlation_matrix(
    df: DataFrame,
    cols: list[str],
    scale: int = 6,
) -> DataFrame:
    """All pairwise Pearson correlations of `cols` in ONE map-combined
    aggregation pass — the feature-engineering / stats staple. Emits
    (col_a, col_b, n, corr) for every unordered pair a < b (column-name
    order), corr rounded to 6 dp, NULL when either side has zero
    variance.

    Moments are DECIMAL(18,scale) grid-snapped sums (the
    `linreg_by_group` discipline — exact, order-free, products inside
    the 38-digit cap), so every correlation is bit-identical across
    partitionings and engines. d columns cost d + d(d+1)/2 sums in the
    single aggregate — no joins, no second pass.
    """
    snapped = {c: F.col(c).cast("double").cast(f"decimal(18,{scale})") for c in cols}
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(snapped[c]).alias(f"_s_{c}"))
        aggs.append(F.sum(snapped[c] * snapped[c]).alias(f"_ss_{c}"))
    pairs = [
        (a, b) for i, a in enumerate(sorted(cols)) for b in sorted(cols)[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(F.sum(snapped[a] * snapped[b]).alias(f"_sp_{a}_{b}"))
    wide = df.agg(*aggs)

    n = F.col("_n").cast("double")

    def _corr(a: str, b: str) -> Column:
        sa = F.col(f"_s_{a}").cast("double")
        sb = F.col(f"_s_{b}").cast("double")
        ssa = F.col(f"_ss_{a}").cast("double")
        ssb = F.col(f"_ss_{b}").cast("double")
        sab = F.col(f"_sp_{a}_{b}").cast("double")
        cov = n * sab - sa * sb
        va = n * ssa - sa * sa
        vb = n * ssb - sb * sb
        return F.when(
            (va != 0) & (vb != 0),
            F.round(cov / F.sqrt(va * vb), 6),
        )

    entries = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                _corr(a, b).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return wide.select(F.col("_n"), F.explode(entries).alias("_e")).select(
        F.col("_e.col_a").alias("col_a"),
        F.col("_e.col_b").alias("col_b"),
        F.col("_n").alias("n"),
        F.col("_e.corr").alias("corr"),
    )


def exact_percentiles(df: DataFrame, col: str, ps: list[float]) -> DataFrame:
    """Exact continuous percentiles as a 1-row frame (`cuts` array),
    bit-identical to ``percentile(col, array(ps...))`` on double input.

    Spark's `Percentile` aggregate buffers a value→count map per partial
    and merges EVERY map on one reducer — on a high-cardinality column
    (~1 distinct per row) the single-task merge+sort dominates the
    query. This shape does the counting in a parallel hash aggregate,
    leaving only a value-ordered running-count scan over the DISTINCT
    values on one task, then reads each requested position with its
    floor/ceil neighbour via a 7-row broadcast join.

    The interpolation reproduces Percentile.getPercentile exactly:
    position = p·(N−1); return lowerKey when ceil==floor or when both
    neighbours are equal, else (ceil−pos)·lowerKey + (pos−floor)·higherKey
    in doubles — verified bit-identical on 583k-distinct input.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    vals = df.select(F.col(col).alias("_v")).where(F.col(col).isNotNull())
    vc = vals.groupBy("_v").agg(F.count(F.lit(1)).alias("_c"))
    # Two-phase cumulative count (guide §2.3): a bare
    # `Window.orderBy("_v")` funnels EVERY distinct value through one
    # task — on a ~1-distinct-per-row column at 100 TB that single task
    # scans ~10¹² values. Instead: range-partition the distinct values
    # (explicit N, so AQE cannot coalesce the parallelism away), stamp
    # the range-partition id, run the running count per partition, and
    # add each partition's prefix offset via a broadcast of the tiny
    # (N-row) per-partition totals. Values are distinct within `vc`, so
    # the per-partition ordered sum is deterministic, and range
    # partitioning keeps partitions value-disjoint and ordered — the
    # composed cumulative count is exactly the global one, independent
    # of where the sampled range boundaries land.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    vc = vc.localCheckpoint(eager=False)
    vcp = vc.repartitionByRange(n_part, "_v").withColumn(
        "_pid", F.spark_partition_id()
    )
    w_loc = (
        Window.partitionBy("_pid")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = vcp.select(
        "_v", "_c", "_pid", F.sum("_c").over(w_loc).alias("_cum_loc")
    )
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = (
        vcp.groupBy("_pid")
        .agg(F.sum("_c").alias("_tot"))
        # global window, but over ≤ n_part rows — driver-bounded
        .select("_pid", F.coalesce(F.sum("_tot").over(w_off), F.lit(0)).alias("_off"))
    )
    vc = loc.join(F.broadcast(offs), "_pid").select(
        "_v",
        (F.col("_cum_loc") + F.col("_off")).alias("_cum"),
        (F.col("_cum_loc") + F.col("_off") - F.col("_c")).alias("_prev"),
    )
    n = vals.agg(F.count(F.lit(1)).alias("_n"))
    pos = (
        spark.range(1)
        .select(F.posexplode(F.array(*[F.lit(p) for p in ps])).alias("_j", "_p"))
        .crossJoin(F.broadcast(n))
        .select(
            "_j",
            (F.col("_p") * (F.col("_n") - F.lit(1)).cast("double")).alias("_pos"),
        )
        .select("_j", "_pos", F.floor("_pos").alias("_l"), F.ceil("_pos").alias("_h"))
    )
    j = vc.join(
        F.broadcast(pos),
        (F.col("_prev") <= F.col("_h")) & (F.col("_cum") >= F.col("_l") + 1),
    )
    per = j.groupBy("_j", "_pos", "_l", "_h").agg(
        F.max(
            F.when(
                (F.col("_prev") <= F.col("_l")) & (F.col("_cum") >= F.col("_l") + 1),
                F.col("_v"),
            )
        ).alias("_lv"),
        F.max(
            F.when(
                (F.col("_prev") <= F.col("_h")) & (F.col("_cum") >= F.col("_h") + 1),
                F.col("_v"),
            )
        ).alias("_hv"),
    ).select(
        "_j",
        F.when(F.col("_h") == F.col("_l"), F.col("_lv"))
        .when(F.col("_lv") == F.col("_hv"), F.col("_lv"))
        .otherwise(
            (F.col("_h").cast("double") - F.col("_pos")) * F.col("_lv")
            + (F.col("_pos") - F.col("_l").cast("double")) * F.col("_hv")
        )
        .alias("_cut"),
    )
    return per.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("_j", "_cut"))),
            lambda s: s._cut,
        ).alias("cuts")
    )
