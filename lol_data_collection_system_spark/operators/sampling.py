"""Deterministic sampling / splitting for training-data pipelines.

Seeded `df.sample`/`sampleBy` are reproducible only for a fixed partition
layout — a repartition, a changed input file count, or a different
cluster silently reshuffles which rows are kept. Corpus prep needs
sampling decisions that are a pure function of the ROW (so the train/
valid/test assignment of a document never changes across runs, engines,
or cluster sizes): hash the row's key, map the hash to a bucket in
[0, BUCKETS), compare against rate boundaries.

Everything here is a single codegen'd projection per row (one md5, one
base-conversion, comparisons) — no shuffle, no state, trivially
scale-linear; and md5 is engine-portable, so the DuckDB oracle
reproduces every assignment bit-exactly (same trick as the MinHash
family).

The salt isolates experiments: two pipelines sampling the same corpus
with different salts get independent subsets; the same salt is the
repeatability contract.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Bucket granularity: rates are resolved to 1e-6 (same order as one row
#: in the largest practical stratum).
BUCKETS = 1_000_000


def sample_bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, BUCKETS) as a pure function of (salt, key):
    first 15 hex chars of md5 (60 bits, fits a bigint exactly — the
    engine-portable conversion) mod BUCKETS."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % BUCKETS
    )


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~`fraction` of rows, decided per-row by key hash — stable
    under repartitioning, re-runs, and engine changes."""
    return df.filter(
        sample_bucket(F.col(key_col), salt) < int(round(fraction * BUCKETS))
    )


def deterministic_split(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, float],
    salt: str = "",
) -> DataFrame:
    """Add a `split` column assigning each row to one of `splits` (name →
    fraction, summing to ≤ 1; any remainder is NULL). Assignment is by
    half-open bucket ranges laid out in iteration order, so e.g.
    {"train": .8, "valid": .1, "test": .1} tiles [0, 1) and every row of
    a given key lands in the same split forever."""
    bucket = sample_bucket(F.col(key_col), salt)
    expr = F.lit(None).cast("string")
    hi = 0
    bounds = []
    for name, frac in splits.items():
        lo, hi = hi, hi + int(round(frac * BUCKETS))
        bounds.append((name, lo, hi))
    for name, lo, hi in reversed(bounds):
        expr = F.when((bucket >= lo) & (bucket < hi), F.lit(name)).otherwise(
            expr
        )
    return df.withColumn("split", expr)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions: Mapping[str, float],
    default: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic rates (`sampleBy` without the layout
    dependence): strata not in `fractions` sample at `default`. The rate
    lookup folds into the same single projection as the bucket hash."""
    rate = F.lit(int(round(default * BUCKETS)))
    for value, frac in fractions.items():
        rate = F.when(
            F.col(strata_col) == value, F.lit(int(round(frac * BUCKETS)))
        ).otherwise(rate)
    return df.filter(sample_bucket(F.col(key_col), salt) < rate)


#: 2^60 — the hash-uniform denominator (15 hex chars of md5).
_HASH_SPAN = 1 << 60


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    salt: str = "",
) -> DataFrame:
    """Weighted random sample WITHOUT replacement of `k` rows — the
    Efraimidis–Spirakis A-ES scheme (each row draws u ~ Uniform(0,1)
    from its key hash and keeps the k largest u^(1/w), computed in the
    order-equivalent log form ln(u)/w).

    One pass, no global sort: the rank cut is `orderBy(...).limit(k)`
    (TakeOrderedAndProject — per-partition top-k, k-row merge), and the
    draw is the same engine-portable md5 hash as `sample_bucket`, so the
    selection is a pure function of (salt, key, weight): stable under
    repartitioning and reproducible in any engine. Rows with
    non-positive weight are excluded (they have selection probability 0
    in the scheme; also keeps the division total).

    Determinism: u is a dyadic rational ((h + 0.5) / 2^60, exact in a
    double), ln(u) is rounded to 6 decimals (cross-engine 1-ulp
    divergence otherwise — see `operators/retrieval.py`), and the
    (score desc, key) order is total, so ties rounding introduces are
    broken identically everywhere.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_HASH_SPAN))
    score = F.round(F.log(u), 6) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("es_score", score)
        .orderBy(F.desc("es_score"), key_col)
        .limit(k)
    )


def temperature_mix_rates(
    df: DataFrame,
    group_col: str,
    target_rows: int,
    alpha: float = 0.5,
    round_w: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture rates — the pretraining corpus-mixing
    policy (multinomial sampling with exponent ``alpha``, as used for
    balancing high-/low-resource languages or sources): group share
    ``p_s = n_s/N`` is flattened to ``w_s ∝ p_s^alpha``, normalized, and
    turned into a per-group acceptance rate hitting ``target_rows``
    expected rows overall: ``rate_s = min(1, target·q_s/n_s)``.

    Returns (group, n_docs, mix_weight, accept_rate, bucket_threshold) —
    the audit table; `temperature_mix_sample` applies it.

    Determinism contract: the default ``alpha=0.5`` computes ``p^alpha``
    as ``sqrt`` — IEEE correctly-rounded in every engine, so weights are
    bit-identical cross-engine (a generic ``pow`` is NOT; other alphas
    are fine for in-engine use, oracle-gated queries should stick to
    0.5). Weights are rounded to ``round_w`` decimals and summed as
    DECIMAL (order-free normalization); every later op is IEEE
    arithmetic on identical doubles. The threshold is an integer bucket
    cut, so acceptance is exact.

    Plan shape: one partial-agg'd groupBy over the corpus plus two
    single-row/group-count-row aggregates that travel by broadcast —
    the corpus itself is never reshuffled.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    share = F.col("n_docs").cast("double") / F.col("n_total").cast("double")
    raw_w = (
        F.sqrt(share)
        if alpha == 0.5
        else F.pow(share, F.lit(float(alpha)))
    )
    weighted = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_docs",
        F.round(raw_w, round_w).cast(f"decimal(18,{round_w})").alias("w"),
    )
    norm = weighted.agg(F.sum("w").alias("w_sum"))
    rate = F.least(
        F.lit(1.0),
        F.lit(int(target_rows))
        * (F.col("w").cast("double") / F.col("w_sum").cast("double"))
        / F.col("n_docs").cast("double"),
    )
    return weighted.crossJoin(F.broadcast(norm)).select(
        group_col,
        F.col("n_docs"),
        (F.col("w").cast("double") / F.col("w_sum").cast("double")).alias(
            "mix_weight"
        ),
        rate.alias("accept_rate"),
        F.floor(rate * BUCKETS).cast("bigint").alias("bucket_threshold"),
    )


def temperature_mix_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    target_rows: int,
    alpha: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Apply `temperature_mix_rates`: keep a row iff its hash bucket
    falls under its group's threshold. The rates table is tiny (one row
    per group) and broadcast; the decision is the usual engine-portable
    md5 bucket — stable under repartitioning, replayable, and exactly
    reproducible by the oracle. Adds the group's `accept_rate` for
    lineage/audit."""
    rates = temperature_mix_rates(df, group_col, target_rows, alpha)
    return (
        df.join(
            F.broadcast(
                rates.select(group_col, "accept_rate", "bucket_threshold")
            ),
            group_col,
        )
        .filter(
            sample_bucket(F.col(key_col), salt) < F.col("bucket_threshold")
        )
        .drop("bucket_threshold")
    )


def token_budget_plan(
    df: DataFrame,
    group_col: str,
    token_count_col: Column,
    budget_tokens: int,
    alpha: float = 0.5,
    round_w: int = 6,
) -> DataFrame:
    """Token-budget mixture planner: given a total pretraining token
    budget, how many tokens to draw from each group (source/language)
    under a temperature-`alpha` mixture, and how many EPOCHS over each
    group that implies (epochs > 1 ⇒ the group repeats; the
    repetition-harm budget of Muennighoff et al. 2023 says ~4 epochs is
    the useful ceiling — this table is where that check happens).

    Weights flatten TOKEN shares, not doc shares: ``w_g ∝ (tok_g/T)^α``
    (α=0.5 uses `sqrt` — correctly-rounded IEEE, bit-identical across
    engines; see `temperature_mix_rates`). Returns
    (group, n_docs, n_tokens, mix_weight, planned_tokens, epochs).

    Plan shape: one partial-agg'd groupBy over the corpus + two
    broadcast one-row frames; the corpus is never reshuffled.
    """
    # Lazily checkpointed: the corpus-wide aggregate feeds the total,
    # the weight normalization AND the final projection — without the
    # checkpoint it appears up to four times in one plan.
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col).alias("n_tokens"),
    ).persist()
    total = counts.agg(F.sum("n_tokens").alias("tok_total"))
    share = F.col("n_tokens").cast("double") / F.col("tok_total").cast("double")
    raw_w = (
        F.sqrt(share) if alpha == 0.5 else F.pow(share, F.lit(float(alpha)))
    )
    weighted = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(raw_w, round_w).cast(f"decimal(18,{round_w})").alias("w"),
    )
    norm = weighted.agg(F.sum("w").alias("w_sum"))
    mix = F.col("w").cast("double") / F.col("w_sum").cast("double")
    planned = F.floor(F.lit(int(budget_tokens)) * mix).cast("bigint")
    return weighted.crossJoin(F.broadcast(norm)).select(
        group_col,
        "n_docs",
        "n_tokens",
        mix.alias("mix_weight"),
        planned.alias("planned_tokens"),
        F.round(
            planned.cast("double") / F.col("n_tokens").cast("double"), round_w
        ).alias("epochs"),
    )


#: Target candidate-scan size per draw when `buckets` is derived
#: (`buckets=None`): B = ceil(N / this), keeping per-draw work bounded
#: and total join output ~n_negatives · N · this — linear in the corpus.
NEG_TARGET_BUCKET_SIZE = 128


def contrastive_negatives(
    df: DataFrame,
    id_col: str = "doc_id",
    n_negatives: int = 2,
    buckets: int | None = 64,
    salt: str = "neg1",
) -> DataFrame:
    """Deterministic negative sampling for contrastive / embedding
    training pairs: each anchor draws `n_negatives` pseudo-random
    partners from the corpus, reproducibly (same salt ⇒ same pairs, on
    any cluster layout).

    Mechanism: every row hashes into one of `buckets` candidate buckets;
    each (anchor, j) draw hashes to a bucket and takes the candidate
    with the smallest draw-specific hash (anchor excluded). Uniform-ish
    without any global ordering: the join is keyed by bucket — the same
    bounded-fan-out equi-join shape as LSH banding, no window over the
    corpus, no driver-side sampling state.

    Returns (id, neg_idx, neg_id) with neg_idx in [0, n_negatives).
    A draw can land on an empty-after-exclusion bucket only when a
    bucket holds just the anchor itself — sized away by keeping
    `buckets` ≪ corpus size.

    SCALE KNOB: the candidate join produces ~n_negatives · N · (N/B)
    rows before the per-draw pick, so `buckets` must GROW with the
    corpus — size B ≈ N/100 for a bounded ~100-candidate scan per draw
    (linear total work). The default 64 suits the 10³-10⁴-doc test
    scales; a fixed B at web scale turns the join quadratic. Pass
    ``buckets=None`` to DERIVE B from the corpus size (one count()
    scalar action: B = ceil(N / NEG_TARGET_BUCKET_SIZE)) — the
    corpus-facing path; an explicit B is for oracle-reproducible tests.
    """
    if buckets is None:
        n = df.count()
        buckets = max(1, -(-n // NEG_TARGET_BUCKET_SIZE))
    key = F.col(id_col).cast("string")
    cand = df.select(
        F.col(id_col).alias("neg_id"),
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"b:{salt}:"), key)), 1, 15),
                16,
                10,
            ).cast("bigint")
            % buckets
        ).alias("bucket"),
    )
    draws = df.select(
        F.col(id_col),
        F.explode(F.array(*[F.lit(j) for j in range(n_negatives)])).alias(
            "neg_idx"
        ),
    ).withColumn(
        "bucket",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"d:{salt}:"),
                        F.col(id_col).cast("string"),
                        F.lit("|"),
                        F.col("neg_idx").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        % buckets,
    )
    pick_hash = F.md5(
        F.concat(
            F.lit(f"p:{salt}:"),
            F.col(id_col).cast("string"),
            F.lit("|"),
            F.col("neg_idx").cast("string"),
            F.lit("|"),
            F.col("neg_id").cast("string"),
        )
    )
    return (
        draws.join(cand, "bucket")
        .filter(F.col("neg_id") != F.col(id_col))
        .select(
            F.col(id_col),
            "neg_idx",
            F.struct(pick_hash.alias("h"), F.col("neg_id").alias("n")).alias(
                "_pick"
            ),
        )
        .groupBy(id_col, "neg_idx")
        .agg(F.min("_pick").alias("_best"))
        .select(id_col, "neg_idx", F.col("_best.n").alias("neg_id"))
    )


def capped_token_budget_plan(
    df: DataFrame,
    group_col: str,
    token_count_col: Column,
    budget_tokens: int,
    alpha: float = 0.5,
    max_epochs: float = 4.0,
    round_w: int = 6,
) -> DataFrame:
    """`token_budget_plan` with the repetition ceiling enforced:
    waterfilling allocation where no group may be planned past
    ``max_epochs`` passes over its tokens (Muennighoff et al. 2023's
    ~4-epoch useful ceiling), and the tokens a capped group can't absorb
    are redistributed across the uncapped groups by the same
    temperature-``alpha`` weights — iterated to the fixpoint, so the
    budget is spent unless EVERY group caps out.

    Returns (group, n_docs, n_tokens, planned_tokens, epochs, capped).
    `planned_tokens` ≤ max_epochs·n_tokens always; Σ planned ≤ budget
    with equality unless all groups are capped.

    Scale shape: one partial-agg'd groupBy over the corpus, then the
    waterfilling loop runs DRIVER-SIDE over the per-group table — the
    standard bounded-collect exemption (rows = number of sources, not
    corpus size; same contract as `pack_sequences`' per-partition
    offsets). The corpus itself is aggregated once and never
    reshuffled; the resulting plan is a literal table joined back by
    group key.
    """
    counts_df = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col).alias("n_tokens"),
    )
    rows = counts_df.collect()  # bounded: one row per source
    if not rows:
        return counts_df.select(
            group_col,
            "n_docs",
            "n_tokens",
            F.lit(0).cast("bigint").alias("planned_tokens"),
            F.lit(0.0).alias("epochs"),
            F.lit(False).alias("capped"),
        )
    total = sum(r["n_tokens"] for r in rows)
    cap = {r[group_col]: int(max_epochs * r["n_tokens"]) for r in rows}
    planned = {r[group_col]: 0 for r in rows}
    # Weights are quantized to a 12-dp grid (HALF_UP on the exact binary
    # double, i.e. Spark's/DuckDB's round() semantics) for two reasons:
    # (a) `w_sum` must be ORDER-FREE — `active` is a Python set of
    # strings whose iteration order is hash-salted per process, so a
    # plain float sum over it differs in the last ulp run-to-run; grid
    # values sum EXACTLY in Decimal, killing that nondeterminism; (b) it
    # makes every float in the loop expressible in the DuckDB oracle
    # (round(power(...), 12) + DECIMAL sums — the repo's cross-engine
    # pattern). 12 dp cannot round a weight to zero for any realistic
    # skew (w < 5e-13 means a token share below 2.5e-25).
    from decimal import ROUND_HALF_UP, Decimal

    _GRID = Decimal("1e-12")

    def _q12(x: float) -> Decimal:
        return Decimal(x).quantize(_GRID, rounding=ROUND_HALF_UP)

    w_dec = {
        r[group_col]: _q12((r["n_tokens"] / total) ** alpha) if total else Decimal(0)
        for r in rows
    }
    w = {g: float(d) for g, d in w_dec.items()}
    remaining = int(budget_tokens) if total else 0
    # zero-token groups have cap 0 and weight 0: capped from the start
    active = {g for g in w if w[g] > 0 and cap[g] > 0}
    # ≤ n_sources rounds: each round either spends the remainder or
    # permanently caps at least one group
    while remaining > 0 and active:
        w_sum = float(sum(w_dec[g] for g in active))  # exact: grid values
        share = {g: int(remaining * w[g] / w_sum) for g in active}
        newly_capped = {
            g for g in active if planned[g] + share[g] >= cap[g]
        }
        if not newly_capped:
            spent = sum(share.values())
            for g in active:
                planned[g] += share[g]
            remaining -= spent
            # floor dust: stop when the remainder can't move — strictly
            # below one token per active group, or a round where every
            # floored share was 0 (possible when float rounding pushes
            # remaining*w/w_sum just under 1 with remaining == |active|,
            # which would otherwise repeat the same state forever)
            if remaining < len(active) or spent == 0:
                break
        else:
            for g in newly_capped:
                remaining -= cap[g] - planned[g]
                planned[g] = cap[g]
                active.remove(g)
    # HALF_UP on the exact binary quotient — Python's round() is
    # half-EVEN, which silently disagrees with Spark/DuckDB round() on
    # grid boundaries; quantize like the engines do.
    def _round_engine(x: float, nd: int) -> float:
        return float(
            Decimal(x).quantize(Decimal(f"1e-{nd}"), rounding=ROUND_HALF_UP)
        )

    out_rows = [
        (
            r[group_col],
            r["n_docs"],
            r["n_tokens"],
            planned[r[group_col]],
            _round_engine(planned[r[group_col]] / r["n_tokens"], round_w)
            if r["n_tokens"]
            else 0.0,
            planned[r[group_col]] >= cap[r[group_col]],
        )
        for r in rows
    ]
    spark = df.sparkSession
    group_type = counts_df.schema[group_col].dataType.simpleString()
    return spark.createDataFrame(
        out_rows,
        f"{group_col} {group_type}, n_docs bigint, n_tokens bigint, "
        "planned_tokens bigint, epochs double, capped boolean",
    )


def interleave_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Deterministic round-robin interleave across sources: rows get a
    GLOBAL position such that reading in position order alternates
    sources as evenly as their sizes allow — the balanced-mix schedule
    a multi-source training run streams (no long single-source runs,
    unlike a plain hash shuffle, and no per-source rate tables to
    maintain).

    position = within_source_rank * n_sources + source_index, where the
    within-source rank follows the seeded hash order (`md5(salt, id)`)
    and source_index is the source's rank in the sorted distinct-source
    list. Exhausted (smaller) sources simply leave gaps — position
    stays strictly increasing and deterministic, which is what a
    data-loader needs; it never re-balances mid-epoch.

    Scale: one window rank per source partition (the per-source order),
    one tiny broadcast of the sorted source list. No global window —
    the global position is ARITHMETIC, not a global sort.
    """
    from pyspark.sql import Window

    src_list = (
        df.select(F.col(source_col).alias("s"))
        .distinct()
        .groupBy()
        .agg(F.array_sort(F.collect_list("s")).alias("sources"))
    )
    order_key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy(source_col).orderBy(order_key, F.col(id_col))
    ranked = df.withColumn("_rank", F.row_number().over(w) - 1)
    return (
        ranked.crossJoin(F.broadcast(src_list))
        .withColumn(
            "position",
            F.col("_rank") * F.size("sources")
            + F.array_position(F.col("sources"), F.col(source_col))
            - F.lit(1),
        )
        .drop("_rank", "sources")
    )


#: Poisson(1) CDF thresholds for the bootstrap draw (weights 0..7; the
#: tail beyond 7 has mass < 1.1e-5 and folds into the last bucket).
#: Literal doubles so both engines compare the SAME values.
POISSON1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
    0.9999897508033253,
)


def bootstrap_mean_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_replicates: int = 16,
    salt: str = "boot",
    lo: float = 0.025,
    hi: float = 0.975,
) -> DataFrame:
    """Distributed Poisson bootstrap (Chamandy et al. 2012, the
    MapReduce-era standard): a CI for the mean of `value_col` without
    resampling shuffles — each (row, replicate) draws a Poisson(1)
    weight from a seeded hash (so every engine and every run draws the
    SAME resamples), replicate means are exact decimal weighted sums,
    and the CI is the percentile over replicate means. One row:
    ``(n_rows, mean, ci_low, ci_high, n_replicates)``.

    Hash economy — the design was MEASURED into shape at sf0.1
    (local[32], B=32): per-(row, replicate) md5 50 s; md5-per-row with
    hex-substring slicing 17 s; replicates-as-columns 27 s (64 complex
    aggregate expressions knock the agg out of whole-stage codegen).
    THIS shape: each row converts ⌈B/7⌉ digests to 60-bit INTEGERS
    once, and every replicate extracts its 8-bit uniform with a
    shift-and-mask (pure codegen integer ops, no per-replicate string
    work) inside the ×B explode; one partial-agg'd replicate-keyed
    aggregate. The 8-bit uniform quantizes the Poisson inverse-CDF at
    1/256 — immaterial for a CI, still perfectly deterministic.
    """
    if n_replicates > 128:
        raise ValueError("n_replicates > 128 not supported (hash slicing)")
    n_digests = (n_replicates + 6) // 7  # 7 usable bytes per 60-bit hash
    digest_cols = [
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        F.lit(str(d)),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias(f"_h{d}")
        for d in range(n_digests)
    ]
    vd = F.col(value_col).cast("double").cast("decimal(18,6)")
    # The digest md5s, the ×B explode and the map-side partial aggregate
    # all run in the SCAN stage — single-task on a narrow input, with no
    # downstream exchange to replace (the replicate aggregate shuffles
    # ~B×10 rows). Probe-based widening spreads that work and no-ops at
    # production scale; measured 3.85 → 1.53 s at sf0.1 (r11).
    from .similarity import widen_partitions

    base = widen_partitions(df, id_col).select(vd.alias("_v"), *digest_cols)
    exploded = base.select(
        "_v",
        *[f"_h{d}" for d in range(n_digests)],
        F.explode(F.sequence(F.lit(0), F.lit(n_replicates - 1))).alias("_b"),
    )
    # replicate b reads byte (b % 7) of integer digest (b // 7). The
    # byte maps to its Poisson weight through a 256-entry literal LUT —
    # the same mapping the u <= CDF[k] comparison chain computed
    # (u = byte/256 exactly, so LUT[byte] is the identical k), minus a
    # double division and an 8-deep CASE per (row, replicate) (r11).
    harr = ", ".join(f"_h{d}" for d in range(n_digests))
    lut = []
    for byte in range(256):
        u = byte / 256.0
        wv = len(POISSON1_CDF)
        for k, thr in enumerate(POISSON1_CDF):
            if u <= thr:
                wv = k
                break
        lut.append(wv)
    lut_sql = "array(" + ",".join(str(x) for x in lut) + ")"
    w = F.expr(
        f"element_at({lut_sql}, CAST((shiftright(element_at(array({harr}),"
        " CAST(_b DIV 7 AS INT) + 1), (_b % 7) * 8) & 255) AS INT) + 1)"
    )
    drawn = exploded.select("_b", "_v", w.cast("bigint").alias("_w"))
    # Two-level aggregate (r11): weights are integers 0..8, so summing
    # `_v` once per (replicate, weight) group and scaling the ≤9 group
    # sums by w afterwards replaces a decimal multiply per
    # (row, replicate) with one per group — Σ_rows v·w = Σ_w w·Σ_w(v)
    # exactly (decimal sums and integer scaling are both exact), so
    # rep_mean is bit-identical. w as decimal(2,0): a bigint operand
    # would push the product past the 38-digit cap (silent scale
    # truncation — engine-divergent).
    bw = drawn.groupBy("_b", "_w").agg(
        F.sum("_v").alias("_sv"), F.count(F.lit(1)).alias("_cnt")
    )
    reps = bw.groupBy("_b").agg(
        (
            F.sum(F.col("_sv") * F.col("_w").cast("decimal(2,0)"))
            .cast("double")
            / F.sum(F.col("_w") * F.col("_cnt")).cast("double")
        ).alias("rep_mean")
    )
    pct = F.expr(f"percentile(rep_mean, array({lo!r}, {hi!r}))")
    stats = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(vd).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean"),
    )
    ci = reps.agg(
        F.round(F.element_at(pct, 1), 6).alias("ci_low"),
        F.round(F.element_at(pct, 2), 6).alias("ci_high"),
        F.count(F.lit(1)).alias("n_replicates"),
    )
    return stats.crossJoin(F.broadcast(ci))
