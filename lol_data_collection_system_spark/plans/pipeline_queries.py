"""Multimodal + feature-pipeline queries (SURVEY.md §2 U2/U7 + the
multimodal column family). The decode stub is deterministic (md5-derived),
so even the mapInPandas/pandas_udf paths are DuckDB-oracle-gated — the
Arrow plumbing itself is under the hash check.

Float determinism: feature floats are dyadic rationals (k / 2^32) — exact
in binary floating point, so no rounding is needed anywhere; z-scores are
derived from exact DECIMAL sums with the formula mirrored operation-for-
operation in the oracle, making both engines produce bit-identical
doubles (IEEE ops on identical inputs are correctly rounded).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import features as feat_ops
from ..operators import multimodal as mm_ops
from ..session import shared
from ..sources import load_table

FRAME_EVERY_N = 10

# ---------------------------------------------------------------------------
# Multimodal decode via mapInPandas (stubbed codec, real plumbing)
# ---------------------------------------------------------------------------
def q_media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode under the hash gate: the adapter synthesizes genuine
    BMP/WAV/PPM containers from document fields, the mapInPandas stage
    parses the BYTES (headers, stride-padded pixel rasters, RIFF chunk
    walk), and the oracle predicts what the decoder must recover in
    closed form — a wrong stride, row order, or chunk offset breaks the
    hash. The BMP red channel is a per-pixel gradient, so a decoder that
    read only the header could not pass."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    decoded = mm_ops.decode_features(media)
    return decoded.select(
        "media_id",
        "modality",
        "n_bytes",
        *[
            F.element_at("feature", i + 1).alias(f"f{i}")
            for i in range(mm_ops.N_FEATURES)
        ],
    )


_MODALITY_SQL = "['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]"

# Mirrors multimodal.synth_media_row: every decoded quantity in closed
# form over (doc_id, n_chars). Integer-exact or dyadic (x.0 / x.5) floats
# only, so cross-engine doubles are bit-identical.
ORACLE_MEDIA_DECODE_FEATURES = f"""
WITH dims AS (
  SELECT doc_id, n_chars,
         doc_id % 7 + 1 AS w, doc_id % 5 + 1 AS h,     -- image
         doc_id % 32 + 1 AS ns,                        -- audio samples
         doc_id % 300 + 1 AS nf                        -- video frames
  FROM documents)
SELECT doc_id AS media_id,
       {_MODALITY_SQL} AS modality,
       CASE doc_id % 3
         WHEN 0 THEN 54 + h * ((w * 3 + 3) // 4 * 4)
         WHEN 1 THEN 44 + 2 * ns
         ELSE 23 * nf END AS n_bytes,
       CAST(CASE doc_id % 3
         WHEN 0 THEN w WHEN 1 THEN 16000 ELSE nf END AS DOUBLE) AS f0,
       CAST(CASE doc_id % 3
         WHEN 0 THEN h WHEN 1 THEN ns ELSE 2 END AS DOUBLE) AS f1,
       CAST(CASE doc_id % 3
         WHEN 0 THEN doc_id % 200 + (w - 1) / 2.0 + (h - 1) / 2.0
         WHEN 1 THEN doc_id % 1000 ELSE 2 END AS DOUBLE) AS f2,
       CAST(CASE doc_id % 3
         WHEN 0 THEN n_chars % 256 WHEN 1 THEN 0
         ELSE doc_id % 256 END AS DOUBLE) AS f3,
       CAST(CASE doc_id % 3
         WHEN 0 THEN doc_id * 7 % 256 ELSE 0 END AS DOUBLE) AS f4
FROM dims
"""


# ---------------------------------------------------------------------------
# Frame sampling from metadata only (decode deferred)
# ---------------------------------------------------------------------------
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    return mm_ops.frame_sample_plan(media, FRAME_EVERY_N)


ORACLE_MEDIA_FRAME_SAMPLE = f"""
SELECT doc_id AS media_id,
       {_MODALITY_SQL} AS modality,
       unnest(generate_series(
           0,
           greatest(CASE WHEN doc_id % 3 = 2 THEN doc_id % 300 + 1 ELSE 1 END - 1, 0),
           {FRAME_EVERY_N}))
         AS frame_idx
FROM documents
"""


# ---------------------------------------------------------------------------
# Wide one-hot feature matrix + Arrow pandas_udf linear scoring
# ---------------------------------------------------------------------------
STATUS_VALUES = ["F", "O", "P"]
PRIORITY_VALUES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SCORE_WEIGHTS = {
    "o_orderstatus_f": 7,
    "o_orderstatus_o": -3,
    "o_orderstatus_p": 11,
    "o_orderpriority_1_urgent": 13,
    "o_orderpriority_2_high": 5,
    "o_orderpriority_3_medium": 2,
    "o_orderpriority_4_not_specified": -1,
    "o_orderpriority_5_low": -8,
    "o_custkey": 17,
}
SCORE_BIAS = 42


def q_order_feature_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    fm = feat_ops.feature_matrix(
        orders,
        id_cols=["o_orderkey"],
        categorical={
            "o_orderstatus": STATUS_VALUES,
            "o_orderpriority": PRIORITY_VALUES,
        },
        numeric=["o_custkey"],
    )
    scorer = feat_ops.linear_score(SCORE_WEIGHTS, SCORE_BIAS)
    return scorer(fm, "score").select(
        "o_orderkey",
        "o_orderstatus_f",
        "o_orderpriority_1_urgent",
        "score",
    )


def _onehot_sql(col: str, value: str) -> str:
    return f"CASE WHEN {col} = '{value}' THEN 1 ELSE 0 END"


def _score_sql() -> str:
    terms = [
        f"{w} * ({_onehot_sql('o_orderstatus', 'F')})"
        if n == "o_orderstatus_f"
        else f"{w} * ({_onehot_sql('o_orderstatus', 'O')})"
        if n == "o_orderstatus_o"
        else f"{w} * ({_onehot_sql('o_orderstatus', 'P')})"
        if n == "o_orderstatus_p"
        else f"{w} * ({_onehot_sql('o_orderpriority', '1-URGENT')})"
        if n == "o_orderpriority_1_urgent"
        else f"{w} * ({_onehot_sql('o_orderpriority', '2-HIGH')})"
        if n == "o_orderpriority_2_high"
        else f"{w} * ({_onehot_sql('o_orderpriority', '3-MEDIUM')})"
        if n == "o_orderpriority_3_medium"
        else f"{w} * ({_onehot_sql('o_orderpriority', '4-NOT SPECIFIED')})"
        if n == "o_orderpriority_4_not_specified"
        else f"{w} * ({_onehot_sql('o_orderpriority', '5-LOW')})"
        if n == "o_orderpriority_5_low"
        else f"{w} * o_custkey"
        for n, w in sorted(SCORE_WEIGHTS.items())
    ]
    return " + ".join(terms) + f" + {SCORE_BIAS}"


ORACLE_ORDER_FEATURE_SCORES = f"""
SELECT o_orderkey,
       {_onehot_sql('o_orderstatus', 'F')} AS o_orderstatus_f,
       {_onehot_sql('o_orderpriority', '1-URGENT')} AS o_orderpriority_1_urgent,
       CAST({_score_sql()} AS BIGINT) AS score
FROM orders
"""


# ---------------------------------------------------------------------------
# z-score normalization from exact decimal moments (no collect, no rounding)
# ---------------------------------------------------------------------------
def q_normalized_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x − μ) / 2σ with μ and σ derived from exact DECIMAL Σx and Σx²;
    the 1-row stats frame is broadcast-joined (no driver collect). The
    double math (casts, −, ×, ÷, sqrt) is mirrored token-for-token in the
    oracle, so results are bit-identical without rounding."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    stats = orders.agg(
        F.sum(d).alias("s1"),
        F.sum(d * d).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("n") * mu * mu) / (F.col("n") - 1)
    stats = stats.select(
        mu.alias("mu"), F.sqrt(var).alias("sigma")
    )
    return orders.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        (
            (F.col("o_totalprice").cast("double") - F.col("mu"))
            / (F.lit(2.0) * F.col("sigma"))
        ).alias("z_price"),
    )


ORACLE_NORMALIZED_ORDER_PRICE = """
WITH stats AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu_pre,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM orders),
stats2 AS (
  SELECT mu_pre AS mu, sqrt((s2 - n * mu_pre * mu_pre) / (n - 1)) AS sigma FROM stats)
SELECT o_orderkey,
       (CAST(o_totalprice AS DOUBLE) - mu) / (2.0 * sigma) AS z_price
FROM orders, stats2
"""

# ---------------------------------------------------------------------------
# MLP batch inference (tanh hidden layer + sigmoid) over Arrow — the real
# model-serving shape (proto_data_analysis.py:826-831's predict_proba),
# with dyadic weights so the oracle can unroll the network exactly.
# ---------------------------------------------------------------------------
MLP_W1 = [
    [0.5, -1.25, 0.75],
    [-0.5, 1.0, 0.25],
    [0.125, 0.5, -0.75],
    [1.5, -0.25, 0.5],
]
MLP_B1 = [0.25, -0.5, 0.0, 0.125]
MLP_W2 = [1.0, -0.75, 0.5, 1.25]
MLP_B2 = -0.25


def q_order_mlp_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Features: the decimal-moment z-score of o_totalprice (bit-exact
    cross-engine, same construction as `normalized_order_price`) plus two
    one-hot flags; scored by the numpy MLP over Arrow batches."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_totalprice").cast("decimal(18,2)")
    stats = orders.agg(
        F.sum(d).alias("s1"), F.sum(d * d).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (F.col("s2").cast("double") - F.col("n") * mu * mu) / (F.col("n") - 1)
    stats = stats.select(mu.alias("mu"), F.sqrt(var).alias("sigma"))
    feats = orders.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        (
            (F.col("o_totalprice").cast("double") - F.col("mu"))
            / (F.lit(2.0) * F.col("sigma"))
        ).alias("z_price"),
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("is_urgent"),
        F.when(F.col("o_orderstatus") == "F", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("is_fulfilled"),
    )
    scorer = feat_ops.mlp_score_udf(MLP_W1, MLP_B1, MLP_W2, MLP_B2)
    return scorer(feats, ["z_price", "is_urgent", "is_fulfilled"]).select(
        "o_orderkey", "mlp_score"
    )


def _mlp_oracle() -> str:
    x = ["z_price", "is_urgent", "is_fulfilled"]
    hidden = []
    for row, bj in zip(MLP_W1, MLP_B1):
        z = f"{bj!r}" + "".join(
            f" + {wi!r} * {xi}" for wi, xi in zip(row, x)
        )
        hidden.append(
            f"round(1.0 - 2.0 / (round(exp(2.0 * ({z})), 6) + 1.0), 6)"
        )
    z_out = f"{MLP_B2!r}" + "".join(
        f" + {wj!r} * ({h})" for wj, h in zip(MLP_W2, hidden)
    )
    return f"""
WITH stats AS (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu_pre,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
         COUNT(*) AS n
  FROM orders),
stats2 AS (
  SELECT mu_pre AS mu, sqrt((s2 - n * mu_pre * mu_pre) / (n - 1)) AS sigma FROM stats),
feats AS (
  SELECT o_orderkey,
         (CAST(o_totalprice AS DOUBLE) - mu) / (2.0 * sigma) AS z_price,
         CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS is_urgent,
         CASE WHEN o_orderstatus = 'F' THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(0.0 AS DOUBLE) END AS is_fulfilled
  FROM orders, stats2)
SELECT o_orderkey,
       round(1.0 / (1.0 + round(exp(-({z_out})), 6)), 6) AS mlp_score
FROM feats
"""


# ---------------------------------------------------------------------------
# Image resize roundtrip (decode -> nearest-neighbor -> re-encode -> decode)
# ---------------------------------------------------------------------------
RESIZE_W = RESIZE_H = 2


def q_media_resized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every synthesized BMP to 2x2 and report roundtrip stats.
    The oracle predicts the nearest-neighbor result in closed form over
    the known gradient (r = base + x + y with source index x*w//tw):
    mean_r = base + (w//2)/2 + (h//2)/2 — exact dyadic floats. A
    resampler with the wrong index convention, row order, or stride
    breaks the hash."""
    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    images = media.filter(F.col("modality") == "image")
    return mm_ops.resize_images(images, RESIZE_W, RESIZE_H)


ORACLE_MEDIA_RESIZED_STATS = f"""
SELECT doc_id AS media_id,
       doc_id % 7 + 1 AS width_in,
       doc_id % 5 + 1 AS height_in,
       CAST({RESIZE_W} AS BIGINT) AS width_out,
       CAST({RESIZE_H} AS BIGINT) AS height_out,
       CAST(54 + {RESIZE_H} * (({RESIZE_W} * 3 + 3) // 4 * 4) AS BIGINT)
         AS n_bytes_out,
       CAST(doc_id % 200
            + ((doc_id % 7 + 1) // {RESIZE_W}) / CAST({RESIZE_W} AS DOUBLE)
            + ((doc_id % 5 + 1) // {RESIZE_H}) / CAST({RESIZE_H} AS DOUBLE)
         AS DOUBLE) AS mean_r,
       CAST(n_chars % 256 AS DOUBLE) AS mean_g
FROM documents WHERE doc_id % 3 = 0
"""


# ---------------------------------------------------------------------------
# Image near-duplicate detection: dHash -> exact collapse -> Hamming-band
# LSH over distinct hashes -> connected components
# ---------------------------------------------------------------------------
PHASH_THRESHOLD = 6


def q_media_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup grouping over the synthesized BMP corpus
    (`multimodal.phash_images` dHash + `dedup.hamming_components`).

    Closed-form oracle: the fixture images are gradients
    r = base + x + y with constant g/b (`synth_media_row`), so the
    adjacent-column brightness differences — hence the entire dHash —
    depend ONLY on the image width w = doc_id%7+1: nearest-neighbor
    upsampling to the 9-wide grid repeats columns per x*w//9, giving
    w-1 rising transitions per row regardless of h, base brightness, or
    channel constants (the brightness-invariance story, visible in the
    fixture itself). Distinct widths differ in >= 8 bits (8 identical
    rows x >= 1 differing transition) > threshold 6, and same-width
    images hash identically, so components == width groups with
    component_id = the group's minimum doc_id."""
    from ..operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    images = media.filter(F.col("modality") == "image")
    sigs = mm_ops.phash_images(images)
    return dedup_ops.hamming_components(
        sigs, "media_id", "phash", threshold=PHASH_THRESHOLD
    )


ORACLE_MEDIA_NEAR_DUP = """
SELECT doc_id AS media_id,
       MIN(doc_id) OVER (PARTITION BY doc_id % 7) AS component_id
FROM documents WHERE doc_id % 3 = 0
"""


def q_media_png_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`media_near_dup` over the PNG container (round 10; VERDICT r9
    #6): the SAME gradient images re-encoded as 8-bit RGB PNG with the
    per-row filter type cycling through all five
    (None/Sub/Up/Average/Paeth — `(doc_id + y) % 5`), decoded by the
    stdlib-zlib IHDR/IDAT walk, dHashed, and component-grouped. The
    oracle is the BMP path's closed-form width-group map VERBATIM:
    hash-green here proves every filter reconstruction recovered the
    exact pixels (one wrong byte anywhere moves a dHash bit and splits
    or merges a component)."""
    from ..operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    images = mm_ops.png_media_from_documents(docs)
    sigs = mm_ops.phash_images(images)
    return dedup_ops.hamming_components(
        sigs, "media_id", "phash", threshold=PHASH_THRESHOLD
    )


def q_media_near_dup_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`media_near_dup` on the 128-bit fingerprint path
    (`multimodal.dhash128` (hi, lo) word pair + the multi-word banded
    join, 16-bit bands at n_bands=8 — the wider-fingerprint remedy the
    pair-budget guard recommends, hash-gated end to end). Same
    closed-form oracle: the 17×8 grid still keys only on the width
    (w−1 rising transitions per row, positions a function of w), so
    same-width images hash identically and distinct widths differ in
    ≥ 8 of the 128 bits > threshold."""
    from ..operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    images = media.filter(F.col("modality") == "image")
    sigs = mm_ops.phash_images_wide(images)
    return dedup_ops.hamming_components(
        sigs, "media_id", ["phash_hi", "phash_lo"],
        threshold=PHASH_THRESHOLD, n_bands=8, bits=128,
    )


def q_media_golden_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical asset per perceptual near-dup component — the media
    analogue of `customer_golden_records`: within each dHash component
    keep the SMALLEST payload (ties to the lower id), the storage-side
    survivorship rule for an asset-dedup pass. One aggregate over the
    component map; the argmin rides a struct-min (no window over the
    asset corpus)."""
    from ..operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    images = media.filter(F.col("modality") == "image")
    comp = dedup_ops.hamming_components(
        mm_ops.phash_images(images), "media_id", "phash",
        threshold=PHASH_THRESHOLD,
    )
    sized = images.select(
        "media_id", F.length(F.col("payload")).alias("n_bytes")
    )
    best = F.min(F.struct(F.col("n_bytes"), F.col("media_id")))
    return (
        comp.join(sized, "media_id")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            best["media_id"].alias("canonical_id"),
            best["n_bytes"].cast("long").alias("canonical_bytes"),
        )
    )


_MEDIA_TS0_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
MEDIA_DEDUP_WINDOW = "10 minutes"


def q_media_near_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of `streaming/dedup.media_near_dedup_stream` under the
    hash gate: synthesize arrival times in closed form (media_id % 40
    minutes past a fixed epoch), run the SAME banded first-wins plan the
    stream runs, and emit the kept ids with their emit windows.

    Closed-form oracle: all same-width gradient images share one dHash
    (see `q_media_near_dup`), so every band bucket of a width group is
    won by the group's earliest (ts, id) arrival and everyone else loses
    all 8 bands — kept == argmin(ts, id) per width group."""
    from ..streaming.dedup import media_near_dedup_stream

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    images = media.filter(F.col("modality") == "image").select(
        "media_id",
        F.timestamp_millis(
            F.lit(_MEDIA_TS0_MS) + (F.col("media_id") % 40) * 60_000
        ).alias("ts"),
        "payload",
    )
    kept = media_near_dedup_stream(
        images, emit_window=MEDIA_DEDUP_WINDOW
    )
    return kept.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "media_id",
    )


ORACLE_MEDIA_NEAR_DEDUP_KEPT = f"""
WITH imgs AS (
  SELECT doc_id AS media_id,
         {_MEDIA_TS0_MS} + (doc_id % 40) * 60000 AS ts_ms
  FROM documents WHERE doc_id % 3 = 0),
winners AS (
  -- (ts, id) order == ((id % 40), id) order by construction; the
  -- composite key stays far inside BIGINT (ts_ms * anything would not)
  SELECT arg_min(media_id, (media_id % 40) * 10000000000000 + media_id)
           AS media_id
  FROM imgs GROUP BY media_id % 7)
SELECT make_timestamp(CAST(floor(i.ts_ms / 600000) * 600000 AS BIGINT) * 1000)
         AS window_start,
       make_timestamp(CAST(floor(i.ts_ms / 600000) * 600000 + 600000 AS BIGINT)
                      * 1000) AS window_end,
       w.media_id
FROM winners w JOIN imgs i USING (media_id)
"""


# ---------------------------------------------------------------------------
# Media funnel: the end-to-end asset-dedup composition as ONE hash-gated
# query — the `corpus_funnel` analogue for the media pipeline
# ---------------------------------------------------------------------------
#: Shard byte budget for the canonical-asset export stage. Tiny on the
#: synthetic corpus (the canonical set is one asset per width group) so
#: the packing genuinely produces multiple shards at every test SF.
MEDIA_SHARD_BUDGET = 150

def q_media_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest → dHash → exact collapse → Hamming components → golden
    survivorship → shard export, value-checked END TO END: one
    (stage, n_rows, n_bytes) row per funnel stage.

    Stages: `media` (every synthesized payload), `images` (modality
    filter), `distinct_phash` (exact-dup collapse — byte total is the
    min-id representative per hash), `components` (perceptual near-dup
    groups; byte total = the golden canonicals), `shards` (canonicals
    greedily packed by cumulative bytes into `MEDIA_SHARD_BUDGET`-byte
    shards; n_rows = shard count).

    Scale shape: every stage is an aggregate over the previous stage's
    (already collapsed) output, and the shard prefix-sum over the
    CANONICAL set runs through `packing.exclusive_prefix_sum` — the
    two-phase distributed mechanism (range partition → per-partition
    cumsum → broadcast offsets), NOT a single-partition global window:
    a 100 TB media corpus can still carry 10⁸+ canonicals (VERDICT r7
    #2). Payload bytes flow through `length()` only — no decode beyond
    the one dHash pass."""
    from ..operators import dedup as dedup_ops
    from ..operators.packing import exclusive_prefix_sum

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs).persist()
    images = media.filter(F.col("modality") == "image")
    sized = images.select(
        "media_id", F.length(F.col("payload")).cast("long").alias("n_bytes")
    )
    sigs = mm_ops.phash_images(images).join(sized, "media_id")
    reps = sigs.groupBy("phash").agg(
        F.min(F.struct("media_id", "n_bytes"))["n_bytes"].alias("rep_bytes")
    )
    best = F.min(F.struct(F.col("n_bytes"), F.col("media_id")))
    # Feeds the components stage AND the shard packing. Shared, not just
    # persisted: the Hamming components run eager, checkpointed rounds,
    # so a per-call persist would cache a new copy on every call.
    golden = shared(
        spark,
        ("media_golden", sf_dir),
        lambda: dedup_ops.hamming_components(
            sigs, "media_id", "phash", threshold=PHASH_THRESHOLD
        )
        .join(sized, "media_id")
        .groupBy("component_id")
        .agg(
            best["media_id"].alias("canonical_id"),
            best["n_bytes"].cast("long").alias("canonical_bytes"),
        ),
    )
    sharded = exclusive_prefix_sum(
        golden.select("canonical_id", "canonical_bytes"),
        "canonical_bytes",
        ["canonical_id"],
        out_col="_prev_bytes",
    ).select(
        "canonical_bytes",
        F.floor(F.col("_prev_bytes") / F.lit(MEDIA_SHARD_BUDGET)).alias(
            "shard_id"
        ),
    )

    def stage(name: str, df: DataFrame, n, b) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            n.cast("long").alias("n_rows"),
            b.cast("long").alias("n_bytes"),
        )

    rows = F.count(F.lit(1))
    return (
        stage("media", media, rows, F.sum(F.length("payload")))
        .unionByName(stage("images", sized, rows, F.sum("n_bytes")))
        .unionByName(stage("distinct_phash", reps, rows, F.sum("rep_bytes")))
        .unionByName(
            stage("components", golden, rows, F.sum("canonical_bytes"))
        )
        .unionByName(
            stage(
                "shards",
                sharded,
                F.countDistinct("shard_id"),
                F.sum("canonical_bytes"),
            )
        )
    )


#: Byte totals in closed form (verified against the encoders):
#: BMP 54 + h*stride(w), WAV 44 + 2*samples, PPM 23 bytes/frame.
ORACLE_MEDIA_FUNNEL = f"""
WITH m AS (
  SELECT doc_id AS d,
         CASE WHEN doc_id % 3 = 0
              THEN 54 + (doc_id % 5 + 1) * (((doc_id % 7 + 1) * 3 + 3) // 4 * 4)
              WHEN doc_id % 3 = 1 THEN 44 + (doc_id % 32 + 1) * 2
              ELSE (doc_id % 300 + 1) * 23 END AS n_bytes
  FROM documents),
imgs AS (SELECT d, d % 7 AS wgrp, n_bytes FROM m WHERE d % 3 = 0),
reps AS (SELECT wgrp, arg_min(n_bytes, d) AS rep_bytes FROM imgs GROUP BY wgrp),
golden AS (SELECT MIN(d) AS component_id,
                  arg_min(d, n_bytes * 1000000000000 + d) AS canonical_id,
                  MIN(n_bytes) AS canonical_bytes
           FROM imgs GROUP BY wgrp),
sharded AS (SELECT canonical_bytes,
                   CAST(FLOOR(COALESCE(SUM(canonical_bytes) OVER (
                          ORDER BY canonical_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) / {MEDIA_SHARD_BUDGET}) AS BIGINT) AS shard_id
            FROM golden)
SELECT 'media' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(n_bytes) AS BIGINT) AS n_bytes FROM m
UNION ALL SELECT 'images', COUNT(*), CAST(SUM(n_bytes) AS BIGINT) FROM imgs
UNION ALL SELECT 'distinct_phash', COUNT(*),
       CAST(SUM(rep_bytes) AS BIGINT) FROM reps
UNION ALL SELECT 'components', COUNT(*),
       CAST(SUM(canonical_bytes) AS BIGINT) FROM golden
UNION ALL SELECT 'shards', COUNT(DISTINCT shard_id),
       CAST(SUM(canonical_bytes) AS BIGINT) FROM sharded
"""


# closed form over the gradient fixture: components == width groups;
# BMP size = 54 + h*stride(w) with stride = (w*3+3)//4*4
ORACLE_MEDIA_GOLDEN_ASSETS = """
WITH imgs AS (
  SELECT doc_id AS media_id,
         doc_id % 7 AS wgrp,
         CAST(54 + (doc_id % 5 + 1)
              * (((doc_id % 7 + 1) * 3 + 3) // 4 * 4) AS BIGINT) AS n_bytes
  FROM documents WHERE doc_id % 3 = 0)
SELECT MIN(media_id) AS component_id,
       COUNT(*) AS n_members,
       arg_min(media_id, n_bytes * 1000000000000 + media_id) AS canonical_id,
       MIN(n_bytes) AS canonical_bytes
FROM imgs GROUP BY wgrp
"""


AHASH_THRESHOLD = 3


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup grouping over the synthesized WAV corpus —
    the AUDIO half of the perceptual family (`multimodal.ahash_audio`
    waveform dHash + the same `dedup.hamming_components` machinery the
    image path uses). The fingerprint is gain-invariant (adjacent-tap
    comparisons are unchanged under positive amplitude scaling), so a
    louder re-upload of the same clip lands in the same component.

    Closed-form oracle: the fixture clips are alternating ±(id%1000)
    over (id%32)+1 samples (`synth_media_row`), so tap j of the 65-tap
    resample has sign (−1)^(j·n//... ) determined ENTIRELY by the
    parity of j·n//65 — bit i = a>0 ∧ tap(i+1) even ∧ tap(i) odd, a
    pure integer expression the oracle evaluates per (n, a), then bands
    + verifies + closes components exactly like the Spark side."""
    from ..operators import dedup as dedup_ops

    docs = load_table(spark, sf_dir, "documents")
    media = mm_ops.media_from_documents(docs)
    audio = media.filter(F.col("modality") == "audio")
    sigs = mm_ops.ahash_audio(audio)
    return dedup_ops.hamming_components(
        sigs, "media_id", "ahash", threshold=AHASH_THRESHOLD
    )


def _audio_near_dup_oracle(threshold: int = AHASH_THRESHOLD) -> str:
    two64 = 1 << 64
    return f"""
WITH RECURSIVE au AS (
  SELECT doc_id AS media_id, (doc_id % 32) + 1 AS n, doc_id % 1000 AS a
  FROM documents WHERE doc_id % 3 = 1),
ah_bits AS (
  SELECT media_id, g.i AS i,
         CASE WHEN a > 0
              AND (((g.i + 1) * n) // 65) % 2 = 0
              AND ((g.i * n) // 65) % 2 = 1
              THEN 1 ELSE 0 END AS bit
  FROM au CROSS JOIN generate_series(0, 63) g(i)),
ah_sig AS (
  SELECT media_id,
         CAST(SUM(CASE WHEN bit = 1 THEN
             CASE WHEN i = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                  ELSE CAST((1::BIGINT << i) AS HUGEINT) END
           ELSE 0 END) AS BIGINT) AS ah
  FROM ah_bits GROUP BY media_id),
ah_reps AS (SELECT ah, MIN(media_id) AS rep FROM ah_sig GROUP BY ah),
ah_u AS (
  SELECT rep, ah,
         CASE WHEN ah >= 0 THEN CAST(ah AS HUGEINT)
              ELSE CAST(ah AS HUGEINT) + {two64} END AS u
  FROM ah_reps),
ah_band AS (
  SELECT rep, ah, g.b AS band_idx,
         CAST(((u >> (8 * g.b)) % 256) AS BIGINT) AS band_val
  FROM ah_u CROSS JOIN generate_series(0, 7) g(b)),
ah_edges AS (
  SELECT DISTINCT x.rep AS id_a, y.rep AS id_b
  FROM ah_band x
  JOIN ah_band y ON x.band_idx = y.band_idx AND x.band_val = y.band_val
              AND x.rep < y.rep
  WHERE bit_count(xor(x.ah, y.ah)) <= {threshold}),
ah_sym AS (
  SELECT id_a AS u, id_b AS v FROM ah_edges
  UNION SELECT id_b, id_a FROM ah_edges),
ah_reach(node, reached) AS (
  SELECT u, u FROM ah_sym
  UNION
  SELECT r.node, s.v FROM ah_reach r JOIN ah_sym s ON s.u = r.reached),
ah_comp AS (SELECT node, MIN(reached) AS m FROM ah_reach GROUP BY node)
SELECT s.media_id, COALESCE(c.m, r.rep) AS component_id
FROM ah_sig s
JOIN ah_reps r ON r.ah = s.ah
LEFT JOIN ah_comp c ON c.node = r.rep
"""


REGISTRY = {
    "media_decode_features": (q_media_decode_features, ORACLE_MEDIA_DECODE_FEATURES),
    "audio_near_dup": (q_audio_near_dup, _audio_near_dup_oracle()),
    "media_near_dup": (q_media_near_dup, ORACLE_MEDIA_NEAR_DUP),
    "media_png_near_dup": (q_media_png_near_dup, ORACLE_MEDIA_NEAR_DUP),
    "media_golden_assets": (q_media_golden_assets, ORACLE_MEDIA_GOLDEN_ASSETS),
    "media_near_dedup_kept": (q_media_near_dedup_kept, ORACLE_MEDIA_NEAR_DEDUP_KEPT),
    # the wide path shares the 64-bit oracle: the closed form keys only
    # on image width at either fingerprint size
    "media_near_dup_wide": (q_media_near_dup_wide, ORACLE_MEDIA_NEAR_DUP),
    "media_funnel": (q_media_funnel, ORACLE_MEDIA_FUNNEL),
    "media_frame_sample": (q_media_frame_sample, ORACLE_MEDIA_FRAME_SAMPLE),
    "media_resized_stats": (q_media_resized_stats, ORACLE_MEDIA_RESIZED_STATS),
    "order_feature_scores": (q_order_feature_scores, ORACLE_ORDER_FEATURE_SCORES),
    "order_mlp_scores": (q_order_mlp_scores, _mlp_oracle()),
    "normalized_order_price": (q_normalized_order_price, ORACLE_NORMALIZED_ORDER_PRICE),
}
