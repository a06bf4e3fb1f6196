"""Trained-classifier queries: distributed logistic-regression training
over corpus quality features, AUC/confusion evaluation, and per-source
(domain) capping — the "train a quality model, score the corpus, balance
the domains" loop of a pretraining data pipeline.

Oracle strategy: the fixed small iteration count unrolls the gradient-
descent loop into chained CTEs (the `_kmeans_oracle` trick), and every
float op is IEEE-exact (rational sigmoid — no `exp`), so the DuckDB
oracle reproduces the Spark-trained weights bit-for-bit. Gradient and
count aggregates ride DECIMAL / BIGINT so partition order can't perturb
the sums.

Feature definitions are shared textually with the quality-filter oracle
family (same per_doc integer quantities as
`corpus_queries._quality_flags_ctes`): token count, distinct-token
count, stopword hits, and non-whitespace chars — each feature one
double division of integers, identical in both engines.

Reference parity: the reference trains/serves a match-outcome model
(`proto_data_analysis.py:698-724,826-831`); here the training step
itself is distributed (driver-held weights + one map-combined
aggregation per round, the spark.ml LogisticRegression shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import classifier as clf_ops
from ..operators import sampling as sampling_ops
from ..operators import text as text_ops
from ..operators import topk as topk_ops
from ..sources import load_table
from .corpus_queries import _EN_STOPS, _TOKS

CLF_FEATURES = ("f_len", "f_dis", "f_stop", "f_wlen")
CLF_ITERS = 4
CLF_LR = 0.5
CLF_THRESHOLD = 0.5
#: Squash constant for the length feature: n_tok / (n_tok + LEN_K).
LEN_K = 50
#: Mean-token-length normalizer (≈ max expected mean length).
WLEN_K = 6.0
SRC_CAP = 40


def doc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, f_len, f_dis, f_stop, f_wlen): engine-exact features
    from integer counts, label y = (lang = 'en'). Pure projection."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*text_ops.LANG_STOPWORDS["en"]))
    ).cast("bigint")
    tok_chars = F.length(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", "")
    ).cast("bigint")
    return docs.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
        (n_tok.cast("double") / (n_tok + F.lit(LEN_K))).alias("f_len"),
        (n_distinct.cast("double") / n_tok).alias("f_dis"),
        (stop_hits.cast("double") / n_tok).alias("f_stop"),
        ((tok_chars.cast("double") / n_tok) / F.lit(WLEN_K)).alias(
            "f_wlen"
        ),
    )


def _feats_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[float]]:
    """Shared (features, trained weights): the feature projection is
    pinned with a lazy localCheckpoint so the 4 training aggregations,
    the scoring pass, and the eval aggregates all reuse ONE tokenization
    of the corpus instead of re-reading parquet and re-running
    tokens/array_distinct per consumer (the pack_sequences recompute-tax
    pattern)."""
    feats = doc_features(spark, sf_dir).persist()
    weights = clf_ops.logreg_train(
        feats,
        list(CLF_FEATURES),
        label_col="y",
        iters=CLF_ITERS,
        lr=CLF_LR,
    )
    return feats, weights


def _trained_weights(spark: SparkSession, sf_dir: str) -> list[float]:
    return _feats_trained(spark, sf_dir)[1]


def q_quality_classifier_weights(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(feature, weight): the trained coefficient vector, rounded for
    the cross-engine hash. Training runs CLF_ITERS aggregation jobs."""
    weights = _trained_weights(spark, sf_dir)
    rows = [("intercept", weights[0])] + [
        (f, w) for f, w in zip(CLF_FEATURES, weights[1:])
    ]
    out = spark.createDataFrame(rows, "feature string, weight double")
    return out.select("feature", F.round("weight", 6).alias("weight"))


def q_quality_classifier_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row: n_pos, n_neg, tp, fp, fn, tn, auc — the trained model
    scored over the full corpus and evaluated exactly (integer
    Mann-Whitney rank statistic)."""
    feats, weights = _feats_trained(spark, sf_dir)
    scored = clf_ops.logreg_score(feats, weights, list(CLF_FEATURES))
    return clf_ops.binary_eval(
        scored, label_col="y", score_col="score", threshold=CLF_THRESHOLD
    )


def q_quality_classifier_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(doc_id, score): the trained model's per-document score — pins
    the scoring projection row-by-row (the aggregate eval query alone
    would let per-row errors cancel)."""
    feats, weights = _feats_trained(spark, sf_dir)
    scored = clf_ops.logreg_score(feats, weights, list(CLF_FEATURES))
    return scored.select("doc_id", F.round("score", 6).alias("score"))


QWS_K = 60
QWS_SALT = "qws"


def q_quality_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train → score → importance-sample: Efraimidis–Spirakis without-
    replacement sampling with the TRAINED classifier score as the
    weight — the end-to-end 'sample the corpus proportionally to model
    quality' composition. Pure composition of two audited parts; the
    sample is a deterministic function of (salt, doc_id, trained
    score)."""
    feats, weights = _feats_trained(spark, sf_dir)
    scored = clf_ops.logreg_score(feats, weights, list(CLF_FEATURES))
    return sampling_ops.weighted_sample_topk(
        scored, "doc_id", "score", QWS_K, salt=QWS_SALT
    ).select("doc_id", F.round("score", 6).alias("score"), "es_score")


def q_source_capped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) cap: keep the SRC_CAP highest-stopword-density
    docs per source (doc_id tiebreak) — the standard domain-balancing
    guard against one crawl source flooding the corpus. WindowGroupLimit
    per-partition top-k, never a full per-group sort."""
    feats = doc_features(spark, sf_dir)
    kept = topk_ops.topk_per_group(
        feats,
        ["source"],
        [F.col("f_stop").desc(), F.col("doc_id").asc()],
        SRC_CAP,
    )
    return kept.select(
        "source",
        "doc_id",
        "rank_in_group",
        F.round("f_stop", 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# Oracles
# ---------------------------------------------------------------------------
def _feats_ctes() -> str:
    return f"""per_doc AS (
  SELECT doc_id, source,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_EN_STOPS}))) AS BIGINT)
           AS stop_hits,
         CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT)
           AS tok_chars
  FROM documents),
feats AS (
  SELECT doc_id, source, y,
         CAST(n_tok AS DOUBLE) / (n_tok + {LEN_K}) AS f_len,
         CAST(n_distinct AS DOUBLE) / n_tok AS f_dis,
         CAST(stop_hits AS DOUBLE) / n_tok AS f_stop,
         (CAST(tok_chars AS DOUBLE) / n_tok) / {WLEN_K!r} AS f_wlen
  FROM per_doc)"""


def _z_sql(wref: str) -> str:
    """w0 + w1*f1 + ... with the same left association as
    `classifier.margin`."""
    z = f"{wref}.w0"
    for j, f in enumerate(CLF_FEATURES):
        z += f" + {wref}.w{j + 1} * {f}"
    return z


def _p_sql(wref: str) -> str:
    z = _z_sql(wref)
    return f"0.5 * (1.0 + ({z}) / (1.0 + abs({z})))"


def _train_ctes(
    iters: int = CLF_ITERS,
    lr: float = CLF_LR,
    feats_cte: str = "feats",
    suffix: str = "",
    include_feats: bool = True,
) -> list[str]:
    """Unrolled gradient descent: w{suffix}_0 = zeros; each round one
    exact decimal-sum gradient aggregate and the double-arithmetic
    update, mirroring `classifier.logreg_train` operation for
    operation. `feats_cte`/`suffix` let the CV oracle train on each
    fold's complement inside one statement."""
    d = len(CLF_FEATURES)
    parts = [_feats_ctes()] if include_feats else []
    zeros = ", ".join(f"CAST(0.0 AS DOUBLE) AS w{j}" for j in range(d + 1))
    parts.append(f"w{suffix}_0 AS (SELECT {zeros})")
    for i in range(1, iters + 1):
        p = _p_sql(f"w{suffix}_{i - 1}")
        resid = f"({p}) - CAST(y AS DOUBLE)"
        gsums = [
            f"SUM(CAST(({resid}) AS DECIMAL(38,10))) AS g0",
        ]
        for j, f in enumerate(CLF_FEATURES):
            gsums.append(
                f"SUM(CAST((({resid}) * {f}) AS DECIMAL(38,10)))"
                f" AS g{j + 1}"
            )
        parts.append(
            f"g{suffix}_{i} AS (\n  SELECT COUNT(*) AS n, "
            + ",\n         ".join(gsums)
            + f"\n  FROM {feats_cte}, w{suffix}_{i - 1})"
        )
        updates = ", ".join(
            f"w{suffix}_{i - 1}.w{j} - {lr!r} * (CAST(g{j} AS DOUBLE) / n)"
            f" AS w{j}"
            for j in range(d + 1)
        )
        parts.append(
            f"w{suffix}_{i} AS (SELECT {updates}"
            f" FROM g{suffix}_{i}, w{suffix}_{i - 1})"
        )
    return parts


def _weights_oracle() -> str:
    parts = _train_ctes()
    names = ("intercept",) + CLF_FEATURES
    selects = "\nUNION ALL ".join(
        f"SELECT '{name}' AS feature, round(w{j}, 6) AS weight"
        f" FROM w_{CLF_ITERS}"
        for j, name in enumerate(names)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


def _scores_oracle() -> str:
    parts = _train_ctes()
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, round({_p_sql(f"w_{CLF_ITERS}")}, 6) AS score
FROM feats, w_{CLF_ITERS}"""
    )


def _weighted_sample_oracle() -> str:
    parts = _train_ctes()
    p = _p_sql(f"w_{CLF_ITERS}")
    parts.append(
        f"scored AS (\n  SELECT doc_id, {p} AS score"
        f" FROM feats, w_{CLF_ITERS})"
    )
    parts.append(
        f"""es AS (
  SELECT doc_id, score,
         round(ln((CAST(CAST(('0x' || substr(md5('{QWS_SALT}'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                   + 0.5) / {float(1 << 60)!r}), 6) / score AS es_score
  FROM scored WHERE score > 0)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT doc_id, round(score, 6) AS score, es_score
FROM es ORDER BY es_score DESC, doc_id
LIMIT {QWS_K}"""
    )


def _eval_oracle() -> str:
    parts = _train_ctes()
    parts.append(
        f"""scored AS (
  SELECT y, {_p_sql(f"w_{CLF_ITERS}")} AS score FROM feats, w_{CLF_ITERS})"""
    )
    parts.append(
        """by_score AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM scored GROUP BY score)"""
    )
    parts.append(
        """ranked AS (
  SELECT pos, neg,
         CAST(COALESCE(SUM(neg) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM by_score)"""
    )
    parts.append(
        """u AS (
  SELECT CAST(SUM(2 * pos * neg_below + pos * neg) AS BIGINT) AS u2,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg
  FROM ranked)"""
    )
    parts.append(
        f"""conf AS (
  SELECT CAST(SUM(CASE WHEN score >= {CLF_THRESHOLD!r} THEN y
                       ELSE 0 END) AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN score >= {CLF_THRESHOLD!r} THEN 1 - y
                       ELSE 0 END) AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN score < {CLF_THRESHOLD!r} THEN y
                       ELSE 0 END) AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN score < {CLF_THRESHOLD!r} THEN 1 - y
                       ELSE 0 END) AS BIGINT) AS tn
  FROM scored)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + """
SELECT n_pos, n_neg, tp, fp, fn, tn,
       round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
FROM u, conf"""
    )


CV_FOLDS = 3
CV_SALT = "cv-v1"


def q_classifier_cv_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validated AUC — the model-selection gate run before
    trusting a quality classifier's threshold: (fold, n_pos, n_neg,
    auc). Folds are deterministic hash buckets of doc_id (layout- and
    engine-independent); each fold's model trains on the other folds
    with the SAME GD recipe as `quality_classifier_weights` and is
    evaluated on the held-out fold with the exact Mann-Whitney AUC.
    3 × CLF_ITERS map-combined gradient aggregates over one pinned
    feature projection — nothing here is corpus² at any scale."""
    from concurrent.futures import ThreadPoolExecutor

    # eager: the frame is re-read by 3×CLF_ITERS gradient jobs below;
    # materializing once up front also makes the concurrent folds race-
    # free on the checkpoint (same bytes either way)
    feats = doc_features(spark, sf_dir).withColumn(
        "_fold", sampling_ops.sample_bucket(F.col("doc_id"), CV_SALT) % CV_FOLDS
    ).localCheckpoint(eager=True)

    def fold_eval(f: int) -> DataFrame:
        # each fold's CLF_ITERS gradient-descent collects are driver-
        # blocking; the folds are INDEPENDENT, so running them from a
        # small thread pool overlaps the jobs (guide §2.6) — per-fold
        # math, and therefore every weight and AUC, is unchanged
        spark.sparkContext.setJobDescription(f"classifier_cv_eval fold {f}")
        train = feats.filter(F.col("_fold") != f)
        weights = clf_ops.logreg_train(
            train, list(CLF_FEATURES), label_col="y",
            iters=CLF_ITERS, lr=CLF_LR,
        )
        scored = clf_ops.logreg_score(
            feats.filter(F.col("_fold") == f), weights, list(CLF_FEATURES)
        )
        return clf_ops.binary_eval(
            scored, label_col="y", score_col="score",
            threshold=CLF_THRESHOLD,
        ).select(
            F.lit(f).cast("bigint").alias("fold"),
            "n_pos",
            "n_neg",
            "auc",
        )

    with ThreadPoolExecutor(max_workers=CV_FOLDS) as pool:
        evs = list(pool.map(fold_eval, range(CV_FOLDS)))
    spark.sparkContext.setJobDescription(None)
    out = evs[0]
    for ev in evs[1:]:
        out = out.unionByName(ev)
    return out


def _cv_oracle() -> str:
    from .corpus_queries import _bucket_of

    parts = [_feats_ctes()]
    parts.append(
        f"cfold AS (SELECT *, {_bucket_of('doc_id', CV_SALT)} % {CV_FOLDS}"
        f" AS fold FROM feats)"
    )
    selects = []
    for f in range(CV_FOLDS):
        sfx = f"cv{f}"
        parts.append(
            f"feats_{sfx} AS (SELECT * FROM cfold WHERE fold != {f})"
        )
        parts.extend(
            _train_ctes(
                feats_cte=f"feats_{sfx}", suffix=sfx, include_feats=False
            )
        )
        parts.append(
            f"""scored_{sfx} AS (
  SELECT y, {_p_sql(f"w{sfx}_{CLF_ITERS}")} AS score
  FROM cfold, w{sfx}_{CLF_ITERS} WHERE fold = {f})"""
        )
        parts.append(
            f"""bs_{sfx} AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(SUM(1 - y) AS BIGINT) AS neg
  FROM scored_{sfx} GROUP BY score)"""
        )
        parts.append(
            f"""rk_{sfx} AS (
  SELECT pos, neg,
         CAST(COALESCE(SUM(neg) OVER (ORDER BY score
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM bs_{sfx})"""
        )
        parts.append(
            f"""u_{sfx} AS (
  SELECT CAST(SUM(2 * pos * neg_below + pos * neg) AS BIGINT) AS u2,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(neg) AS BIGINT) AS n_neg
  FROM rk_{sfx})"""
        )
        selects.append(
            f"""SELECT CAST({f} AS BIGINT) AS fold, n_pos, n_neg,
       round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc
FROM u_{sfx}"""
        )
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _source_cap_oracle() -> str:
    return f"""
WITH {_feats_ctes()},
ranked AS (
  SELECT source, doc_id, f_stop,
         CAST(row_number() OVER (PARTITION BY source
           ORDER BY f_stop DESC, doc_id) AS INT) AS rank_in_group
  FROM feats)
SELECT source, doc_id, rank_in_group, round(f_stop, 6) AS quality
FROM ranked WHERE rank_in_group <= {SRC_CAP}
"""


CAL_BUCKETS = 10


def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram: trained scores bucketed into score deciles,
    each bucket's observed positive rate vs its mean predicted score —
    the calibration gate behind using classifier scores as sampling
    WEIGHTS (miscalibrated scores skew every downstream weighted draw).
    Integer counts + decimal mean of 6-dp scores: engine-exact."""
    feats, weights = _feats_trained(spark, sf_dir)
    scored = clf_ops.logreg_score(feats, weights, list(CLF_FEATURES)).select(
        F.round("score", 6).alias("score"), F.col("y")
    )
    b = F.least(
        F.floor(F.col("score") * CAL_BUCKETS).cast("int"),
        F.lit(CAL_BUCKETS - 1),
    )
    return (
        scored.groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("y").cast("bigint")).alias("n_pos"),
            F.sum(F.col("score").cast("decimal(18,6)")).alias("_ssum"),
        )
        .select(
            "bucket",
            "n",
            "n_pos",
            F.round(F.col("_ssum").cast("double") / F.col("n"), 6).alias(
                "mean_score"
            ),
            F.round(
                F.col("n_pos").cast("double") / F.col("n"), 6
            ).alias("pos_rate"),
        )
    )


def _calibration_oracle() -> str:
    parts = _train_ctes()
    p = _p_sql(f"w_{CLF_ITERS}")
    parts.append(
        f"scored AS (\n  SELECT round({p}, 6) AS score, y"
        f" FROM feats, w_{CLF_ITERS})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(least(floor(score * {CAL_BUCKETS}), {CAL_BUCKETS - 1}) AS INT)
         AS bucket,
       count(*) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       round(CAST(sum(CAST(score AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
         AS mean_score,
       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
FROM scored GROUP BY 1"""
    )


CURR_SEQ_LEN = 512


def q_curriculum_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered sequence packing: train the quality
    classifier, score every document, concatenate the corpus
    HIGHEST-SCORE-FIRST (easy/clean-first curriculum), and cut into
    fixed context windows — the train→score→schedule→pack composition a
    pretraining data pipeline actually ships. Pure composition of
    audited parts; `pack_sequences`' two-phase prefix sum runs over the
    score order via its ``order_expr`` hook."""
    from ..operators import packing as packing_ops

    feats, weights = _feats_trained(spark, sf_dir)
    scored = clf_ops.logreg_score(feats, weights, list(CLF_FEATURES)).select(
        "doc_id", F.round("score", 6).alias("score")
    )
    docs = load_table(spark, sf_dir, "documents").join(scored, "doc_id")
    return packing_ops.pack_sequences(
        docs,
        "doc_id",
        "text",
        CURR_SEQ_LEN,
        order_expr=-F.col("score"),
    )


def _curriculum_pack_oracle() -> str:
    parts = _train_ctes()
    p = _p_sql(f"w_{CLF_ITERS}")
    parts.append(
        f"scored AS (\n  SELECT doc_id, round({p}, 6) AS score"
        f" FROM feats, w_{CLF_ITERS})"
    )
    parts.append(
        f"""ordered AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len({_TOKS}) END AS BIGINT) AS n_tok,
         -score AS ord
  FROM documents JOIN scored USING (doc_id))"""
    )
    parts.append(
        """placed AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM ordered WHERE n_tok > 0)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT chunk_id, doc_id,
       CAST(GREATEST(chunk_id * {CURR_SEQ_LEN} - start, 0) AS BIGINT)
         AS tok_start,
       CAST(LEAST((chunk_id + 1) * {CURR_SEQ_LEN} - start, n_tok) AS BIGINT)
         AS tok_end
FROM placed,
     unnest(generate_series(CAST(start // {CURR_SEQ_LEN} AS BIGINT),
       CAST((start + n_tok - 1) // {CURR_SEQ_LEN} AS BIGINT)))
       AS t(chunk_id)"""
    )


REGISTRY = {
    "quality_classifier_weights": (q_quality_classifier_weights, _weights_oracle()),
    "quality_classifier_scores": (q_quality_classifier_scores, _scores_oracle()),
    "quality_classifier_eval": (q_quality_classifier_eval, _eval_oracle()),
    "quality_weighted_sample": (q_quality_weighted_sample, _weighted_sample_oracle()),
    "source_capped_docs": (q_source_capped_docs, _source_cap_oracle()),
    "classifier_cv_eval": (q_classifier_cv_eval, _cv_oracle()),
    "curriculum_pack": (q_curriculum_pack, _curriculum_pack_oracle()),
    "classifier_calibration": (q_classifier_calibration, _calibration_oracle()),
}
