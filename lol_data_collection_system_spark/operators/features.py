"""Feature pipeline (SURVEY.md §2 U2/U7, §3.3): wide one-hot flattening,
normalization from aggregated statistics, and Arrow-batched model scoring.

Reference: `proto_data_analysis.py:661-695` generates ~10⁵ closure lambdas
(one per mapside × champion × attribute × value mix) applied row-by-row to
build a 1-row pandas frame; normalization is (x−μ)/2σ per column
(`:50-74`); scoring is Keras `predict_proba` (`:826-831`).

Spark-first redesign:
- One-hot columns are generated as a SINGLE wide `select` of
  `when(col == value, 1).otherwise(0)` exprs — one projection node, fully
  codegen'd. (A `withColumn` loop would build 10⁵ plan nodes; the survey
  flags this as the Catalyst-width hazard — §4 item 3.)
- μ/σ come from ONE aggregate pass and are folded into the projection as
  literals (a driver-side collect of 2 rows, then broadcast by constant
  folding) — no second shuffle.
- The fixed-weight linear scorer is one integer SQL expression
  (deterministic, oracle-reproducible). The MLP scorer runs as a scalar
  `pandas_udf`: Arrow batches in, NumPy math, Arrow out — the 10-100×
  path over row-at-a-time Python.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def one_hot_exprs(
    col: str, values: Iterable[str], prefix: str | None = None
) -> list[Column]:
    """when(col==v,1).otherwise(0) per category value — append to ONE
    select; never loop withColumn."""
    p = prefix or col
    return [
        F.when(F.col(col) == v, F.lit(1)).otherwise(F.lit(0)).alias(f"{p}_{_slug(v)}")
        for v in values
    ]


def _slug(v: str) -> str:
    return str(v).lower().replace(" ", "_").replace("-", "_")


def feature_matrix(
    df: DataFrame,
    id_cols: list[str],
    categorical: dict[str, list[str]],
    numeric: list[str],
) -> DataFrame:
    """Wide feature frame: id cols + one-hot block + raw numerics, one
    projection. Column order is sorted within each block for a stable
    schema (reference sorts its rule keys, `proto_data_analysis.py:33`).
    """
    oh: list[Column] = []
    for col in sorted(categorical):
        oh.extend(one_hot_exprs(col, sorted(categorical[col])))
    return df.select(
        *[F.col(c) for c in id_cols],
        *oh,
        *[F.col(c) for c in sorted(numeric)],
    )


def normalize_columns(
    df: DataFrame, cols: list[str], round_to: int = 6
) -> DataFrame:
    """(x − μ) / 2σ per column — the reference's ±1 squeeze
    (`proto_data_analysis.py:50-74`). σ is the sample stddev; σ=0 (and the
    empty/1-row frame, where stddev is null) maps to 0.

    Fully lazy: the 1-row μ/σ aggregate is broadcast-crossJoined into the
    projection instead of collected — no job runs at plan-build time, and
    at scale the stats pass fuses into the same action as the projection
    (one aggregate + one map stage) rather than an eager extra job per
    construction.
    """
    stats = df.agg(
        *[F.avg(c).alias(f"__mu_{c}") for c in cols],
        *[F.stddev(c).alias(f"__sd_{c}") for c in cols],
    )
    exprs = []
    for c in df.columns:
        if c in cols:
            mu = F.coalesce(F.col(f"__mu_{c}"), F.lit(0.0))
            sd = F.coalesce(F.col(f"__sd_{c}"), F.lit(0.0))
            exprs.append(
                F.when(sd == F.lit(0.0), F.lit(0.0))
                .otherwise(F.round((F.col(c) - mu) / (F.lit(2.0) * sd), round_to))
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    return df.crossJoin(F.broadcast(stats)).select(*exprs)


def linear_score(weights: dict[str, int], bias: int = 0):
    """Integer-weight linear score over feature columns, as one bigint
    SQL expression: `bias + Σ weight·col`. Integer space keeps Spark and
    any SQL oracle bit-identical, and Catalyst sees the whole sum.
    """
    terms = [F.col(n).cast("bigint") * w for n, w in sorted(weights.items())]
    total = sum(terms, F.lit(bias).cast("bigint"))

    def apply(df: DataFrame, alias: str = "score") -> DataFrame:
        return df.withColumn(alias, total)

    return apply


def mlp_score_udf(
    w1: list[list[float]],
    b1: list[float],
    w2: list[float],
    b2: float,
):
    """Real batch model inference over Arrow: a numpy MLP (one tanh
    hidden layer, sigmoid output) whose weights ship inside the UDF
    closure — cloudpickled once per executor, applied per Arrow batch.
    This is the actual shape of the reference's model scoring
    (`proto_data_analysis.py:826-831` calls Keras `predict_proba` over a
    feature matrix; the sandbox has no TF, but the serving path —
    broadcast weights, vectorized batch math, no per-row Python — is
    exactly this).

    Determinism contract (so a SQL oracle can unroll the network):
    - accumulate each dot product LEFT-TO-RIGHT per term (`b + w1*x1 +
      w2*x2 + ...`), matching SQL's parse order, instead of `np.dot`
      (whose pairwise/SIMD summation order differs);
    - tanh is computed in its exp form `1 - 2/(exp(2z)+1)` because the
      oracle engine exposes exp but not tanh — the SAME expression runs
      on both sides (exp overflow at large z degrades to inf -> h = 1.0
      identically), with every exp rounded to 6 dp — the repo's
      standard cure for cross-engine 1-ulp libm differences;
    - 6-dp rounding is floor(|x|*1e6 + 0.5), i.e. half-AWAY-FROM-ZERO,
      matching SQL round(); `np.round` is half-to-even AND takes a
      different scaling path, measured to disagree with the engine on
      ordinary values (e.g. 0.1234565 → 0.123456 vs 0.123457);
    - ship dyadic-rational weights (0.25, -0.5, ...) so literals parse
      to identical doubles everywhere.
    """
    import numpy as np

    def _round6(a):
        # half-away-from-zero at 6 dp, the SQL round() rule (inf-safe:
        # floor(inf) == inf)
        return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5) / 1e6, a)

    @pandas_udf("double")
    def score(*cols: pd.Series) -> pd.Series:
        xs = [c.to_numpy(dtype="float64") for c in cols]
        z_out = np.full_like(xs[0], float(b2))
        with np.errstate(over="ignore"):
            for row, bj, wj in zip(w1, b1, w2):
                z = np.full_like(xs[0], float(bj))
                for wi, x in zip(row, xs):
                    z = z + float(wi) * x
                e = _round6(np.exp(2.0 * z))
                h = _round6(1.0 - 2.0 / (e + 1.0))
                z_out = z_out + float(wj) * h
            p = _round6(1.0 / (1.0 + _round6(np.exp(-z_out))))
        return pd.Series(p)

    def apply(df: DataFrame, feature_cols: list[str], alias: str = "mlp_score") -> DataFrame:
        if len(feature_cols) != len(w1[0]):
            raise ValueError(
                f"model expects {len(w1[0])} features, got {len(feature_cols)}"
            )
        return df.withColumn(alias, score(*[F.col(c) for c in feature_cols]))

    return apply


# ---------------------------------------------------------------------------
# Match flattening (U2): side × champion × attribute mixes
# (proto_data_analysis.py:566-598,661-695)
# ---------------------------------------------------------------------------
def match_mix_exprs(
    sides: list[str],
    champion_ids: list[int],
    attributes: dict[str, list[str]],
    side_col: str = "side",
    champ_col: str = "champion_id",
) -> list[Column]:
    """Dense path: one agg expr per (side, champion, attribute, value)
    mix — `max(when(...))` per match. Use for vocabularies Catalyst can
    hold in one projection (≤ a few thousand); beyond that use
    `match_feature_vectors`. Emitted in the reference's deterministic
    side→champion→attribute→value order (`:589-597`)."""
    exprs = []
    for side in sides:
        for champ in champion_ids:
            for attr_key, values in attributes.items():
                for v in values:
                    exprs.append(
                        F.max(
                            F.when(
                                (F.col(side_col) == side)
                                & (F.col(champ_col) == champ)
                                & (F.col("attr_key") == attr_key)
                                & (F.col("attr_value") == str(v)),
                                F.lit(1),
                            ).otherwise(F.lit(0))
                        ).alias(f"{side}_{champ}_has_{attr_key}_{v}")
                    )
    return exprs


def mix_vocabulary(
    spark,
    sides: list[str],
    champion_ids: list[int],
    attributes: dict[str, list[str]],
) -> DataFrame:
    """(side, champion_id, attr_key, attr_value, feature_idx) — the
    broadcastable feature index in the reference's generator order."""
    rows = []
    idx = 0
    for side in sides:
        for champ in champion_ids:
            for attr_key, values in attributes.items():
                for v in values:
                    rows.append((side, champ, attr_key, str(v), idx))
                    idx += 1
    return spark.createDataFrame(
        rows, ["side", "champion_id", "attr_key", "attr_value", "feature_idx"]
    )


def match_feature_vectors(
    attr_rows: DataFrame, vocab: DataFrame, n_features: int
) -> DataFrame:
    """Scale path for the ~10^5-mix space (§4 item 3): long-form
    participant attribute rows join a BROADCAST vocabulary to feature
    indices, one groupBy collects the sorted index set per match, and an
    Arrow pandas_udf packs a SparseVector — the plan never widens beyond
    a handful of columns regardless of vocabulary size.

    attr_rows: (match_id, side, champion_id, attr_key, attr_value).
    """
    from pyspark.ml.linalg import SparseVector, VectorUDT

    idx = attr_rows.join(
        F.broadcast(vocab), ["side", "champion_id", "attr_key", "attr_value"]
    ).select("match_id", "feature_idx")
    grouped = idx.groupBy("match_id").agg(
        F.array_sort(F.collect_set("feature_idx")).alias("indices")
    )

    # plain UDF: VectorUDT is a UDT (pandas_udf can't emit it); this runs
    # once per MATCH on the already-aggregated index set, so the per-row
    # Python cost is off the hot path — the heavy joins/agg stay JVM-side
    pack = F.udf(
        lambda ix: SparseVector(n_features, list(ix), [1.0] * len(ix)),
        VectorUDT(),
    )
    return grouped.select("match_id", pack("indices").alias("features"))
