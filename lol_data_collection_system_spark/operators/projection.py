"""Johnson-Lindenstrauss random projection for embedding compression.

Rademacher (±1) random projection: ``proj[r] = Σ_d vec[d] · sign(d, r)``
with signs drawn from md5 — a data-independent, seed-reproducible matrix,
so the same seed yields the same projection in every engine and every
run. JL guarantees pairwise distances are preserved within (1±ε) for
``out_dim = O(ln n / ε²)`` — the standard trick to cut ANN scan cost
when the stored dimension is large (e.g. 4096-d → 64-d candidate
generation, exact re-rank on the survivors).

The sign matrix is tiny (in_dim × out_dim) and data-independent, so it
is materialized DRIVER-SIDE as plain literals and folded into the
projection expressions — the executors see constant arrays inside
whole-stage codegen; nothing is broadcast, sampled, or shuffled. The
DuckDB oracle embeds the same literals (generated from the same seed by
the same function), keeping the two engines bit-identical: each
projected coordinate is an ordered fold of ``float·(±1.0)`` products in
doubles, exactly `list_dot_product` over the same literal list.

Scale posture: projection is a map-only projection (0 exchanges); the
downstream top-k keeps the `orderBy().limit(k)` TakeOrderedAndProject
shape of `operators/similarity.py`.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import cosine_sql

#: Default geometry: 64-d stored embeddings → 16-d sketch.
RP_IN_DIM = 64
RP_OUT_DIM = 16
RP_SEED = "jl-v1"


def rp_signs(
    in_dim: int = RP_IN_DIM,
    out_dim: int = RP_OUT_DIM,
    seed: str = RP_SEED,
) -> list[list[float]]:
    """The ±1.0 Rademacher matrix as out_dim rows of in_dim signs —
    sign(d, r) = +1 iff the first md5 nibble of ``seed:r:d`` is even.
    Pure Python so the Spark plan and the SQL oracle share one source."""
    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{r}:{d}".encode()).hexdigest()[0], 16)
            % 2
            == 0
            else -1.0
            for d in range(in_dim)
        ]
        for r in range(out_dim)
    ]


def _dot_signs_sql(vec_sql: str, signs: list[float]) -> str:
    """Ordered-fold dot of a vector column against a literal sign row —
    same summation order as `similarity.dot_sql`, so DuckDB's
    `list_dot_product` over the same literals reproduces it exactly.
    One parsed SQL string: the Column-API build of 16 zip_with/aggregate
    lambdas over 64 literals each cost ~1.1 s of py4j round-trips per
    construction (measured; the parsed expression is identical — signs
    are exactly ±1.0, which `1.0D` renders bit-exactly)."""
    arr = ",".join("1.0D" if s > 0 else "-1.0D" for s in signs)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (a, v) -> a + v)"
    )


def project(
    vec_sql: str,
    in_dim: int = RP_IN_DIM,
    out_dim: int = RP_OUT_DIM,
    seed: str = RP_SEED,
) -> Column:
    """The column named by the SQL fragment `vec_sql`, projected to
    `out_dim` doubles (unscaled — cosine is scale-invariant, so the
    1/√out_dim JL factor is dropped), built as one parsed SQL string."""
    signs = rp_signs(in_dim, out_dim, seed)
    return F.expr(
        "array(" + ",".join(_dot_signs_sql(vec_sql, row) for row in signs) + ")"
    )


def rp_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    in_dim: int = RP_IN_DIM,
    out_dim: int = RP_OUT_DIM,
    seed: str = RP_SEED,
) -> DataFrame:
    """Top-k by cosine in the PROJECTED space — the candidate-generation
    half of a project-then-rerank ANN. Same plan as `brute_force_topk`
    (broadcast 1-row query, map-side scoring, TakeOrderedAndProject),
    with the scan reading `out_dim`-wide sketches instead of full
    vectors."""
    from .similarity import _rank_topk, quote_ident

    proj = emb.select(
        F.col(id_col),
        project(quote_ident(vec_col), in_dim, out_dim, seed).alias("p"),
    )
    q = proj.filter(F.col(id_col) == query_id).select(
        F.col("p").alias("query_p")
    )
    scored = (
        proj.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.expr(
                f"round({cosine_sql('p', 'query_p')}, 4)"
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k, id_col)


def rp_recall_at_k(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """One row: |exact ∩ approx| / k — the recall a projected candidate
    set achieves against the exact ranking (the go/no-go metric when
    tuning out_dim). A k-row join of two k-row frames — negligible."""
    hits = exact_topk.select(id_col).join(
        approx_topk.select(id_col), id_col
    )
    return hits.agg(
        (F.count(F.lit(1)).cast("double") / k).alias("recall_at_k")
    )
