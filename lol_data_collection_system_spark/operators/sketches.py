"""Sketch-based approximate aggregation — the cardinality/quantile ops a
100 TB corpus profile runs where exact answers would shuffle the world.

- `approx_distinct_tokens`: HyperLogLog++ (`approx_count_distinct`)
  vocabulary size per group. Exact distinct-token counting shuffles
  every (group, token) pair; the sketch keeps a fixed few-KB state per
  group and merges map-side — the only viable shape for vocabulary
  stats over a web-scale corpus.
- `length_quantiles`: `percentile_approx` (Greenwald-Khanna) document
  length distribution per group — same fixed-state, mergeable property.

Gating note: sketch outputs are algorithm-specific (Spark's HLL++ and
DuckDB's HLL give different estimates for the same input), so these ops
are gated by pytest ERROR-BOUND tests against their exact twins rather
than a cross-engine value-hash oracle — a hash match is impossible by
construction, and rows-only driver checks would be weaker than the
bound tests.

Each function exposes `exact=True` to compute the exact twin with the
same output schema: the tests' ground truth, and the honest fallback
when a caller needs exactness at small scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

#: approx_count_distinct rsd: 1.6% standard error (HLL++ p=14-ish state).
DEFAULT_RSD = 0.016


def approx_distinct_tokens(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    rsd: float = DEFAULT_RSD,
    exact: bool = False,
) -> DataFrame:
    """(group, n_docs, vocab_size): per-group document count and
    (approximate) distinct-token vocabulary size.

    Plan: explode tokens → ONE aggregation with a mergeable HLL state —
    partial sketches combine map-side, so the shuffle carries one sketch
    per (partition, group), never the token stream. The exact twin
    (`exact=True`) pays the full (group, token) distinct shuffle."""
    tok = docs.select(
        F.col(by), F.explode(tokens(F.col(text_col))).alias("tok")
    )
    vocab = (
        F.count_distinct("tok")
        if exact
        else F.approx_count_distinct("tok", rsd)
    )
    per_doc = docs.groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
    return per_doc.join(
        tok.groupBy(by).agg(vocab.alias("vocab_size")), by
    )


def length_quantiles(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    probs: Sequence[float] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 10_000,
    exact: bool = False,
) -> DataFrame:
    """Per-group document-length quantiles (token counts).

    `percentile_approx` keeps a bounded GK summary per group (mergeable,
    map-side combined); `exact=True` switches to `percentile`, which
    buffers every value — the small-data ground truth only."""
    n_tok = F.size(tokens(F.col(text_col))).cast("double")
    lengths = docs.select(F.col(by), n_tok.alias("n_tok"))
    parr = F.array(*[F.lit(p) for p in probs])
    q = (
        F.percentile("n_tok", parr)
        if exact
        else F.percentile_approx("n_tok", parr, F.lit(accuracy))
    )
    out = lengths.groupBy(by).agg(q.alias("_q"))
    cols = [F.col(by)] + [
        F.col("_q")[i].alias(f"p{int(p * 100)}") for i, p in enumerate(probs)
    ]
    return out.select(*cols)


def frequent_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 31,
) -> DataFrame:
    """All terms with frequency strictly greater than n_total/k, with
    exact counts — via the two-pass distributed heavy-hitters scheme
    (per-partition Misra-Gries summaries → candidate union → exact
    recount of candidates only).

    Unlike `text.vocab_top_terms` (one hash-aggregate over the FULL
    vocabulary), this never shuffles the vocabulary: pass 1 keeps a
    k-counter Misra-Gries summary per partition (MG guarantees any term
    with partition frequency > n_p/(k+1) survives; by pigeonhole a
    globally-(n/k)-frequent term is locally-(n_p/k)-frequent in at least
    one partition, so the candidate union is a guaranteed superset),
    pass 2 broadcast-joins the tiny candidate set back and recounts
    exactly. The summaries are partition-order-dependent but the FINAL
    output is exact and deterministic — candidates are only ever a
    superset, and the threshold filter uses true counts (integer
    cross-multiplication `tf * k > n`, no division).

    The Python summary pass is Arrow-batched `mapInPandas` over the
    exploded terms (a dict of ≤k counters per partition — the one
    genuinely sequential step; everything else is JVM-side).
    """
    from collections.abc import Iterator

    import pandas as pd

    terms = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )

    def mg_summary(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["term"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < k:
                    counters[t] = 1
                else:
                    for key in list(counters):
                        counters[key] -= 1
                        if counters[key] == 0:
                            del counters[key]
        yield pd.DataFrame({"term": list(counters)})

    candidates = terms.mapInPandas(
        mg_summary, schema="term string"
    ).distinct()
    total = terms.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        terms.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("tf") * k > F.col("n_total"))
        .select("term", "tf")
    )


def cms_estimates(
    terms: DataFrame,
    term_col: str = "term",
    width: int = 256,
    depth: int = 4,
    salt: str = "cms-v1",
) -> DataFrame:
    """(term, exact_freq, cms_est, overestimate) for every distinct
    term: the Count-Min guarantee made visible — est ≥ exact always
    (min over depth rows of non-negative collision sums), and
    E[overestimate] ≤ N/width per row. The exact side rides the same
    scan; in production you keep only the w·d-cell sketch and probe it
    (broadcast join), which is what the plan does here.
    """
    from .sampling import sample_bucket

    # ONE term-count shuffle and ONE md5 bucket pass feed BOTH the
    # sketch cells and the probe (r11): cells = per-bucket sums of the
    # colliding terms' frequencies (identical to counting occurrences),
    # probe = the same hashed frame joined back against the broadcast
    # cells. The checkpoint materializes the hashed frame once instead
    # of once per consumer.
    exact = terms.groupBy(F.col(term_col).alias("term")).agg(
        F.count(F.lit(1)).alias("exact_freq")
    )
    hashed = (
        exact.select(
            "term",
            "exact_freq",
            F.explode(
                F.array(*[F.lit(r) for r in range(depth)])
            ).alias("_r"),
        )
        .withColumn(
            "_b",
            sample_bucket(
                F.concat(
                    F.col("_r").cast("string"), F.lit(":"), F.col("term")
                ),
                salt,
            )
            % width,
        )
        .persist()
    )
    cells = hashed.groupBy("_r", "_b").agg(
        F.sum("exact_freq").alias("cnt")
    )
    return (
        hashed.join(F.broadcast(cells), ["_r", "_b"])
        .groupBy("term", "exact_freq")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "term",
            "exact_freq",
            "cms_est",
            (F.col("cms_est") - F.col("exact_freq")).alias("overestimate"),
        )
    )
