"""Sketch-based aggregation — the heavy-hitter and point-frequency
summaries a 100 TB corpus profile runs where a full vocabulary shuffle
would move the world.

- `frequent_terms`: distributed Misra-Gries candidates, then an exact
  recount, so the output is exact.
- `cms_estimates`: a Count-Min sketch with its exact side, so the
  overestimate is visible per term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens


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
