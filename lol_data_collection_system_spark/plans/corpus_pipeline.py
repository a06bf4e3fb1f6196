"""End-to-end training-corpus preparation: the composition of the
pipeline primitives into the job a user actually runs —

    scrub encoding damage → redact PII → quality filter → exact dedup →
    near-dup clustering → deterministic split

Each stage is one of the oracle-gated operators; this module wires them
in the canonical order (cheap row-local filters first so the expensive
shingle join sees only surviving docs) and exposes the per-stage funnel
counts as a driver-gated query (`corpus_funnel`) so the whole
composition — not just each part — is value-checked against DuckDB.

Scale notes: stages 1-2 are codegen projections (no shuffle); stage 3 is
one hash-agg on the 16-byte fingerprint; stage 4's shingle join runs on
the quality-surviving, exact-deduped canonical docs only (the funnel
ordering is the cost lever — near-dup work drops with every upstream
rejection); stage 5 is again shuffle-free."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import graph as graph_ops
from ..operators import sampling as sampling_ops
from ..operators import text as text_ops
from ..sources import load_table
from .corpus_queries import (
    JACCARD_THRESHOLD,
    LINE_MIN_CHARS,
    QF_MAX_TOKENS,
    QF_MIN_DISTINCT,
    QF_MIN_STOPWORD,
    QF_MIN_TOKENS,
    QF_WORD_LEN,
    SHINGLE_K,
    SHINGLE_MAX_DF,
    SPLIT_FRACTIONS,
    SPLIT_SALT,
    _bucket_of,
    _CAPPED_SH_SQL,
    _EN_STOPS,
    _NORM,
    _NTOKS,
    _reflow_sql,
    _shingle_list_sql,
    _TOKS,
)


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize_unicode: bool = False,
    scrub_repeated_lines: bool = False,
    line_max_docs: int = 1,
) -> DataFrame:
    """The full prep: returns the surviving documents with
    `text_scrubbed`, `component_id` (near-dup cluster) and `split`
    columns. Survivors = quality-passing docs that are BOTH the
    canonical member of their exact-dup group AND of their near-dup
    cluster.

    Opt-in pre-stages (defaults off so the oracle-gated funnel stays
    byte-stable): `normalize_unicode` runs the NFC pass first so every
    downstream hash sees canonical bytes; `scrub_repeated_lines` then
    removes lines occurring in more than `line_max_docs` documents
    (boilerplate/banner removal) before any quality or dedup decision.
    """
    return _stages(
        docs,
        id_col,
        text_col,
        normalize_unicode=normalize_unicode,
        scrub_repeated_lines=scrub_repeated_lines,
        line_max_docs=line_max_docs,
    )["prepared"]


def _stages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize_unicode: bool = False,
    scrub_repeated_lines: bool = False,
    line_max_docs: int = 1,
) -> dict[str, DataFrame]:
    """All intermediate frames of the prep, with the multiply-consumed
    ones persisted: `quality` feeds the exact-dup aggregate, the
    canonical join, and the funnel count; `canonical` feeds the shingle
    join, the cluster map, the survivors join, and its own count. Spark
    computes each logical subtree independently per consumer — without
    the persist the scrub+quality projection runs ~5× (measured 2.99 s
    → 2.64 s warm at sf0.1; at corpus scale the recompute is ~5 extra
    full-table scans). Eviction is left to Spark's LRU (StorageLevel
    default); a 100 TB run would swap the persist for a
    `materialize_summary` parquet checkpoint between stages."""
    if normalize_unicode or scrub_repeated_lines:
        # The opt-in pre-stages do heavy per-row work (Arrow NFC pass,
        # line explode+rejoin) that otherwise runs inside the scan
        # stage — single-task on a narrow input. Widening first spreads
        # that chain across the cluster; probe-based, so at production
        # scale (scans already wide) it is a no-op. Measured at sf0.1:
        # corpus_funnel_scrubbed −0.6 s; the plain funnel's pre-persist
        # chain is cheap codegen regex, where the extra exchange did
        # not pay (+0.2 s), hence the conditional (r11 optimization).
        from ..operators.similarity import widen_partitions

        docs = widen_partitions(docs, id_col)
    if normalize_unicode:
        # NFC first: canonical bytes for every downstream hash
        # (fingerprints, shingles, line fps); changed_col=None — the
        # pipeline doesn't consume the flag, and a user column named
        # `changed` must survive the pass
        docs = text_ops.unicode_normalize(
            docs, text_col=text_col, changed_col=None
        )
    if scrub_repeated_lines:
        # boilerplate-line removal before quality/dedup decisions; other
        # columns rejoin around the (id, text)-shaped scrub
        scrubbed_lines = dedup_ops.remove_dup_lines(
            docs, id_col, text_col, max_docs=line_max_docs
        )
        docs = docs.drop(text_col).join(scrubbed_lines, id_col)
    scrubbed = text_ops.scrub_patterns(docs, text_col)
    # PII redaction rides the same codegen projection (typed placeholder
    # tokens, operators/pii.py). Identity on the synthetic corpus (its
    # text has no digits or '@', so no rule can match) — the funnel
    # oracle is therefore unchanged; the stage itself is pinned by a
    # PII-bearing fixture in tests/test_text.py.
    from ..operators import pii as pii_ops

    scrubbed = scrubbed.withColumn(text_col, pii_ops.redact(F.col(text_col)))
    quality = (
        text_ops.quality_filter_flags(
            scrubbed,
            text_col,
            min_tokens=QF_MIN_TOKENS,
            max_tokens=QF_MAX_TOKENS,
            word_len_lo=QF_WORD_LEN[0],
            word_len_hi=QF_WORD_LEN[1],
            min_distinct_ratio=QF_MIN_DISTINCT,
            min_stopword_ratio=QF_MIN_STOPWORD,
        )
        .filter(F.col("keep"))
        .persist()
    )

    exact = dedup_ops.exact_dup_groups(quality, id_col, text_col)
    canonical = quality.join(
        exact.select(F.col("canonical_id").alias(id_col)), id_col
    ).persist()

    pairs = dedup_ops.ngram_jaccard_pairs(
        dedup_ops.shingles(canonical, id_col, text_col, SHINGLE_K),
        id_col, JACCARD_THRESHOLD, max_doc_freq=SHINGLE_MAX_DF,
    )
    clusters = graph_ops.dedup_clusters(canonical, pairs, id_col)
    survivors = canonical.join(
        clusters.filter(F.col("component_id") == F.col("doc_id")).select(
            "doc_id", "component_id"
        ),
        id_col,
    )
    prepared = sampling_ops.deterministic_split(
        survivors, id_col, SPLIT_FRACTIONS, SPLIT_SALT
    )
    return {"quality": quality, "canonical": canonical, "prepared": prepared}


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage funnel of the full prep on the documents table:
    (stage, n_docs) for input → quality → exact-canonical → near-dup
    canonical → each split. One row per stage, value-checked end-to-end."""
    return _funnel(spark, sf_dir)


def q_corpus_funnel_scrubbed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same end-to-end funnel with BOTH opt-in pre-stages ON —
    NFC normalization and repeated-line scrubbing (docs are re-wrapped
    to fixed-width lines first, same as `line_dup_stats`, so the
    single-line synthetic corpus exercises real line structure). This is
    the composition the README advertises for production prep; the
    funnel value-checks it end-to-end rather than per-stage."""
    return _funnel(
        spark, sf_dir, normalize_unicode=True, scrub_repeated_lines=True
    )


def _funnel(
    spark: SparkSession,
    sf_dir: str,
    normalize_unicode: bool = False,
    scrub_repeated_lines: bool = False,
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if scrub_repeated_lines:
        # pure projection — replaces the text column in place, no join
        from .corpus_queries import _reflow_expr

        docs = docs.withColumn("text", _reflow_expr("text"))
    stages = _stages(
        docs,
        normalize_unicode=normalize_unicode,
        scrub_repeated_lines=scrub_repeated_lines,
    )
    quality, canonical, prepared = (
        stages["quality"],
        stages["canonical"],
        stages["prepared"],
    )

    def count_row(stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"), F.count(F.lit(1)).alias("n_docs")
        )

    rows = [
        count_row("0_input", docs),
        count_row("1_quality", quality),
        count_row("2_exact_canonical", canonical),
        count_row("3_neardup_canonical", prepared),
    ]
    splits = prepared.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))
    split_rows = splits.select(
        F.concat(F.lit("4_split_"), F.coalesce("split", F.lit("none"))).alias(
            "stage"
        ),
        "n_docs",
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.unionByName(split_rows)


def _funnel_oracle(scrubbed: bool = False) -> str:
    scale = 1_000_000
    wl_lo = int(round(QF_WORD_LEN[0] * scale))
    wl_hi = int(round(QF_WORD_LEN[1] * scale))
    dr = int(round(QF_MIN_DISTINCT * scale))
    sr = int(round(QF_MIN_STOPWORD * scale))
    cases, hi = [], 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi += int(round(frac * scale))
        cases.append(f"WHEN b < {hi} THEN '{name}'")
    # Pre-stages of the scrubbed variant (mirrors q_corpus_funnel_scrubbed):
    # fixed-width line re-wrap -> NFC (identity on this ASCII corpus in
    # both engines; the real behavior is pinned by a non-ASCII fixture in
    # tests/test_text.py) -> repeated-line scrub (same SQL as
    # ORACLE_REMOVE_DUP_LINES, p-prefixed to avoid CTE name clashes).
    pre = ""
    src = "documents"
    if scrubbed:
        pre = f"""reflow AS ({_reflow_sql()}),
pnfc AS (SELECT doc_id, nfc_normalize(text) AS text FROM reflow),
plines AS (
  SELECT doc_id, t.i AS pos, parts[t.i] AS line,
         regexp_replace(parts[t.i], '^\\s+|\\s+$', '', 'g') AS stripped
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM pnfc),
       unnest(generate_series(1, len(parts))) AS t(i)),
pover AS (
  SELECT stripped FROM plines WHERE length(stripped) >= {LINE_MIN_CHARS}
  GROUP BY stripped HAVING COUNT(DISTINCT doc_id) > 1),
pkept AS (
  SELECT l.doc_id, l.pos, l.line FROM plines l
  LEFT JOIN pover o
    ON o.stripped = l.stripped AND length(l.stripped) >= {LINE_MIN_CHARS}
  WHERE o.stripped IS NULL),
pre AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM pkept GROUP BY doc_id),
docs_s AS (
  SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL
                        ELSE COALESCE(p.text, '') END AS text
  FROM pnfc d LEFT JOIN pre p USING (doc_id)),
"""
        src = "docs_s"
    return f"""
WITH RECURSIVE {pre}feats AS (
  SELECT doc_id, text,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_EN_STOPS}))) AS BIGINT)
           AS stop_hits,
         CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT)
           AS tok_chars
  FROM {src}),
quality AS (
  SELECT doc_id, text FROM feats
  WHERE n_tok >= {QF_MIN_TOKENS} AND n_tok <= {QF_MAX_TOKENS}
    AND tok_chars * {scale} >= {wl_lo} * n_tok
    AND tok_chars * {scale} <= {wl_hi} * n_tok
    AND n_distinct * {scale} >= {dr} * n_tok
    AND stop_hits * {scale} >= {sr} * n_tok),
canonical AS (
  SELECT q.doc_id, q.text FROM quality q
  JOIN (SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id, md5({_NORM}) AS fp FROM quality)
        GROUP BY fp) k USING (doc_id)),
sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM canonical)),
capped AS ({_CAPPED_SH_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
edges AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
        >= {JACCARD_THRESHOLD}),
sym AS (SELECT id_a AS u, id_b AS v FROM edges
        UNION SELECT id_b, id_a FROM edges),
reach(node, reached) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.node, s.v FROM reach r JOIN sym s ON s.u = r.reached),
comp AS (SELECT node, MIN(reached) AS m FROM reach GROUP BY node),
survivors AS (
  SELECT c.doc_id FROM canonical c LEFT JOIN comp ON comp.node = c.doc_id
  WHERE COALESCE(comp.m, c.doc_id) = c.doc_id),
assigned AS (
  SELECT doc_id, CASE {' '.join(cases)} END AS split
  FROM (SELECT doc_id, {_bucket_of('doc_id', SPLIT_SALT)} AS b FROM survivors))
SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
UNION ALL
SELECT '1_quality', CAST(COUNT(*) AS BIGINT) FROM quality
UNION ALL
SELECT '2_exact_canonical', CAST(COUNT(*) AS BIGINT) FROM canonical
UNION ALL
SELECT '3_neardup_canonical', CAST(COUNT(*) AS BIGINT) FROM survivors
UNION ALL
SELECT '4_split_' || COALESCE(split, 'none'), CAST(COUNT(*) AS BIGINT)
FROM assigned GROUP BY split
"""


REGISTRY = {
    "corpus_funnel": (q_corpus_funnel, _funnel_oracle()),
    "corpus_funnel_scrubbed": (q_corpus_funnel_scrubbed, _funnel_oracle(scrubbed=True)),
}
