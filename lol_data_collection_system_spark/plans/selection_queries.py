"""Data-selection queries: DSIR importance resampling, Bloom-filter
blocklist membership, and JL random-projection ANN — declared as
(spark_fn, oracle_sql) pairs for the correctness gate, same contract as
`plans/corpus_queries.py`.

Every oracle is generated from the SAME constants (bucket counts, seeds,
filter geometry, sign matrices) as the Spark implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import bloom as bloom_ops
from ..operators import importance as imp_ops
from ..operators import projection as proj_ops
from ..operators import similarity as sim_ops
from ..operators.text import fingerprint
from ..sources import load_table
from .corpus_queries import _NORM, _NTOKS, QUERY_VEC_ID, TOPK

#: DSIR target domain: English documents (the corpus majority class).
DSIR_TARGET_LANG = "en"
DSIR_SAMPLE_K = 64
#: Bloom geometry for the blocklist query — deliberately small (4096
#: bits) so the false-positive path is exercised at test scale, not just
#: in theory.
BLOOM_Q_BITS = 4096
BLOOM_Q_HASHES = 4
#: Blocklist domain: every document from one source.
BLOOM_SOURCE = "src1"


# ---------------------------------------------------------------------------
# DSIR importance resampling
# ---------------------------------------------------------------------------
def q_dsir_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return imp_ops.dsir_log_weights(
        docs, F.col("lang") == DSIR_TARGET_LANG
    )


def _dsir_weights_cte() -> str:
    b = imp_ops.DSIR_BUCKETS
    salt = imp_ops.DSIR_SALT
    return f"""
toks AS (SELECT doc_id, lang, {_NTOKS} AS t FROM documents),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           list_transform(generate_series(1, greatest(len(t) - 1, 0)),
                          i -> t[i] || ' ' || t[i + 1]))) AS gram
  FROM toks),
gc AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('{salt}' || gram), 1, 15)) AS BIGINT)
           % {b} AS bucket,
         count(*) AS cnt
  FROM grams GROUP BY 1, 2, 3),
raw_b AS (SELECT bucket, sum(cnt) AS raw_cnt FROM gc GROUP BY 1),
tgt_b AS (SELECT bucket, sum(cnt) AS tgt_cnt FROM gc
          WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
ratios AS (
  SELECT r.bucket,
         round(ln(CAST(coalesce(t.tgt_cnt, 0) + 1 AS DOUBLE)
                  / CAST((SELECT sum(tgt_cnt) FROM tgt_b) + {b} AS DOUBLE)), 6)
       - round(ln(CAST(r.raw_cnt + 1 AS DOUBLE)
                  / CAST((SELECT sum(raw_cnt) FROM raw_b) + {b} AS DOUBLE)), 6)
           AS log_ratio
  FROM raw_b r LEFT JOIN tgt_b t USING (bucket)),
weights AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
         CAST(sum(CAST(round(cnt * log_ratio, 6) AS DECIMAL(28,6)))
              AS DOUBLE) AS log_weight
  FROM gc JOIN ratios USING (bucket) GROUP BY 1)
"""


def _dsir_weights_oracle() -> str:
    return (
        "WITH "
        + _dsir_weights_cte()
        + "SELECT doc_id, n_grams, log_weight FROM weights"
    )


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = imp_ops.dsir_log_weights(docs, F.col("lang") == DSIR_TARGET_LANG)
    return imp_ops.gumbel_topk_sample(w, DSIR_SAMPLE_K).select(
        "doc_id", "log_weight", "draw_key"
    )


def _dsir_sample_oracle() -> str:
    u_space = imp_ops._U_SPACE
    salt = imp_ops.DSIR_DRAW_SALT
    u = (
        f"(CAST(('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), "
        f"1, 15)) AS BIGINT) % {u_space} + 0.5) / {float(u_space)}"
    )
    return (
        "WITH "
        + _dsir_weights_cte()
        + f""",
draws AS (
  SELECT doc_id, log_weight,
         round(log_weight + (- round(ln(- round(ln({u}), 6)), 6)), 6)
           AS draw_key
  FROM weights)
SELECT doc_id, log_weight, draw_key FROM draws
ORDER BY draw_key DESC, doc_id LIMIT {DSIR_SAMPLE_K}
"""
    )


# ---------------------------------------------------------------------------
# Bloom-filter blocklist membership
# ---------------------------------------------------------------------------
def q_bloom_blocklist_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the Bloom probe vs exact membership: every
    `might_match ∧ ¬exact_match` row is a REPRODUCIBLE false positive of
    the deterministic filter — the oracle checks the FP count exactly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    blocklist = docs.filter(F.col("source") == BLOOM_SOURCE).select("fp")
    filt = bloom_ops.build_bloom(blocklist, "fp", BLOOM_Q_BITS, BLOOM_Q_HASHES)
    probed = bloom_ops.might_contain(
        docs, filt, "fp", BLOOM_Q_BITS, BLOOM_Q_HASHES
    )
    exact = blocklist.distinct().withColumn("exact_match", F.lit(True))
    return (
        probed.join(exact, "fp", "left")
        .select(
            "doc_id",
            "might_match",
            F.coalesce(F.col("exact_match"), F.lit(False)).alias(
                "exact_match"
            ),
        )
        .groupBy("might_match", "exact_match")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _bloom_pos_sql(j: int, key_sql: str, m_bits: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('bloom{j}:' || {key_sql}), 1, 15)) "
        f"AS BIGINT) % {m_bits}"
    )


def _bloom_oracle() -> str:
    m, k = BLOOM_Q_BITS, BLOOM_Q_HASHES
    pos_list = ", ".join(_bloom_pos_sql(j, "fp", m) for j in range(k))
    return f"""
WITH docs AS (
  SELECT doc_id, source, md5({_NORM}) AS fp FROM documents),
block AS (SELECT fp FROM docs WHERE source = '{BLOOM_SOURCE}'),
words AS (
  SELECT CAST(pos // 32 AS INT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM (SELECT unnest([{pos_list}]) AS pos FROM block)
  GROUP BY 1),
probes AS (
  SELECT doc_id,
         CAST(pos // 32 AS INT) AS word_idx,
         CAST(pos % 32 AS INT) AS bit
  FROM (SELECT doc_id, unnest([{pos_list}]) AS pos FROM docs)),
hits AS (
  SELECT p.doc_id,
         min(CASE WHEN (coalesce(w.bits, 0) >> p.bit) & 1 = 1
                  THEN 1 ELSE 0 END) AS all_hit
  FROM probes p LEFT JOIN words w USING (word_idx)
  GROUP BY 1),
flagged AS (
  SELECT d.doc_id,
         h.all_hit = 1 AS might_match,
         d.fp IN (SELECT fp FROM block) AS exact_match
  FROM docs d JOIN hits h USING (doc_id))
SELECT might_match, exact_match, CAST(count(*) AS BIGINT) AS n_docs
FROM flagged GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------
def q_embedding_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return proj_ops.rp_topk(emb, QUERY_VEC_ID, TOPK)


def _sign_list_sql(row: list[float]) -> str:
    return "[" + ", ".join(f"{s:.1f}" for s in row) + "]"


def _rp_proj_sql(vec_sql: str) -> str:
    signs = proj_ops.rp_signs()
    dots = ", ".join(
        f"list_dot_product({vec_sql}, {_sign_list_sql(row)})" for row in signs
    )
    return f"[{dots}]"


def _rp_topk_oracle() -> str:
    cos = (
        "list_dot_product(p, q)"
        " / (sqrt(list_dot_product(p, p)) * sqrt(list_dot_product(q, q)))"
    )
    return f"""
WITH proj AS (
  SELECT vec_id,
         {_rp_proj_sql("CAST(embedding AS DOUBLE[])")} AS p
  FROM embeddings),
qv AS (SELECT p AS q FROM proj WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({cos}, 4) DESC, e.vec_id) AS rank,
         ROUND({cos}, 4) AS cos_sim
  FROM (SELECT vec_id, p FROM proj WHERE vec_id != {QUERY_VEC_ID}) e, qv)
WHERE rank <= {TOPK}
"""


def q_embedding_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim_ops.brute_force_topk(emb, QUERY_VEC_ID, TOPK)
    approx = proj_ops.rp_topk(emb, QUERY_VEC_ID, TOPK)
    return proj_ops.rp_recall_at_k(exact, approx, TOPK)


def _rp_recall_oracle() -> str:
    cos_full = (
        "list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        " CAST(q.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        " CAST(e.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),"
        " CAST(q.embedding AS DOUBLE[]))))"
    )
    cos_p = (
        "list_dot_product(p, q)"
        " / (sqrt(list_dot_product(p, p)) * sqrt(list_dot_product(q, q)))"
    )
    return f"""
WITH exact AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           ROW_NUMBER() OVER (ORDER BY ROUND({cos_full}, 4) DESC, e.vec_id)
             AS rank
    FROM embeddings e,
         (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id != {QUERY_VEC_ID})
  WHERE rank <= {TOPK}),
proj AS (
  SELECT vec_id, {_rp_proj_sql("CAST(embedding AS DOUBLE[])")} AS p
  FROM embeddings),
qv AS (SELECT p AS q FROM proj WHERE vec_id = {QUERY_VEC_ID}),
approx AS (
  SELECT vec_id FROM (
    SELECT e.vec_id,
           ROW_NUMBER() OVER (ORDER BY ROUND({cos_p}, 4) DESC, e.vec_id)
             AS rank
    FROM (SELECT vec_id, p FROM proj WHERE vec_id != {QUERY_VEC_ID}) e, qv)
  WHERE rank <= {TOPK})
SELECT CAST(count(*) AS DOUBLE) / {TOPK} AS recall_at_k
FROM exact JOIN approx USING (vec_id)
"""




# ---------------------------------------------------------------------------
# Bloom decontamination screen
# ---------------------------------------------------------------------------
#: Screen geometry: sized for the benchmark shingle count at test SFs;
#: at corpus scale m grows with the benchmark set (still broadcastable:
#: 10^9 bits = 31 M words).
DECON_BITS = 1 << 15
DECON_HASHES = 3


def q_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic pre-screen of train/test contamination: build a
    Bloom filter over the TEST split's shingles, probe every TRAIN
    document's shingles against it, and report per train doc how many of
    its shingles might be benchmark shingles (`might_hits`) next to the
    exact count — the cheap first pass a 100 TB pipeline runs before
    the exact shingle join of `train_test_contamination` (no false
    negatives: exact_hits ≤ might_hits always; the gap is the
    reproducible FP cost of the filter geometry).

    Only train docs with might_hits > 0 appear (the screen's point is
    that clean docs never reach the exact check).
    """
    from ..operators.dedup import shingles
    from ..operators.sampling import deterministic_split
    from .corpus_queries import SHINGLE_K, SPLIT_FRACTIONS, SPLIT_SALT

    docs = load_table(spark, sf_dir, "documents")
    assigned = deterministic_split(docs, "doc_id", SPLIT_FRACTIONS, SPLIT_SALT)
    # wide=False: downstream is the bloom bit aggregate + a shingle-keyed
    # probe join — nothing keys on id, so the shingle builder's
    # id-repartition only adds pinned-width dispatch (bench: +0.52 s wide)
    train_sh = shingles(
        assigned.filter(F.col("split") == "train"), "doc_id", "text",
        SHINGLE_K, wide=False,
    )
    test_sh = shingles(
        assigned.filter(F.col("split") == "test"), "doc_id", "text",
        SHINGLE_K, wide=False,
    ).select("shingle")
    filt = bloom_ops.build_bloom(
        test_sh, "shingle", DECON_BITS, DECON_HASHES
    )
    probed = bloom_ops.might_contain(
        train_sh, filt, "shingle", DECON_BITS, DECON_HASHES
    )
    exact = test_sh.distinct().withColumn("in_test", F.lit(True))
    return (
        probed.join(exact, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("might_match").cast("bigint")).alias("might_hits"),
            F.sum(
                F.coalesce(F.col("in_test"), F.lit(False)).cast("bigint")
            ).alias("exact_hits"),
        )
        .filter(F.col("might_hits") > 0)
    )


def _decon_oracle() -> str:
    from .corpus_queries import (
        SPLIT_FRACTIONS,
        SPLIT_SALT,
        _bucket_of,
        _shingle_list_sql,
    )
    from .corpus_queries import _NTOKS as NTOKS

    m, k = DECON_BITS, DECON_HASHES
    cases, hi = [], 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi += int(round(frac * 1_000_000))
        cases.append(f"WHEN b < {hi} THEN '{name}'")
    pos_list = ", ".join(
        _bloom_pos_sql(j, "shingle", m) for j in range(k)
    )
    return f"""
WITH assign AS (
  SELECT doc_id, CASE {' '.join(cases)} END AS split
  FROM (SELECT doc_id, {_bucket_of('doc_id', SPLIT_SALT)} AS b
        FROM documents)),
sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {NTOKS} AS t FROM documents)),
train_sh AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN assign a USING (doc_id)
  WHERE a.split = 'train'),
test_sh AS (
  SELECT DISTINCT s.shingle FROM sh s JOIN assign a USING (doc_id)
  WHERE a.split = 'test'),
words AS (
  SELECT CAST(pos // 32 AS INT) AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM (SELECT unnest([{pos_list}]) AS pos FROM test_sh)
  GROUP BY 1),
probes AS (
  SELECT doc_id, shingle,
         CAST(pos // 32 AS INT) AS word_idx, CAST(pos % 32 AS INT) AS bit
  FROM (SELECT doc_id, shingle, unnest([{pos_list}]) AS pos
        FROM train_sh)),
hits AS (
  SELECT doc_id, shingle,
         min(CASE WHEN (coalesce(w.bits, 0) >> p.bit) & 1 = 1
                  THEN 1 ELSE 0 END) AS all_hit
  FROM probes p LEFT JOIN words w USING (word_idx)
  GROUP BY 1, 2)
SELECT h.doc_id,
       CAST(sum(h.all_hit) AS BIGINT) AS might_hits,
       CAST(sum(CASE WHEN h.shingle IN (SELECT shingle FROM test_sh)
                     THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits
FROM hits h
GROUP BY 1
HAVING sum(h.all_hit) > 0
"""


# ---------------------------------------------------------------------------
# k-center coreset selection (farthest-first exemplars)
# ---------------------------------------------------------------------------
KCENTER_K = 8


def q_embedding_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center exemplar selection over the embedding corpus —
    diversity-maximizing coreset picking (the dual of SemDeDup: instead
    of dropping near-duplicates, keep the k points that best SPREAD over
    the space). ``gap_sim`` is the coverage curve: the similarity of each
    pick to the already-selected set at selection time.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.kcenter_select(emb, k=KCENTER_K)


def _kcenter_oracle() -> str:
    """Unrolled farthest-first rounds (same trick as the kmeans oracle):
    per round, fold the last pick into the running best-similarity state
    and take the (best_sim, id)-min row. Cosine = ordered list_dot_product
    rounded to 6 dp — the family's cross-engine contract."""

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
        )

    parts = [
        "WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v"
        " FROM embeddings)",
        "p0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1)",
        "b1 AS (SELECT e.id, e.v, CASE WHEN e.id = p.id THEN 2.0 ELSE "
        + cos("e.v", "p.v")
        + " END AS bs FROM e CROSS JOIN p0 p)",
    ]
    for r in range(1, KCENTER_K):
        parts.append(
            f"p{r} AS (SELECT id, v, bs FROM b{r} ORDER BY bs, id LIMIT 1)"
        )
        if r < KCENTER_K - 1:
            parts.append(
                f"b{r + 1} AS (SELECT b.id, b.v, "
                "CASE WHEN b.id = p.id THEN 2.0 ELSE greatest(b.bs, "
                + cos("b.v", "p.v")
                + f") END AS bs FROM b{r} b CROSS JOIN p{r} p)"
            )
    selects = [
        "SELECT CAST(0 AS INT) AS sel_round, id AS vec_id,"
        " CAST(NULL AS DOUBLE) AS gap_sim FROM p0"
    ]
    for r in range(1, KCENTER_K):
        selects.append(
            f"SELECT CAST({r} AS INT), id, bs FROM p{r}"
        )
    return (
        ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)
    )


INTERLEAVE_SALT = "mix"
INTERLEAVE_HEAD = 100


def q_interleaved_mix_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 100 positions of the deterministic round-robin source
    interleave (`sampling.interleave_sources`) — the balanced multi-
    source schedule a training data-loader streams; the head is what a
    resume-from-position check inspects."""
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    out = sampling_ops.interleave_sources(
        docs, "source", "doc_id", salt=INTERLEAVE_SALT
    )
    return (
        out.select("position", "doc_id", "source")
        .orderBy("position")
        .limit(INTERLEAVE_HEAD)
    )


def _interleave_oracle() -> str:
    return f"""
WITH srcs AS (
  SELECT s, ROW_NUMBER() OVER (ORDER BY s) - 1 AS sidx,
         COUNT(*) OVER () AS nsrc
  FROM (SELECT DISTINCT source AS s FROM documents)),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(('0x' || substr(md5('{INTERLEAVE_SALT}'
                     || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
                    doc_id) - 1 AS rk
  FROM documents)
SELECT rk * nsrc + sidx AS position, doc_id, source
FROM ranked JOIN srcs ON source = s
ORDER BY position LIMIT {INTERLEAVE_HEAD}
"""


REGISTRY = {
    "dsir_doc_weights": (q_dsir_doc_weights, _dsir_weights_oracle()),
    "dsir_sample": (q_dsir_sample, _dsir_sample_oracle()),
    "bloom_blocklist_confusion": (q_bloom_blocklist_confusion, _bloom_oracle()),
    "embedding_rp_topk": (q_embedding_rp_topk, _rp_topk_oracle()),
    "embedding_rp_recall": (q_embedding_rp_recall, _rp_recall_oracle()),
    "bloom_decontamination": (q_bloom_decontamination, _decon_oracle()),
    "embedding_kcenter": (q_embedding_kcenter, _kcenter_oracle()),
    "interleaved_mix_order": (q_interleaved_mix_order, _interleave_oracle()),
}
