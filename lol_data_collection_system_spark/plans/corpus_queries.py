"""Training-corpus queries over ``documents`` and ``embeddings`` — the
LLM-data-pipeline operator set (dedup, similarity, text analysis) declared
as (spark_fn, oracle_sql) pairs for the correctness gate.

Every oracle is generated from the SAME constants (stopword lists, shingle
size, seeds, LSH bits) as the Spark implementation so the two stay in
lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators import retrieval as retrieval_ops
from ..operators import sampling as sampling_ops
from ..operators import similarity as sim_ops
from ..operators import sketches as sketch_ops
from ..operators import text as text_ops
from ..session import shared
from ..sources import load_table
from ..sources.cache import materialize_summary, refresh_stored, summary_path

SHINGLE_K = 3
MINHASH_N = 16
MINHASH_BAND = 4
SIMHASH_BITS = 16
LSH_BITS = 8
ANN_BITS = 4
TOPK = 10
QUERY_VEC_ID = 0
JACCARD_THRESHOLD = 0.05
NEAR_DUP_COS = 0.3
#: Stop-shingle document-frequency cap for the `_capped` dedup variants —
#: the first-class skew lever at corpus scale (a shingle in f docs costs
#: f² join rows). 5 bites at every test sf: it drops 45/29/24517 shingles
#: at sf0.001/0.01/0.1 (at sf0.1, 90% of shingles exceed it — the capped
#: join is an order of magnitude smaller there).
SHINGLE_MAX_DF = 5

# Oracle building blocks (DuckDB dialect), kept textually tiny and derived
# from the same constants as the Spark side.
_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_TOKS_LOWER = r"regexp_split_to_array(trim(lower(text)), '\s+')"
_NORM = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),"
    r" '\s+', ' ', 'g'))"
)
_NTOKS = r"regexp_split_to_array(" + _NORM + r", '\s+')"


def _shingle_list_sql(k: int = SHINGLE_K) -> str:
    """Distinct word k-grams of the normalized text (clamped like Spark's
    slice for docs shorter than k tokens)."""
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len(t) - {k - 1}, 1)), "
        f"i -> array_to_string(t[i:i+{k - 1}], ' ')))"
    )


def _stop_hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(toks, x -> x IN ({inlist})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = text_ops.token_count(F.col("text"))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        (F.sum(n_tok).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        F.sum(text_ops.bpe_ish_piece_count(F.col("text"))).alias("total_pieces"),
    )


ORACLE_DOC_TOKEN_STATS = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
       CAST(SUM(len({_TOKS})) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
         AS total_pieces
FROM documents GROUP BY lang
"""


def q_doc_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ratio aggregates per source — ratios of integer sums so the
    result is deterministic (no double-summation order)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = text_ops.tokens(F.col("text"))
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*text_ops.LANG_STOPWORDS["en"])))
    tok_chars = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    per_doc = docs.select(
        "source",
        n_tok.alias("n_tok"),
        n_distinct.alias("n_distinct"),
        stop_hits.alias("stop_hits"),
        tok_chars.alias("tok_chars"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_distinct").cast("double") / F.sum("n_tok")).alias("distinct_ratio"),
        (F.sum("stop_hits").cast("double") / F.sum("n_tok")).alias("stopword_ratio"),
        (F.sum("tok_chars").cast("double") / F.sum("n_tok")).alias("mean_token_len"),
    )


_EN_STOPS = ", ".join(f"'{w}'" for w in text_ops.LANG_STOPWORDS["en"])
ORACLE_DOC_QUALITY_BY_SOURCE = f"""
WITH per_doc AS (
  SELECT source,
         len({_TOKS}) AS n_tok,
         len(list_distinct({_TOKS})) AS n_distinct,
         len(list_filter({_TOKS}, x -> x IN ({_EN_STOPS}))) AS stop_hits,
         length(regexp_replace(trim(text), '\\s+', '', 'g')) AS tok_chars
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_distinct) AS DOUBLE) / SUM(n_tok) AS distinct_ratio,
       CAST(SUM(stop_hits) AS DOUBLE) / SUM(n_tok) AS stopword_ratio,
       CAST(SUM(tok_chars) AS DOUBLE) / SUM(n_tok) AS mean_token_len
FROM per_doc GROUP BY source
"""


#: Filter-chain thresholds picked to discriminate on the synthetic corpus
#: (each rule rejects a real fraction at sf0.01: length 106/500, word-len
#: tails, repetition ~45%, stopword floor 188/500).
QF_MIN_TOKENS = 30
QF_MAX_TOKENS = 10_000
QF_WORD_LEN = (4.0, 5.0)
QF_MIN_DISTINCT = 0.45
QF_MIN_STOPWORD = 0.05


def q_doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rule-chain audit: which Gopher/C4-style rule rejects
    each doc, plus the final keep bit."""
    docs = load_table(spark, sf_dir, "documents")
    lo, hi = QF_WORD_LEN
    return text_ops.quality_filter_flags(
        docs,
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        word_len_lo=lo,
        word_len_hi=hi,
        min_distinct_ratio=QF_MIN_DISTINCT,
        min_stopword_ratio=QF_MIN_STOPWORD,
    ).select(
        "doc_id", "pass_length", "pass_word_len", "pass_repetition",
        "pass_stopwords", "keep",
    )


def _quality_flags_ctes(carry: str = "") -> str:
    """The per_doc + flags CTE pair — the SINGLE SQL definition of the
    Gopher/C4 rule chain (mirrors `text.quality_filter_flags`'s integer
    cross-multiplications). `carry` rides extra columns (e.g.
    ", source, lang, n_chars") through both CTEs so composite oracles
    (datasheet) and the per-doc audit read the same rules."""
    scale = 1_000_000
    wl_lo = int(round(QF_WORD_LEN[0] * scale))
    wl_hi = int(round(QF_WORD_LEN[1] * scale))
    dr = int(round(QF_MIN_DISTINCT * scale))
    sr = int(round(QF_MIN_STOPWORD * scale))
    return f"""per_doc AS (
  SELECT doc_id{carry},
         CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         CAST(len(list_distinct({_TOKS})) AS BIGINT) AS n_distinct,
         CAST(len(list_filter({_TOKS}, x -> x IN ({_EN_STOPS}))) AS BIGINT)
           AS stop_hits,
         CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT)
           AS tok_chars
  FROM documents),
flags AS (
  SELECT doc_id{carry}, n_tok,
         n_tok >= {QF_MIN_TOKENS} AND n_tok <= {QF_MAX_TOKENS} AS pass_length,
         tok_chars * {scale} >= {wl_lo} * n_tok
           AND tok_chars * {scale} <= {wl_hi} * n_tok AS pass_word_len,
         n_distinct * {scale} >= {dr} * n_tok AS pass_repetition,
         stop_hits * {scale} >= {sr} * n_tok AS pass_stopwords
  FROM per_doc)"""


def _quality_filter_oracle() -> str:
    return f"""
WITH {_quality_flags_ctes()}
SELECT doc_id, pass_length, pass_word_len, pass_repetition, pass_stopwords,
       pass_length AND pass_word_len AND pass_repetition AND pass_stopwords
         AS keep
FROM flags
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = text_ops.language_scores(docs)
    return scored.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n_docs"))


def _lang_id_oracle() -> str:
    langs = list(text_ops.LANG_STOPWORDS)
    hit_exprs = ",\n         ".join(
        f"{_stop_hits_sql(text_ops.LANG_STOPWORDS[lang])} AS hits_{lang}"
        for lang in langs
    )
    # argmax chain with first-wins tie-break, mirroring language_scores().
    cases = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">=" if i < j else ">"
            conds.append(f"hits_{lang} {op} hits_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    return f"""
WITH scored AS (
  SELECT lang, {hit_exprs}
  FROM (SELECT lang, {_TOKS_LOWER} AS toks FROM documents))
SELECT lang, {case_sql} AS lang_pred, COUNT(*) AS n_docs
FROM scored GROUP BY lang, lang_pred
"""


def q_doc_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.exact_dup_groups(docs, "doc_id", "text")


ORACLE_DOC_FINGERPRINT_DUPS = f"""
SELECT md5({_NORM}) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM documents GROUP BY 1
"""


def q_winnow_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.winnow_signatures_df(docs, "doc_id", "text")


ORACLE_WINNOW_SIGNATURES = f"""
SELECT doc_id,
       array_to_string(list_sort(
         list_transform(generate_series(1, greatest(len(t) - 3, 1)),
                        i -> md5(array_to_string(t[i:i+3], ' '))))[1:3], ',')
         AS signature
FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k=3 shingle frame over the full documents table, shared per
    session: the tokenize+window+distinct pass every MinHash/Jaccard-
    family query pays (one shared scan instead of six). Every consumer
    passes it straight to the shingle-frame operators
    (`ngram_jaccard_pairs`, `lsh_candidate_pairs`,
    `minhash_jaccard_calibration`, `containment_pairs`), which persist
    only the capped frames they derive from it."""
    return shared(
        spark,
        ("doc_shingles", sf_dir),
        lambda: dedup_ops.shingles(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", SHINGLE_K
        ),
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", JACCARD_THRESHOLD
    )


ORACLE_NGRAM_JACCARD_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
      >= {JACCARD_THRESHOLD}
"""


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale posture of `ngram_jaccard_pairs`: same Jaccard, computed
    over the doc-frequency-capped shingle space (stop-shingle removal).
    Capped results are a subset of the uncapped pairs (pinned in
    tests/test_oracle_parity.py::test_jaccard_doc_freq_cap)."""
    return dedup_ops.ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", JACCARD_THRESHOLD,
        max_doc_freq=SHINGLE_MAX_DF,
    )


_CAPPED_SH_SQL = f"""
  SELECT sh.doc_id, sh.shingle
  FROM sh JOIN (SELECT shingle FROM sh GROUP BY shingle
                HAVING COUNT(*) <= {SHINGLE_MAX_DF}) rare
    ON sh.shingle = rare.shingle
"""

ORACLE_NGRAM_JACCARD_CAPPED = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
capped AS ({_CAPPED_SH_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
      >= {JACCARD_THRESHOLD}
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.lsh_candidate_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", MINHASH_N, MINHASH_BAND
    )


def q_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates over doc-frequency-capped shingles — the corpus-scale
    posture (signature cost and band-bucket skew both bounded). NOT a
    subset of the uncapped run: removing a shingle can flip a band hash
    either way, so this is its own oracle-gated query."""
    return dedup_ops.lsh_candidate_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", MINHASH_N, MINHASH_BAND,
        max_doc_freq=SHINGLE_MAX_DF,
    )


def _minhash_perm_exprs() -> str:
    """The MIN-permutation select list — the SINGLE SQL definition of
    the signature scheme (mirrors `dedup.minhash_perm`); shared by the
    LSH-pairs oracle and the calibration oracle."""
    from ..operators.dedup import MINHASH_PRIME, minhash_perm

    perm_exprs = []
    for i in range(MINHASH_N):
        a, b = minhash_perm(i)
        perm_exprs.append(
            f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh_{i}"
        )
    return ",\n         ".join(perm_exprs)


def _minhash_band_exprs() -> str:
    """The band-hash list — the SINGLE SQL definition of the banding
    geometry (mirrors `dedup._band_hashes`)."""
    n_bands = MINHASH_N // MINHASH_BAND
    return ", ".join(
        "md5("
        + " || '|' || ".join(
            f"CAST(mh_{b * MINHASH_BAND + r} AS VARCHAR)"
            for r in range(MINHASH_BAND)
        )
        + ")"
        for b in range(n_bands)
    )


def _minhash_oracle(capped: bool = False) -> str:
    from ..operators.dedup import MINHASH_PRIME

    mh_exprs = _minhash_perm_exprs()
    band_exprs = _minhash_band_exprs()
    sig_src = "sh"
    cap_cte = ""
    if capped:
        cap_cte = f"capped AS ({_CAPPED_SH_SQL}),"
        sig_src = "capped"
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
{cap_cte}
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS h
  FROM {sig_src}),
sigs AS (
  SELECT doc_id, {mh_exprs}
  FROM hashed GROUP BY doc_id),
banded AS (
  SELECT doc_id, generate_subscripts(bands, 1) - 1 AS band_idx,
         unnest(bands) AS band_hash
  FROM (SELECT doc_id, [{band_exprs}] AS bands FROM sigs))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


def _doc_token_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, md5-of-distinct-token) frame, shared per session —
    the SimHash family's analog of `_doc_shingles`: the 16-bit and
    128-bit signatures read different substrings of the SAME md5, so
    one tokenize+hash scan serves both, passed straight to `simhash`
    and `simhash_components`."""
    return shared(
        spark,
        ("doc_token_md5", sf_dir),
        lambda: dedup_ops.token_md5(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ),
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.simhash(
        _doc_token_md5(spark, sf_dir), "doc_id", SIMHASH_BITS
    )


def _simhash_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_NTOKS})) AS t FROM documents),
hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 4)) AS BIGINT) AS h FROM tok),
bits AS (
  SELECT doc_id, i,
         SUM(((h >> i) & 1) * 2 - 1) AS contrib
  FROM hashed CROSS JOIN generate_series(0, {SIMHASH_BITS - 1}) s(i)
  GROUP BY doc_id, i)
SELECT doc_id,
       CAST(SUM(CASE WHEN contrib > 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


SIMHASH_ND_THRESHOLD = 3


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup components over the corpus (Charikar/Manku web
    near-dedup): 128-bit wide fingerprints → exact-dup collapse →
    recall-1 Hamming banding (16-bit bands) → bit_count verify →
    connected components. The text near-dup family's third member
    (MinHash/Jaccard = set overlap, embeddings = semantic, SimHash =
    weighted-token direction at 16 bytes/doc of pair-time state)."""
    return dedup_ops.simhash_components(
        _doc_token_md5(spark, sf_dir), "doc_id",
        threshold=SIMHASH_ND_THRESHOLD,
    )


def _simhash_nd_oracle(threshold: int = SIMHASH_ND_THRESHOLD) -> str:
    """Full re-derivation: 128-bit SimHash (four 32-bit md5 slices per
    token; bit 63 of each word packed as the long MIN_VALUE literal),
    distinct-signature reps, the SAME 8×16-bit banding (logical right
    shift spelled via the unsigned-reinterpretation HUGEINT offset —
    DuckDB's BIGINT >> sign-extends where Spark's shiftrightunsigned
    must not), bit_count(xor) verify, recursive min-label closure."""
    two64 = 1 << 64
    slices = ", ".join(
        f"CAST(('0x' || substr(md5(t), {1 + 8 * j}, 8)) AS BIGINT) AS h{j}"
        for j in range(4)
    )
    word_sql = []
    for w in range(2):
        word_sql.append(
            f"""CAST(SUM(CASE WHEN wi = {w} AND contrib > 0 THEN
        CASE WHEN bi = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
             ELSE CAST((1::BIGINT << bi) AS HUGEINT) END
      ELSE 0 END) AS BIGINT) AS w{w}"""
        )
    words = ",\n       ".join(word_sql)
    return f"""
WITH RECURSIVE sh_tok AS (
  SELECT doc_id, unnest(list_distinct({_NTOKS})) AS t FROM documents),
sh_hash AS (
  SELECT doc_id, {slices} FROM sh_tok),
sh_bits AS (
  SELECT doc_id, w.wi, b.bi,
         SUM((((CASE w.wi * 2 + (b.bi // 32)
                 WHEN 0 THEN h0 WHEN 1 THEN h1
                 WHEN 2 THEN h2 ELSE h3 END) >> (b.bi % 32)) & 1) * 2 - 1)
           AS contrib
  FROM sh_hash
  CROSS JOIN generate_series(0, 1) w(wi)
  CROSS JOIN generate_series(0, 63) b(bi)
  GROUP BY doc_id, w.wi, b.bi),
sh_sig AS (
  SELECT doc_id,
       {words}
  FROM sh_bits GROUP BY doc_id),
sh_reps AS (
  SELECT w0, w1, MIN(doc_id) AS rep FROM sh_sig GROUP BY w0, w1),
sh_u AS (
  SELECT rep, w0, w1,
         CASE WHEN w0 >= 0 THEN CAST(w0 AS HUGEINT)
              ELSE CAST(w0 AS HUGEINT) + {two64} END AS u0,
         CASE WHEN w1 >= 0 THEN CAST(w1 AS HUGEINT)
              ELSE CAST(w1 AS HUGEINT) + {two64} END AS u1
  FROM sh_reps),
sh_band AS (
  SELECT rep, w0, w1, g.b AS band_idx,
         CAST(((CASE WHEN g.b < 4 THEN u0 ELSE u1 END
                >> ((g.b % 4) * 16)) % 65536) AS BIGINT) AS band_val
  FROM sh_u CROSS JOIN generate_series(0, 7) g(b)),
sh_edges AS (
  SELECT DISTINCT a.rep AS id_a, b.rep AS id_b
  FROM sh_band a
  JOIN sh_band b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.rep < b.rep
  WHERE bit_count(xor(a.w0, b.w0)) + bit_count(xor(a.w1, b.w1))
        <= {threshold}),
sh_sym AS (
  SELECT id_a AS u, id_b AS v FROM sh_edges
  UNION SELECT id_b, id_a FROM sh_edges),
sh_reach(node, reached) AS (
  SELECT u, u FROM sh_sym
  UNION
  SELECT r.node, s.v FROM sh_reach r JOIN sh_sym s ON s.u = r.reached),
sh_comp AS (SELECT node, MIN(reached) AS m FROM sh_reach GROUP BY node)
SELECT g.doc_id, COALESCE(c.m, r.rep) AS component_id
FROM sh_sig g
JOIN sh_reps r ON r.w0 = g.w0 AND r.w1 = g.w1
LEFT JOIN sh_comp c ON c.node = r.rep
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_near_dup_pairs(
        emb, threshold=NEAR_DUP_COS, lsh_bits=LSH_BITS
    )


def _bucket_sql(col: str, bits: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN {col}[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


_COS_SQL = (
    "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)

ORACLE_EMBEDDING_NEAR_DUP = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_COS_SQL}, 6) AS cos_sim
FROM embeddings a JOIN embeddings b
  ON {_bucket_sql('a.embedding', LSH_BITS)} = {_bucket_sql('b.embedding', LSH_BITS)}
 AND a.vec_id < b.vec_id
WHERE ROUND({_COS_SQL}, 6) >= {NEAR_DUP_COS}
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.brute_force_topk(emb, QUERY_VEC_ID, TOPK)


_COS_Q_SQL = (
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))))"
)

ORACLE_EMBEDDING_TOPK = f"""
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank,
         ROUND({_COS_Q_SQL}, 4) AS cos_sim
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE e.vec_id != {QUERY_VEC_ID})
WHERE rank <= {TOPK}
"""


def q_embedding_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.lsh_topk(emb, QUERY_VEC_ID, TOPK, ANN_BITS)


ORACLE_EMBEDDING_ANN_TOPK = f"""
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank,
         ROUND({_COS_Q_SQL}, 4) AS cos_sim
  FROM embeddings e,
       (SELECT embedding, {_bucket_sql('embedding', ANN_BITS)} AS qb
        FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE e.vec_id != {QUERY_VEC_ID}
    AND {_bucket_sql('e.embedding', ANN_BITS)} = q.qb)
WHERE rank <= {TOPK}
"""


IVF_CENTROIDS = 8


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: centroid-argmax bucketing (data-dependent, balances the
    buckets sign-LSH collapses on anisotropic embeddings) + exact cosine
    within the query's bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(emb, QUERY_VEC_ID, TOPK, IVF_CENTROIDS)


#: cosine between a row's embedding and a centroid's, both DOUBLE[]
_COS_CENT_SQL = (
    "list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]), CAST(c.cvec AS DOUBLE[]))))"
)

ORACLE_EMBEDDING_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_COS_CENT_SQL}, 6) DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1)
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank,
         ROUND({_COS_Q_SQL}, 4) AS cos_sim
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id,
       (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q,
       (SELECT bucket AS qbucket FROM assign WHERE vec_id = {QUERY_VEC_ID}) qb
  WHERE e.vec_id != {QUERY_VEC_ID}
    AND a.bucket = qb.qbucket)
WHERE rank <= {TOPK}
"""


IVF_NPROBE = 2


def q_embedding_ivf_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: union of the query's `IVF_NPROBE` nearest centroid
    buckets — the recall/cost dial of a production IVF index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_topk(
        emb, QUERY_VEC_ID, TOPK, IVF_CENTROIDS, nprobe=IVF_NPROBE
    )


ORACLE_EMBEDDING_IVF_PROBE_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
  WHERE vec_id < {IVF_CENTROIDS}),
assign AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ROUND({_COS_CENT_SQL}, 6) DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1),
qb AS (
  SELECT CAST(cid AS BIGINT) AS cid FROM (
    SELECT c.cid, ROUND({_COS_CENT_SQL}, 6) AS sim
    FROM (SELECT embedding FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}) e CROSS JOIN cents c)
  ORDER BY sim DESC, cid LIMIT {IVF_NPROBE})
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank,
         ROUND({_COS_Q_SQL}, 4) AS cos_sim
  FROM embeddings e
  JOIN assign a ON a.vec_id = e.vec_id,
       (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
  WHERE e.vec_id != {QUERY_VEC_ID}
    AND a.bucket IN (SELECT cid FROM qb))
WHERE rank <= {TOPK}
"""


def _dedup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The converged near-dup label frame, shared per session: the
    pairs derivation + connected components (whose rounds run ACTIONS at
    construction) feed `dedup_components`, `component_canonicals` and
    the other CC consumers, so the rounds run once per session."""
    from ..operators import graph as graph_ops

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        pairs = dedup_ops.ngram_jaccard_pairs(
            _doc_shingles(spark, sf_dir), "doc_id", JACCARD_THRESHOLD,
            max_doc_freq=SHINGLE_MAX_DF,
        )
        return graph_ops.dedup_clusters(docs, pairs)

    return shared(spark, ("dedup_labels", sf_dir), build)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering end-to-end: capped-Jaccard pairs as edges →
    connected components → full-corpus (doc_id, component_id) map with
    component_id = min doc id (untouched docs are their own singleton).
    The iterative label propagation runs eagerly at call time (each round
    is an action); the returned frame reads the converged labels."""
    return _dedup_labels(spark, sf_dir)


_CC_CTES = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
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
sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION SELECT id_b, id_a FROM edges),
reach(node, reached) AS (
  SELECT u, u FROM sym
  UNION
  SELECT r.node, s.v FROM reach r JOIN sym s ON s.u = r.reached),
comp AS (SELECT node, MIN(reached) AS m FROM reach GROUP BY node),
comps AS (
  SELECT d.doc_id, COALESCE(c.m, d.doc_id) AS component_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
"""

ORACLE_DEDUP_COMPONENTS = f"""
{_CC_CTES}
SELECT doc_id, component_id FROM comps
"""



DELETE_MOD = 97


def q_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation: a key-derived deletion request
    (doc_id ≡ 0 mod 97 — the in-plan fixture trick) expands one hop
    through the near-dup components, flagging every near-copy of a
    requested document. Shares the converged label frame with
    `dedup_components`/`component_canonicals` (CC runs once per
    session)."""
    from ..operators import validation as validation_ops

    docs = load_table(spark, sf_dir, "documents")
    labels = _dedup_labels(spark, sf_dir)
    dels = docs.filter(F.col("doc_id") % DELETE_MOD == 0).select("doc_id")
    return validation_ops.delete_propagation(labels, dels)


ORACLE_DELETE_PROPAGATION = f"""
{_CC_CTES},
dels AS (SELECT doc_id FROM documents WHERE doc_id % {DELETE_MOD} = 0),
delcomp AS (
  SELECT DISTINCT c.component_id FROM comps c JOIN dels d USING (doc_id))
SELECT c.doc_id, c.component_id,
       CASE WHEN d.doc_id IS NOT NULL THEN 'deleted_direct'
            WHEN dc.component_id IS NOT NULL THEN 'deleted_via_dup'
            ELSE 'kept' END AS status
FROM comps c
LEFT JOIN dels d ON d.doc_id = c.doc_id
LEFT JOIN delcomp dc ON dc.component_id = c.component_id
"""


def q_component_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization: near-dup components keep
    their longest member (`n_chars`, ties → smallest id). Shares the
    converged label frame with `dedup_components` (the shared CC runs
    once per session, not once per consumer)."""
    from ..operators import graph as graph_ops

    docs = load_table(spark, sf_dir, "documents")
    labels = _dedup_labels(spark, sf_dir)
    return graph_ops.quality_canonicals(docs, labels, "n_chars")


ORACLE_COMPONENT_CANONICALS = f"""
{_CC_CTES},
joined AS (
  SELECT c.component_id, c.doc_id, d.n_chars
  FROM comps c JOIN documents d USING (doc_id))
SELECT component_id,
       first(doc_id ORDER BY n_chars DESC, doc_id) AS canonical_id,
       CAST(count(*) AS BIGINT) AS n_members,
       max(n_chars) AS canonical_quality
FROM joined GROUP BY component_id
"""


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup loss reweighting (round 10): every document keeps a
    row, near-dup clusters are DOWN-WEIGHTED to unit total mass
    (weight = 1/|component|) instead of dropped — the soft alternative
    to canonical selection when duplicated text still carries signal
    but must not dominate the training mixture. Shares the
    converged label frame with `dedup_components`/`component_canonicals`
    (CC runs once per session, three consumers)."""
    from ..operators import graph as graph_ops

    return graph_ops.soft_dedup_weights(
        _dedup_labels(spark, sf_dir)
    )


ORACLE_SOFT_DEDUP_WEIGHTS = f"""
{_CC_CTES},
comp_sizes AS (SELECT component_id,
                      CAST(COUNT(*) AS BIGINT) AS n_members
               FROM comps GROUP BY component_id)
SELECT c.doc_id, c.component_id, s.n_members,
       round(1.0 / s.n_members, 6) AS weight
FROM comps c JOIN comp_sizes s USING (component_id)
"""



def q_lsh_pair_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the MinHash-LSH candidate generator against
    the true Jaccard pairs at the query threshold (both uncapped, so
    the two sides see the same shingle space).

    The expensive shingle assembly (scan + explode + two windows) is
    the session-shared `_doc_shingles` frame, read by both sides."""
    sh = _doc_shingles(spark, sf_dir)
    cand = dedup_ops.lsh_candidate_pairs(
        sh, "doc_id", MINHASH_N, MINHASH_BAND
    )
    truth = dedup_ops.ngram_jaccard_pairs(
        sh, "doc_id", JACCARD_THRESHOLD
    ).select("id_a", "id_b")
    return dedup_ops.pair_quality(cand, truth)


def _lsh_pair_quality_oracle() -> str:
    cand = _minhash_oracle().strip()
    truth = ORACLE_NGRAM_JACCARD_PAIRS.strip()
    return f"""
WITH cand AS ({cand}),
truth AS ({truth}),
hit AS (SELECT count(*) AS n_hit
        FROM cand c JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
       CAST(h.n_hit AS BIGINT) AS n_hit,
       round(CAST(h.n_hit AS DOUBLE)
             / (SELECT CAST(count(*) AS DOUBLE) FROM cand), 6) AS precision,
       round(CAST(h.n_hit AS DOUBLE)
             / (SELECT CAST(count(*) AS DOUBLE) FROM truth), 6) AS recall
FROM hit h
"""



def q_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet: the one-table profile a data team
    reads before mixing a source into training — volume (docs, tokens),
    length distribution (median/p75 chars), quality-gate pass rate
    (Gopher/C4 chain at the query thresholds), and language spread.

    One partial-agg'd groupBy over the corpus; the length quantiles are
    per-GROUP aggregates (bounded state), never a global sort/ntile.
    """
    lo, hi = QF_WORD_LEN
    flagged = text_ops.quality_filter_flags(
        load_table(spark, sf_dir, "documents"),
        min_tokens=QF_MIN_TOKENS,
        max_tokens=QF_MAX_TOKENS,
        word_len_lo=lo,
        word_len_hi=hi,
        min_distinct_ratio=QF_MIN_DISTINCT,
        min_stopword_ratio=QF_MIN_STOPWORD,
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text_ops.tokens(F.col("text"))).cast("bigint")).alias(
            "n_tokens"
        ),
        F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
        F.round(F.expr("percentile(n_chars, 0.75)"), 6).alias("p75_chars"),
        F.round(
            F.sum(F.col("keep").cast("bigint")).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("keep_rate"),
        F.count_distinct("lang").alias("n_langs"),
    )


def _datasheet_oracle() -> str:
    return f"""
WITH {_quality_flags_ctes(", source, lang, n_chars")},
kept AS (
  SELECT source, lang, n_chars, n_tok,
         (pass_length AND pass_word_len AND pass_repetition
          AND pass_stopwords) AS keep
  FROM flags)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
       round(quantile_cont(n_chars, 0.75), 6) AS p75_chars,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM kept GROUP BY source
"""




PQ_SUBSPACES = 2
PQ_SUB_DIM = 32
PQ_CENTROIDS = 8


def q_embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.pq_topk(
        emb, QUERY_VEC_ID, TOPK, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS
    )


def _pq_ctes(qid_sql: str) -> str:
    """The seeded-codebook PQ/ADC derivation as a prefixed CTE chain
    ending in ``pq_approx(vec_id, approx_ip)`` — parameterized by the
    query-id SQL expression so `_pq_oracle` (constant probe) and
    `_serving_oracle` (probe = the funnel's min novel doc) share one
    derivation."""
    m, d, kc = PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS
    sub = lambda col, i: f"{col}[{1 + i * d}:{(i + 1) * d}]"  # noqa: E731
    cent_cols = ", ".join(f"{sub('e', i)} AS c{i}" for i in range(m))
    q_cols = ", ".join(f"{sub('e', i)} AS q{i}" for i in range(m))
    qd_cols = ", ".join(
        f"round(list_dot_product(q{i}, c{i}), 6) AS qd{i}" for i in range(m)
    )
    sim_cols = ", ".join(
        f"round(list_dot_product({sub('x.e', i)}, c.c{i}), 6) AS s{i}"
        for i in range(m)
    )
    best_ctes = ",\n".join(
        f"""pq_best{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s{i} DESC, cid)
             AS rn
    FROM pq_sims) WHERE rn = 1)"""
        for i in range(m)
    )
    joins = " ".join(
        f"JOIN pq_best{i} b{i} ON b{i}.vec_id = s.vec_id "
        f"JOIN pq_qd t{i} ON t{i}.cid = b{i}.cid"
        for i in range(m)
    )
    ip_sum = " + ".join(f"t{i}.qd{i}" for i in range(m))
    return f"""pq_v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
pq_cents AS (SELECT vec_id AS cid, {cent_cols} FROM pq_v WHERE vec_id < {kc}),
pq_q AS (SELECT {q_cols} FROM pq_v WHERE vec_id = {qid_sql}),
pq_qd AS (SELECT cid, {qd_cols} FROM pq_cents, pq_q),
pq_sims AS (
  SELECT x.vec_id, c.cid, {sim_cols}
  FROM pq_v x, pq_cents c WHERE x.vec_id != {qid_sql}),
{best_ctes},
pq_approx AS (
  SELECT s.vec_id, round({ip_sum}, 6) AS approx_ip
  FROM (SELECT DISTINCT vec_id FROM pq_sims) s {joins})"""


def _pq_oracle() -> str:
    return f"""
WITH {_pq_ctes(str(QUERY_VEC_ID))}
SELECT vec_id, rank, approx_ip FROM (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY approx_ip DESC, vec_id) AS rank,
         approx_ip
  FROM pq_approx)
WHERE rank <= {TOPK}
"""



PQ_TRAIN_ITERS = 2


def q_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production PQ: per-subspace Lloyd-TRAINED codebooks
    (`pq_codebooks(train_iters=...)` → `kmeans_centroids` on each
    `sub_dim`-dim subvector family) feeding the same ADC scan as
    `embedding_pq_topk`. The oracle unrolls the per-subspace Lloyd
    rounds exactly like the trained-IVF oracle, then reruns the ADC
    over the trained cells — hash-gating the full train+serve path."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = sim_ops.pq_codebooks(
        emb, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS,
        train_iters=PQ_TRAIN_ITERS,
    )
    return sim_ops.pq_topk(
        emb, QUERY_VEC_ID, TOPK, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS,
        codebooks=books,
    )


def _pq_sub_kmeans_cte_parts(
    m: int, k: int, iters: int, sub_dim: int
) -> list[str]:
    """Per-subspace Lloyd CTE chain over SLICED embeddings — the
    `_kmeans_cte_parts` pattern with every vector expression replaced by
    the subspace slice and CTE names suffixed `_s{m}`. The codebook the
    ADC consumes is the FINAL recompute ``cent_{iters}_s{m}`` (what
    `kmeans_centroids` returns), so `ex_`/`cent_` CTEs are emitted for
    the last round too."""
    sfx = f"_s{m}"
    lo, hi, off = 1 + m * sub_dim, (m + 1) * sub_dim, m * sub_dim

    def vec(tbl: str) -> str:
        return f"CAST({tbl}.embedding[{lo}:{hi}] AS DOUBLE[])"

    parts = [
        f"cent_0{sfx} AS (SELECT CAST(vec_id AS INT) AS cid,"
        f" {vec('embeddings')} AS cvec FROM embeddings"
        f" WHERE vec_id < {k})"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""scored_{i}{sfx} AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product({vec('e')}, c.cvec)
               / (sqrt(list_dot_product({vec('e')}, {vec('e')}))
                  * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
  FROM embeddings e CROSS JOIN cent_{i - 1}{sfx} c)"""
        )
        parts.append(
            f"""assign_{i}{sfx} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM scored_{i}{sfx}) WHERE rn = 1)"""
        )
        parts.append(
            f"""ex_{i}{sfx} AS (
  SELECT a.cid, t.i AS dim, CAST(e.embedding[{off} + t.i] AS DOUBLE) AS val
  FROM assign_{i}{sfx} a JOIN embeddings e USING (vec_id),
       unnest(generate_series(1, {sub_dim})) AS t(i))"""
        )
        parts.append(
            f"""cent_{i}{sfx} AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cvec
  FROM (SELECT cid, dim, SUM(CAST(val AS DECIMAL(38,10))) AS s,
               COUNT(*) AS n
        FROM ex_{i}{sfx} GROUP BY cid, dim) GROUP BY cid)"""
        )
    return parts


def _pq_trained_oracle(
    m: int = PQ_SUBSPACES,
    d: int = PQ_SUB_DIM,
    kc: int = PQ_CENTROIDS,
    iters: int = PQ_TRAIN_ITERS,
) -> str:
    sub = lambda col, i: f"{col}[{1 + i * d}:{(i + 1) * d}]"  # noqa: E731
    km_parts: list[str] = []
    for i in range(m):
        km_parts += _pq_sub_kmeans_cte_parts(i, kc, iters, d)
    q_cols = ", ".join(f"{sub('e', i)} AS q{i}" for i in range(m))
    per_sub = ",\n".join(
        f"""qd{i} AS (
  SELECT c.cid, round(list_dot_product(c.cvec, q.q{i}), 6) AS qd
  FROM cent_{iters}_s{i} c, q),
sims{i} AS (
  SELECT x.vec_id, c.cid,
         round(list_dot_product({sub('x.e', i)}, c.cvec), 6) AS s
  FROM v x, cent_{iters}_s{i} c WHERE x.vec_id != {QUERY_VEC_ID}),
best{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
    FROM sims{i}) WHERE rn = 1)"""
        for i in range(m)
    )
    joins = " ".join(
        f"JOIN best{i} b{i} ON b{i}.vec_id = s.vec_id "
        f"JOIN qd{i} t{i} ON t{i}.cid = b{i}.cid"
        for i in range(m)
    )
    ip_sum = " + ".join(f"t{i}.qd" for i in range(m))
    return f"""
WITH {",".join(km_parts)},
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
q AS (SELECT {q_cols} FROM v WHERE vec_id = {QUERY_VEC_ID}),
{per_sub},
approx AS (
  SELECT s.vec_id, round({ip_sum}, 6) AS approx_ip
  FROM (SELECT DISTINCT vec_id FROM sims0) s {joins})
SELECT vec_id, rank, approx_ip FROM (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY approx_ip DESC, vec_id) AS rank,
         approx_ip
  FROM approx)
WHERE rank <= {TOPK}
"""


def q_doc_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-character / NBSP scrub audit: cleaned length vs raw
    length and whether the scrub changed anything (clean corpora report
    changed=false everywhere — the audit proves it)."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = text_ops.clean_control_chars(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("raw_len"),
        F.length(cleaned).alias("clean_len"),
        (cleaned != F.col("text")).alias("changed"),
    )


ORACLE_DOC_TEXT_SCRUB = r"""
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(
           regexp_replace(
             regexp_replace(text, '\xA0', ' ', 'g'),
             '[\x00-\x1F\x7F]', ' ', 'g'),
           '\s+', ' ', 'g')) AS cleaned
  FROM documents)
SELECT doc_id,
       CAST(length(text) AS INT) AS raw_len,
       CAST(length(cleaned) AS INT) AS clean_len,
       cleaned != text AS changed
FROM c
"""


NEG_SALT = "neg1"
NEG_K = 2
NEG_BUCKETS = 64


def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.contrastive_negatives(
        docs, "doc_id", NEG_K, NEG_BUCKETS, NEG_SALT
    )


def _neg_hash(prefix: str, parts: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{prefix}' || {parts}), 1, 15)) AS BIGINT)"
    )


_NEG_IDX_LIST = ", ".join(str(j) for j in range(NEG_K))

ORACLE_CONTRASTIVE_NEGATIVES = f"""
WITH cand AS (
  SELECT doc_id AS neg_id,
         {_neg_hash(f'b:{NEG_SALT}:', 'CAST(doc_id AS VARCHAR)')}
           % {NEG_BUCKETS} AS bucket
  FROM documents),
draws AS (
  SELECT doc_id, unnest([{_NEG_IDX_LIST}]) AS neg_idx FROM documents),
keyed AS (
  SELECT doc_id, neg_idx,
         {_neg_hash(f'd:{NEG_SALT}:',
                    "CAST(doc_id AS VARCHAR) || '|' || CAST(neg_idx AS VARCHAR)")}
           % {NEG_BUCKETS} AS bucket
  FROM draws),
picks AS (
  SELECT k.doc_id, k.neg_idx, c.neg_id,
         md5('p:{NEG_SALT}:' || CAST(k.doc_id AS VARCHAR) || '|'
             || CAST(k.neg_idx AS VARCHAR) || '|'
             || CAST(c.neg_id AS VARCHAR)) AS h
  FROM keyed k JOIN cand c USING (bucket)
  WHERE c.neg_id != k.doc_id)
SELECT doc_id, neg_idx, neg_id FROM (
  SELECT doc_id, neg_idx, neg_id,
         ROW_NUMBER() OVER (PARTITION BY doc_id, neg_idx
                            ORDER BY h, neg_id) AS rn
  FROM picks)
WHERE rn = 1
"""


SPLIT_SALT = "corpus-v1"
SPLIT_FRACTIONS = {"train": 0.8, "valid": 0.1, "test": 0.1}
STRATA_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
STRATA_DEFAULT = 0.1


def q_corpus_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment per document — a pure
    function of (salt, doc_id), stable across runs/engines/partitioning
    (seeded `df.sample` is not)."""
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.deterministic_split(
        docs, "doc_id", SPLIT_FRACTIONS, SPLIT_SALT
    ).select("doc_id", "split")


def _bucket_of(key_sql: str, salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST({key_sql} AS VARCHAR)), "
        f"1, 15)) AS BIGINT) % 1000000"
    )


def _split_oracle() -> str:
    cases, hi = [], 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi += int(round(frac * 1_000_000))
        cases.append(f"WHEN b < {hi} THEN '{name}'")
    return f"""
SELECT doc_id, CASE {' '.join(cases)} END AS split
FROM (SELECT doc_id, {_bucket_of('doc_id', SPLIT_SALT)} AS b FROM documents)
"""


def q_stratified_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sampling rates (the layout-independent
    `sampleBy`)."""
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.stratified_hash_sample(
        docs, "source", "doc_id", STRATA_FRACTIONS, STRATA_DEFAULT, SPLIT_SALT
    ).select("doc_id", "source")


def _stratified_oracle() -> str:
    cases = " ".join(
        f"WHEN source = '{v}' THEN {int(round(f * 1_000_000))}"
        for v, f in STRATA_FRACTIONS.items()
    )
    default = int(round(STRATA_DEFAULT * 1_000_000))
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source, {_bucket_of('doc_id', SPLIT_SALT)} AS b,
         CASE {cases} ELSE {default} END AS rate
  FROM documents)
WHERE b < rate
"""


def q_train_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition check of the pipeline primitives: deterministic split →
    shingles → capped overlap join. Reports, per contaminated train doc,
    how many test docs it shares a shingle with."""
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    assigned = sampling_ops.deterministic_split(
        docs, "doc_id", SPLIT_FRACTIONS, SPLIT_SALT
    )
    corpus = assigned.filter(F.col("split") == "train")
    bench = assigned.filter(F.col("split") == "test")
    return dedup_ops.benchmark_contamination(
        corpus, bench, "doc_id", "text", SHINGLE_K, max_doc_freq=SHINGLE_MAX_DF
    )


def _contamination_oracle() -> str:
    cases, hi = [], 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi += int(round(frac * 1_000_000))
        cases.append(f"WHEN b < {hi} THEN '{name}'")
    return f"""
WITH assign AS (
  SELECT doc_id, CASE {' '.join(cases)} END AS split
  FROM (SELECT doc_id, {_bucket_of('doc_id', SPLIT_SALT)} AS b FROM documents)),
sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
train_sh0 AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN assign a USING (doc_id)
  WHERE a.split = 'train'),
train_sh AS (
  SELECT t.doc_id, t.shingle FROM train_sh0 t
  JOIN (SELECT shingle FROM train_sh0 GROUP BY shingle
        HAVING COUNT(*) <= {SHINGLE_MAX_DF}) r USING (shingle)),
test_sh AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN assign a USING (doc_id)
  WHERE a.split = 'test')
SELECT t.doc_id, CAST(COUNT(DISTINCT ts.doc_id) AS BIGINT) AS n_benchmark_docs
FROM train_sh t JOIN test_sh ts USING (shingle)
GROUP BY t.doc_id
"""


PACK_SEQ_LEN = 512


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing: docs concatenated in deterministic
    hash order, cut into {PACK_SEQ_LEN}-token context windows. The Spark
    side computes the global offsets with a two-phase distributed prefix
    sum; the oracle is the single-sequence window formulation."""
    from ..operators import packing as packing_ops

    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.pack_sequences(
        docs, "doc_id", "text", PACK_SEQ_LEN, SPLIT_SALT
    )


ORACLE_PACK_SEQUENCES = f"""
WITH ordered AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len({_TOKS}) END AS BIGINT) AS n_tok,
         CAST(('0x' || substr(md5('{SPLIT_SALT}' || CAST(doc_id AS VARCHAR)),
           1, 15)) AS BIGINT) AS ord
  FROM documents),
placed AS (
  SELECT doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM ordered WHERE n_tok > 0)
SELECT chunk_id, doc_id,
       CAST(GREATEST(chunk_id * {PACK_SEQ_LEN} - start, 0) AS BIGINT)
         AS tok_start,
       CAST(LEAST((chunk_id + 1) * {PACK_SEQ_LEN} - start, n_tok) AS BIGINT)
         AS tok_end
FROM placed,
     unnest(generate_series(CAST(start // {PACK_SEQ_LEN} AS BIGINT),
                            CAST((start + n_tok - 1) // {PACK_SEQ_LEN} AS BIGINT)))
       AS t(chunk_id)
"""


def q_embedding_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select(
            sim_ops.sign_lsh_bucket(F.col("embedding"), LSH_BITS).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


ORACLE_EMBEDDING_BUCKET_SIZES = f"""
SELECT {_bucket_sql('embedding', LSH_BITS)} AS bucket, COUNT(*) AS n_vectors
FROM embeddings GROUP BY 1
"""




# ---------------------------------------------------------------------------
# Repetition signals / vocab heavy hitters / span-level dedup
# ---------------------------------------------------------------------------
REP_NS = (2, 3)
SPAN_WIDTH = 8
VOCAB_TOPK = 20


def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.repetition_signals(docs, "doc_id", "text", ns=REP_NS)


def _repetition_oracle(ns: tuple[int, ...] = REP_NS) -> str:
    gram_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, n_chars, {n} AS n,\n"
        f"         unnest(list_transform(generate_series(1, len(t) - {n - 1}),\n"
        f"                i -> array_to_string(t[i:i+{n - 1}], ' '))) AS gram\n"
        f"  FROM docs WHERE len(t) >= {n}"
        for n in ns
    )
    per_cols = ",\n".join(
        f"  CAST(COALESCE(MAX(CASE WHEN n = {n} THEN freq * length(gram) END), 0)"
        f" AS BIGINT) AS top{n}_chars,\n"
        f"  CAST(COALESCE(SUM(CASE WHEN n = {n} AND freq > 1"
        f" THEN freq * length(gram) END), 0) AS BIGINT) AS dup{n}_chars"
        for n in ns
    )
    out_ints = ", ".join(f"top{n}_chars, dup{n}_chars" for n in ns)
    out_fracs = ",\n       ".join(
        f"CAST(top{n}_chars AS DOUBLE) / n_chars AS top{n}_frac,\n"
        f"       CAST(dup{n}_chars AS DOUBLE) / n_chars AS dup{n}_frac"
        for n in ns
    )
    return f"""
WITH docs AS (
  SELECT doc_id, CAST(length(trim(text)) AS BIGINT) AS n_chars,
         regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
grams AS (
{gram_selects}),
counts AS (
  SELECT doc_id, n_chars, n, gram, COUNT(*) AS freq
  FROM grams GROUP BY doc_id, n_chars, n, gram),
per AS (
  SELECT doc_id, n_chars,
{per_cols}
  FROM counts GROUP BY doc_id, n_chars)
SELECT doc_id, n_chars, {out_ints},
       {out_fracs}
FROM per
"""


def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.vocab_top_terms(docs, "doc_id", "text", k=VOCAB_TOPK)


ORACLE_VOCAB_TOP_TERMS = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents)
SELECT term, CAST(COUNT(*) AS BIGINT) AS tf,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
FROM toks GROUP BY term
ORDER BY tf DESC, term
LIMIT {VOCAB_TOPK}
"""


def q_span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.span_dup_stats(docs, "doc_id", "text", width=SPAN_WIDTH)


def q_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact-substring dedup (Lee et al. 2022 family): the
    maximal token spans of each document covered by SPAN_WIDTH-token
    windows occurring at least twice anywhere in the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.cross_doc_repeated_spans(
        docs, "doc_id", "text", width=SPAN_WIDTH
    )


#: anchor-extension gap for the bridged variant: uncovered runs of up to
#: this many tokens (= in-place edits inside a repeated block) merge into
#: one maximal span instead of splitting the island
REP_BRIDGE_GAP = 3


def _repeated_spans_oracle(width: int = SPAN_WIDTH, gap: int = 0) -> str:
    return f"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
spans AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t) - {width - 1})) - 1 AS pos,
         unnest(list_transform(generate_series(1, len(t) - {width - 1}),
                i -> array_to_string(t[i:i+{width - 1}], ' '))) AS span
  FROM docs WHERE len(t) >= {width}),
rep AS (SELECT span FROM spans GROUP BY span HAVING COUNT(*) >= 2),
hits AS (SELECT doc_id, pos FROM spans JOIN rep USING (span)),
flagged AS (
  SELECT doc_id, pos,
         CASE WHEN pos > COALESCE(MAX(pos + {width}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                {-1 - gap})
                + {gap}
              THEN 1 ELSE 0 END AS new_island
  FROM hits),
islands AS (
  SELECT doc_id, pos,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS island
  FROM flagged)
SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {width} AS span_end,
       MAX(pos) + {width} - MIN(pos) AS span_tokens
FROM islands GROUP BY doc_id, island
"""


ORACLE_REPEATED_SUBSTRING_SPANS = _repeated_spans_oracle()


def q_repeated_spans_bridged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-extension variant of `repeated_substring_spans`: uncovered
    runs of <= REP_BRIDGE_GAP tokens between repeated-window islands
    (in-place edits inside a long repeated block) merge into one maximal
    span — the edited-repeat case Lee et al.'s suffix-array pass catches
    and the tight window anchoring splits."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.cross_doc_repeated_spans(
        docs, "doc_id", "text", width=SPAN_WIDTH, bridge_gap=REP_BRIDGE_GAP
    )


ORACLE_SPAN_DUP_STATS = f"""
WITH docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
  FROM documents),
spans AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - {SPAN_WIDTH - 1}),
                i -> array_to_string(t[i:i+{SPAN_WIDTH - 1}], ' '))) AS span
  FROM docs WHERE len(t) >= {SPAN_WIDTH}),
flagged AS (
  SELECT doc_id,
         (MIN(doc_id) OVER (PARTITION BY span)
          <> MAX(doc_id) OVER (PARTITION BY span)) AS is_dup
  FROM spans)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
       CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
         AS dup_frac
FROM flagged GROUP BY doc_id
"""




# ---------------------------------------------------------------------------
# Lexical retrieval (TF-IDF / BM25) and token entropy
# ---------------------------------------------------------------------------
TFIDF_TOP_M = 3
BM25_QUERY = ("spark", "join", "window")
BM25_TOPK = 15

#: (doc_id, term, tf) over lowercased whitespace tokens — shared CTE prefix.
_TC_SQL = r"""
tc AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
tfs AS (SELECT doc_id, term, COUNT(*) AS tf FROM tc GROUP BY doc_id, term)
"""


def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.tfidf_top_terms(docs, "doc_id", "text", top_m=TFIDF_TOP_M)


ORACLE_DOC_TFIDF_TOP_TERMS = f"""
WITH {_TC_SQL},
dfs AS (SELECT term, COUNT(*) AS df_t FROM tfs GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         round(tf * round(ln(CAST(n_docs AS DOUBLE) / df_t), 6), 6) AS tfidf
  FROM tfs JOIN dfs USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rank
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_M}
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.bm25_search(
        docs, BM25_QUERY, "doc_id", "text", k=BM25_TOPK
    )


def _bm25_oracle() -> str:
    k1, b = retrieval_ops.BM25_K1, retrieval_ops.BM25_B
    terms = BM25_QUERY
    tf_cols = ",\n".join(
        f"  COALESCE(MAX(CASE WHEN term = '{t}' THEN tf END), 0) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n".join(
        f"  COALESCE(COUNT(CASE WHEN term = '{t}' THEN 1 END), 0) AS df_{i}"
        for i, t in enumerate(terms)
    )
    inlist = ", ".join(f"'{t}'" for t in terms)
    # fixed-order sum of per-term scores, expression-for-expression the
    # same shape as retrieval_ops.bm25_search
    term_scores = []
    for i in range(len(terms)):
        idf = (
            f"round(ln((CAST(n_docs AS DOUBLE) - df_{i} + 0.5)"
            f" / (df_{i} + 0.5) + 1.0), 6)"
        )
        denom = (
            f"CAST(tf_{i} AS DOUBLE) + {k1} * ({1.0 - b} + {b}"
            f" * (CAST(dl AS DOUBLE) / (CAST(total_len AS DOUBLE) / n_docs)))"
        )
        term_scores.append(
            f"{idf} * (CAST(tf_{i} AS DOUBLE) * {k1 + 1.0}) / ({denom})"
        )
    score = " + ".join(term_scores)
    return f"""
WITH {_TC_SQL},
q AS (SELECT * FROM tfs WHERE term IN ({inlist})),
per_doc AS (
  SELECT doc_id,
{tf_cols}
  FROM q GROUP BY doc_id),
lens AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS BIGINT)
           AS dl
  FROM documents),
stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
              AS BIGINT) AS total_len
  FROM documents),
dfs AS (
  SELECT
{df_cols}
  FROM q)
SELECT doc_id, round({score}, 6) AS bm25
FROM per_doc JOIN lens USING (doc_id) CROSS JOIN stats CROSS JOIN dfs
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOPK}
"""


def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.token_entropy(docs, "doc_id", "text")


ORACLE_DOC_TOKEN_ENTROPY = f"""
WITH {_TC_SQL},
per AS (
  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
         SUM(CAST(round(tf * round(ln(CAST(tf AS DOUBLE)), 6), 6)
                  AS DECIMAL(28,6))) AS wsum
  FROM tfs GROUP BY doc_id)
SELECT doc_id, n_tok,
       round(round(ln(CAST(n_tok AS DOUBLE)), 6)
             - CAST(wsum AS DOUBLE) / n_tok, 6) AS entropy
FROM per
"""




# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries) and weighted sampling (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------
MG_K = 31
WDS_K = 20
WDS_SALT = "wds1"


def q_frequent_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sketch_ops.frequent_terms(docs, "doc_id", "text", k=MG_K)


ORACLE_FREQUENT_TERMS = f"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents),
c AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_total FROM toks)
SELECT term, CAST(tf AS BIGINT) AS tf
FROM c CROSS JOIN n WHERE tf * {MG_K} > n_total
"""


def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.weighted_sample_topk(
        docs, "doc_id", "n_chars", WDS_K, salt=WDS_SALT
    ).select("doc_id", "n_chars", "es_score")


ORACLE_WEIGHTED_DOC_SAMPLE = f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         round(ln((CAST(CAST(('0x' || substr(md5('{WDS_SALT}'
                    || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
                   + 0.5) / {float(1 << 60)!r}), 6)
           / CAST(n_chars AS DOUBLE) AS es_score
  FROM documents WHERE n_chars > 0)
SELECT doc_id, n_chars, es_score
FROM scored ORDER BY es_score DESC, doc_id
LIMIT {WDS_K}
"""




# ---------------------------------------------------------------------------
# Corpus version diff
# ---------------------------------------------------------------------------
CD_SALT = "cdiff"


def q_corpus_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit delta between two simulated corpus snapshots: `old` = the
    low 90% of the hash-bucket space, `new` = the high 90% with docs in
    the top fifth of the overlap rewritten — exercising all four diff
    statuses deterministically in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    b = sampling_ops.sample_bucket(F.col("doc_id"), CD_SALT)
    old = docs.filter(b < 900_000)
    new = docs.filter(b >= 100_000).withColumn(
        "text",
        F.when(b >= 700_000, F.concat(F.col("text"), F.lit(" v2"))).otherwise(
            F.col("text")
        ),
    )
    return (
        dedup_ops.corpus_diff(old, new, "doc_id", "text")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_CORPUS_DIFF_SUMMARY = f"""
WITH b AS (
  SELECT doc_id, text, {_bucket_of('doc_id', CD_SALT)} AS bucket
  FROM documents),
old AS (
  SELECT doc_id, md5({_NORM}) AS fp_old FROM b WHERE bucket < 900000),
new AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(
             CASE WHEN bucket >= 700000 THEN text || ' v2' ELSE text END),
             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp_new
  FROM b WHERE bucket >= 100000),
diff AS (
  SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
         CASE WHEN fp_old IS NULL THEN 'added'
              WHEN fp_new IS NULL THEN 'removed'
              WHEN fp_old <> fp_new THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id)
SELECT status, COUNT(*) AS n_docs FROM diff GROUP BY status
"""



# ---------------------------------------------------------------------------
# Leakage-safe split: assign train/valid/test by near-dup CLUSTER
# ---------------------------------------------------------------------------
LS_SALT = "leak-v1"


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split assignment keyed on the near-dup component id instead of the
    doc id: every member of a cluster lands in the same split, so a
    near-duplicate of a training document can never leak into test —
    the standard fix for contamination-by-construction (splitting by doc
    id interleaves near-dup rewrites across splits; see
    `train_test_contamination` for the detector this prevents)."""
    clusters = _dedup_labels(spark, sf_dir)
    assigned = sampling_ops.deterministic_split(
        clusters, "component_id", SPLIT_FRACTIONS, LS_SALT
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component_id").alias("n_components"),
    )


def _leakage_split_oracle() -> str:
    cases, hi = [], 0
    for name, frac in SPLIT_FRACTIONS.items():
        hi += int(round(frac * 1_000_000))
        cases.append(f"WHEN b < {hi} THEN '{name}'")
    case_sql = " ".join(cases)
    return f"""
{_CC_CTES},
assigned AS (
  SELECT doc_id, component_id,
         CASE {case_sql} ELSE NULL END AS split
  FROM (SELECT doc_id, component_id,
               {_bucket_of('component_id', LS_SALT)} AS b
        FROM comps))
SELECT split, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT component_id) AS BIGINT) AS n_components
FROM assigned GROUP BY split
"""



# ---------------------------------------------------------------------------
# Embedding cluster diagnostics
# ---------------------------------------------------------------------------
EMB_DIM = 64


def q_embedding_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.cluster_stats(emb, "embedding", "label")


ORACLE_EMBEDDING_CLUSTER_STATS = f"""
WITH ex AS (
  SELECT label, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, {EMB_DIM})) AS t(i)),
per_dim AS (
  SELECT label, dim, SUM(CAST(val AS DECIMAL(38,10))) AS s, COUNT(*) AS n
  FROM ex GROUP BY label, dim),
cent AS (
  SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS centroid,
         MAX(n) AS n_vectors
  FROM per_dim GROUP BY label),
scored AS (
  SELECT e.label,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), centroid)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(centroid, centroid))), 6) AS cos_c
  FROM embeddings e JOIN cent USING (label)),
agg AS (
  SELECT label, SUM(CAST(cos_c AS DECIMAL(28,6))) AS sc, COUNT(*) AS n_rows
  FROM scored GROUP BY label)
SELECT c.label, CAST(c.n_vectors AS BIGINT) AS n_vectors,
       round(sqrt(list_dot_product(centroid, centroid)), 6) AS centroid_norm,
       round(CAST(sc AS DOUBLE) / a.n_rows, 6) AS mean_cos
FROM cent c JOIN agg a USING (label)
"""




# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means
# ---------------------------------------------------------------------------
KM_K = 6
KM_ITERS = 3


def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.kmeans_assign(emb, k=KM_K, iters=KM_ITERS)


def _kmeans_cte_parts(
    k: int | str, iters: int, dim: int, src: str = "embeddings"
) -> list[str]:
    """Unrolled Lloyd rounds as chained CTEs — the fixed, small `iters`
    makes the oracle expressible without recursion; every round mirrors
    the Spark op's rounding/tie-break exactly. The final assignment CTE
    is ``assign_{iters}``; reused by the trained-IVF oracle. ``src``
    names the training table/CTE (a filtered base for the incremental
    oracles). ``k`` may be a SQL scalar expression (e.g. a COUNT(*)
    subquery) — only the seed predicate consumes it, so a k DERIVED
    from the corpus size stays oracle-expressible (VERDICT r10 #1)."""
    parts = [
        f"cent_0 AS (SELECT CAST(vec_id AS INT) AS cid,"
        f" CAST(embedding AS DOUBLE[]) AS cvec FROM {src}"
        f" WHERE vec_id < {k})"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""scored_{i} AS (
  SELECT e.vec_id, c.cid,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cvec)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS sim
  FROM {src} e CROSS JOIN cent_{i - 1} c)"""
        )
        parts.append(
            f"""assign_{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
    FROM scored_{i}) WHERE rn = 1)"""
        )
        if i < iters:
            parts.append(
                f"""ex_{i} AS (
  SELECT a.cid, t.i AS dim, CAST(e.embedding[t.i] AS DOUBLE) AS val
  FROM assign_{i} a JOIN {src} e USING (vec_id),
       unnest(generate_series(1, {dim})) AS t(i))"""
            )
            parts.append(
                f"""cent_{i} AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cvec
  FROM (SELECT cid, dim, SUM(CAST(val AS DECIMAL(38,10))) AS s,
               COUNT(*) AS n
        FROM ex_{i} GROUP BY cid, dim) GROUP BY cid)"""
            )
    return parts


def _kmeans_oracle(k: int = KM_K, iters: int = KM_ITERS, dim: int = EMB_DIM) -> str:
    parts = _kmeans_cte_parts(k, iters, dim)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT vec_id, CAST(cid AS BIGINT) AS cid FROM assign_{iters}"
    )


# ---------------------------------------------------------------------------
# Trained-IVF ANN (Lloyd-trained coarse quantizer + bucketed exact search)
# ---------------------------------------------------------------------------
IVF_TRAINED_K = 6
IVF_TRAINED_ITERS = 2


def q_embedding_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production IVF shape: coarse quantizer trained with Lloyd rounds
    (`kmeans_assign`), then nprobe=1 bucket search with exact cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_trained_topk(
        emb, QUERY_VEC_ID, TOPK, IVF_TRAINED_K, IVF_TRAINED_ITERS
    )


def _ivf_trained_oracle(
    k: int = IVF_TRAINED_K, iters: int = IVF_TRAINED_ITERS, dim: int = EMB_DIM
) -> str:
    ctes = ",\n".join(_kmeans_cte_parts(k, iters, dim))
    return f"""WITH {ctes}
SELECT vec_id, rank, cos_sim FROM (
  SELECT e.vec_id,
         ROW_NUMBER() OVER (ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank,
         ROUND({_COS_Q_SQL}, 4) AS cos_sim
  FROM embeddings e
  JOIN assign_{iters} a ON a.vec_id = e.vec_id,
       (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q,
       (SELECT cid AS qbucket FROM assign_{iters}
        WHERE vec_id = {QUERY_VEC_ID}) qb
  WHERE e.vec_id != {QUERY_VEC_ID}
    AND a.cid = qb.qbucket)
WHERE rank <= {TOPK}
"""


# ---------------------------------------------------------------------------
# Stored ANN index artifacts: train once → persist → reload → serve.
# The "at 100 TB the index is precomputed + stored" claim as a tested
# write/read path, not just a docstring: the IVF (vec_id, cid) assignment
# and the PQ (subspace, cid, cvec) codebook are materialized to parquet
# (fingerprint-guarded on embeddings.parquet, the `_knn_edges_cached`
# pattern), read BACK from disk, and handed to the serving operators.
# Training is deterministic end to end (decimal-exact centroid sums,
# seeded codebooks, smaller-id tie-breaks), so both queries share their
# in-plan twins' oracles — the driver hash gate IS the proof that the
# persisted path returns bit-identical results.
# ---------------------------------------------------------------------------
def _ivf_index_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return sim_ops.kmeans_assign(
            emb, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
        )

    return materialize_summary(
        spark,
        # training params in the artifact name: a later constant change
        # must rebuild, never serve the old-k index (review finding r7)
        summary_path(
            f"ivf_index_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}.parquet",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_ivf_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_ivf_trained_topk` served from the PERSISTED index:
    the (vec_id, cid) assignment is trained once, written to parquet,
    reloaded, and joined back onto the vectors — zero Lloyd rounds at
    query time. Same oracle as the in-plan twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_trained_topk(
        emb, QUERY_VEC_ID, TOPK, IVF_TRAINED_K, IVF_TRAINED_ITERS,
        index=_ivf_index_cached(spark, sf_dir),
    )


def _pq_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return sim_ops.pq_codebooks(
            emb, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS
        )

    return materialize_summary(
        spark,
        summary_path(
            f"pq_codebook_{sf_name}"
            f"_m{PQ_SUBSPACES}d{PQ_SUB_DIM}c{PQ_CENTROIDS}.parquet",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_pq_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_pq_topk` served from the PERSISTED codebook frame —
    the ADC scan reads stored (subspace, cid, cvec) rows instead of
    re-deriving them from the corpus. Same oracle as the in-plan twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.pq_topk(
        emb, QUERY_VEC_ID, TOPK, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS,
        codebooks=_pq_codebook_cached(spark, sf_dir),
    )


# ---------------------------------------------------------------------------
# IVF-PQ composite ANN (IVFADC — the FAISS billion-scale index shape):
# trained coarse cells route the search, PQ codes of the RESIDUALS score
# the candidates. Completes the ANN family: IVF alone scans raw vectors
# in one cell; PQ alone scans codes of the whole corpus; IVFADC scans
# codes of nprobe cells. Coarse params shared with the trained-IVF
# queries so the stored variant reuses the persisted (vec_id, cid)
# assignment artifact unchanged.
# ---------------------------------------------------------------------------
IVFPQ_NPROBE = 2


def q_embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan IVFADC: Lloyd-trained coarse cells (same k/iters as
    `embedding_ivf_trained_topk`), residual PQ codebooks seeded from the
    first `PQ_CENTROIDS` residuals, nprobe-cell ADC scan. The oracle
    unrolls the coarse Lloyd rounds PLUS the final centroid recompute
    (residuals need the centroids the assignment was averaged into),
    then re-derives residuals, codebooks, probe set, and the ADC sum
    from first principles."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_pq_topk(
        emb,
        QUERY_VEC_ID,
        TOPK,
        n_cells=IVF_TRAINED_K,
        coarse_iters=IVF_TRAINED_ITERS,
        nprobe=IVFPQ_NPROBE,
        n_subspaces=PQ_SUBSPACES,
        sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CENTROIDS,
    )


def _coarse_cte_parts_with_final(
    k: int, iters: int, dim: int, src: str = "embeddings"
) -> list[str]:
    """`_kmeans_cte_parts` plus the FINAL centroid recompute
    (``ex_{iters}``/``cent_{iters}``) that the trained-IVF oracle never
    needs but residual quantization does: Spark's `kmeans_fit`
    returns the centroids recomputed from the final assignment, and the
    residual of every vector is taken against exactly those."""
    parts = _kmeans_cte_parts(k, iters, dim, src)
    parts.append(
        f"""ex_{iters} AS (
  SELECT a.cid, t.i AS dim, CAST(e.embedding[t.i] AS DOUBLE) AS val
  FROM assign_{iters} a JOIN {src} e USING (vec_id),
       unnest(generate_series(1, {dim})) AS t(i))"""
    )
    parts.append(
        f"""cent_{iters} AS (
  SELECT cid, list(CAST(s AS DOUBLE) / n ORDER BY dim) AS cvec
  FROM (SELECT cid, dim, SUM(CAST(val AS DECIMAL(38,10))) AS s,
               COUNT(*) AS n
        FROM ex_{iters} GROUP BY cid, dim) GROUP BY cid)"""
    )
    return parts


def _ivfpq_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nprobe: int = IVFPQ_NPROBE,
    m: int = PQ_SUBSPACES,
    d: int = PQ_SUB_DIM,
    kc: int = PQ_CENTROIDS,
) -> str:
    qid = QUERY_VEC_ID
    sub = lambda col, i: f"{col}[{1 + i * d}:{(i + 1) * d}]"  # noqa: E731
    parts = _coarse_cte_parts_with_final(k, iters, dim)
    parts.append(
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings)"
    )
    parts.append(f"q AS (SELECT e FROM v WHERE vec_id = {qid})")
    # residuals against the FINAL recomputed centroids
    parts.append(
        f"""res AS (
  SELECT a.vec_id, a.cid,
         list(CAST(e.embedding[t.i] AS DOUBLE) - c.cvec[t.i]
              ORDER BY t.i) AS r
  FROM assign_{iters} a JOIN embeddings e USING (vec_id)
       JOIN cent_{iters} c ON c.cid = a.cid,
       unnest(generate_series(1, {dim})) AS t(i)
  GROUP BY a.vec_id, a.cid)"""
    )
    # nprobe nearest cells by query·centroid (6-dp round, smaller-cid tie)
    parts.append(
        f"""qc AS (
  SELECT c.cid, round(list_dot_product(c.cvec, q.e), 6) AS qcd
  FROM cent_{iters} c, q)"""
    )
    parts.append(
        f"""probe AS (
  SELECT cid, qcd FROM (
    SELECT cid, qcd,
           row_number() OVER (ORDER BY qcd DESC, cid) AS rn
    FROM qc) WHERE rn <= {nprobe})"""
    )
    parts.append(
        f"""cand AS (
  SELECT r.vec_id, r.r, p.qcd
  FROM res r JOIN probe p ON p.cid = r.cid
  WHERE r.vec_id != {qid})"""
    )
    for i in range(m):
        parts.append(
            f"""book{i} AS (
  SELECT CAST(vec_id AS INT) AS bcid, {sub('r', i)} AS cvec
  FROM res WHERE vec_id < {kc})"""
        )
        parts.append(
            f"""qd{i} AS (
  SELECT b.bcid,
         round(list_dot_product(b.cvec, {sub('q.e', i)}), 6) AS qd
  FROM book{i} b, q)"""
        )
        parts.append(
            f"""sims{i} AS (
  SELECT c.vec_id, b.bcid,
         round(list_dot_product({sub('c.r', i)}, b.cvec), 6) AS s
  FROM cand c, book{i} b)"""
        )
        parts.append(
            f"""best{i} AS (
  SELECT vec_id, bcid FROM (
    SELECT vec_id, bcid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, bcid) AS rn
    FROM sims{i}) WHERE rn = 1)"""
        )
    joins = " ".join(
        f"JOIN best{i} b{i} ON b{i}.vec_id = c.vec_id "
        f"JOIN qd{i} t{i} ON t{i}.bcid = b{i}.bcid"
        for i in range(m)
    )
    ip_sum = "c.qcd + " + " + ".join(f"t{i}.qd" for i in range(m))
    parts.append(
        f"""approx AS (
  SELECT c.vec_id, round({ip_sum}, 6) AS approx_ip
  FROM cand c {joins})"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT vec_id, rank, approx_ip FROM (
  SELECT vec_id,
         ROW_NUMBER() OVER (ORDER BY approx_ip DESC, vec_id) AS rank,
         approx_ip
  FROM approx)
WHERE rank <= {TOPK}
"""


def _ivf_centroids_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return sim_ops.kmeans_centroids(
            emb, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
        )

    return materialize_summary(
        spark,
        summary_path(
            f"ivf_cents_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}"
            ".parquet",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def _ivf_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding − its trained IVF centroid): the one residual
    derivation behind the stored residual codebooks and code table. The
    assignment + centroids come from one in-plan Lloyd fit
    (deterministic, so independent rebuilds of the stored artifacts stay
    mutually consistent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = sim_ops.kmeans_fit(
        emb, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
    )
    return assigned.join(F.broadcast(cents), "cid").select(
        "vec_id",
        F.zip_with(
            F.col("embedding"),
            F.col("cvec"),
            lambda a, b: a.cast("double") - b,
        ).alias("embedding"),
    )


def _ivfpq_books_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual PQ codebooks as a persisted artifact, seeded from the
    first `PQ_CENTROIDS` residuals — exactly what `ivf_pq_topk` does
    when `codebooks=None`."""
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        return sim_ops.pq_codebooks(
            _ivf_residuals(spark, sf_dir), PQ_SUBSPACES, PQ_SUB_DIM,
            PQ_CENTROIDS,
        )

    return materialize_summary(
        spark,
        summary_path(
            f"ivfpq_books_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}"
            f"_m{PQ_SUBSPACES}d{PQ_SUB_DIM}c{PQ_CENTROIDS}.parquet",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_ivfpq_stored_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`embedding_ivfpq_topk` served ENTIRELY from persisted artifacts:
    the (vec_id, cid) assignment (SHARED with `ivf_stored_topk` — same
    k/iters, same parquet file), the (cid, cvec) centroid frame, and
    the residual (subspace, cid, cvec) codebooks. Zero Lloyd rounds and
    zero codebook derivation at query time; training determinism makes
    the result bit-identical to the in-plan twin, so both share one
    oracle — the driver hash gate IS the stored-path proof."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ivf_pq_topk(
        emb,
        QUERY_VEC_ID,
        TOPK,
        n_cells=IVF_TRAINED_K,
        coarse_iters=IVF_TRAINED_ITERS,
        nprobe=IVFPQ_NPROBE,
        n_subspaces=PQ_SUBSPACES,
        sub_dim=PQ_SUB_DIM,
        n_codes=PQ_CENTROIDS,
        index=_ivf_index_cached(spark, sf_dir),
        centroids=_ivf_centroids_cached(spark, sf_dir),
        codebooks=_ivfpq_books_cached(spark, sf_dir),
    )


SERVE_N_QUERIES = 3
SERVE_TOPK = 5


def q_ivf_batch_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving from the stored IVF artifacts: a FRAME of query
    vectors (the first `SERVE_N_QUERIES` embeddings standing in for an
    external request batch) each routed by the persisted centroids and
    scored against its cell's members from the persisted assignment —
    `ivf_serve_topk`, the multi-query serving shape the streaming twin
    (`streaming.serve.ann_serve_stream`) applies per micro-batch. Zero
    training at query time."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.ivf_serve_topk(
        queries,
        emb,
        index=_ivf_index_cached(spark, sf_dir),
        centroids=_ivf_centroids_cached(spark, sf_dir),
        k=SERVE_TOPK,
    )


def _ivf_serve_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nq: int = SERVE_N_QUERIES,
    topk: int = SERVE_TOPK,
) -> str:
    """Re-derives training from first principles (Lloyd rounds + the
    final centroid recompute the stored artifacts contain), then the
    serving convention: corpus cells from the stored assignment
    (``assign_{iters}``), query routing by argmax 6-dp cosine against
    the stored centroids (``cent_{iters}``), 4-dp exact scores, rank
    ties toward the smaller corpus id."""
    cos_qc = (
        "round(list_dot_product(q.qe, c.cvec)"
        " / (sqrt(list_dot_product(q.qe, q.qe))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    ctes = ",\n".join(_coarse_cte_parts_with_final(k, iters, dim))
    return f"""
WITH {ctes},
qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq}),
qscore AS (
  SELECT q.query_id, c.cid, {cos_qc} AS sim
  FROM qs q CROSS JOIN cent_{iters} c),
qbucket AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, cid) AS rn
    FROM qscore) WHERE rn = 1),
scored AS (
  SELECT qb.query_id, e.vec_id, {cos_qe} AS cos_sim
  FROM qbucket qb
  JOIN assign_{iters} a ON a.cid = qb.cid
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN qs q ON q.query_id = qb.query_id)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= {topk}
"""


REFINE_R = 20


def _ivfadc_codes_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored PQ CODE TABLE (id, codes) over RESIDUALS — the
    artifact that makes ADC scans read m ints/vector instead of the
    vector. It encodes the `_ivf_residuals` that `_ivfpq_books_cached`
    trains on, so codes, codebooks, assignment, and centroids stay
    mutually consistent across independent rebuilds (training is
    deterministic end to end)."""
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        res = _ivf_residuals(spark, sf_dir)
        books = sim_ops.pq_codebooks(
            res, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS
        )
        return sim_ops.pq_encode(res, books, PQ_SUBSPACES, PQ_SUB_DIM)

    return materialize_summary(
        spark,
        summary_path(
            f"ivfadc_codes_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}"
            f"_m{PQ_SUBSPACES}d{PQ_SUB_DIM}c{PQ_CENTROIDS}.parquet",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_ivfadc_refine_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete billion-scale serving funnel over STORED artifacts
    only: route (stored centroids) → ADC scan of the routed cell's
    STORED CODE ROWS (assignment + code table — no vector reads) →
    top-`REFINE_R` shortlist fetches real vectors for exact cosine →
    top-`SERVE_TOPK`. Four persisted artifacts compose; zero training
    at query time; the oracle re-derives every stage from first
    principles."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.ivfadc_refine_topk(
        queries,
        emb,
        index=_ivf_index_cached(spark, sf_dir),
        centroids=_ivf_centroids_cached(spark, sf_dir),
        codebooks=_ivfpq_books_cached(spark, sf_dir),
        codes=_ivfadc_codes_cached(spark, sf_dir),
        k=SERVE_TOPK,
        refine=REFINE_R,
        n_subspaces=PQ_SUBSPACES,
        sub_dim=PQ_SUB_DIM,
    )


def q_ivfadc_stream_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMED IVFADC refine funnel's batch twin (round 9): the
    query batch arrives as three disjoint micro-batches, each pushed
    through the full stored-artifact funnel exactly as
    `streaming.serve.ivfadc_serve_sink` applies it per foreachBatch
    trigger, and the per-batch results union. Scoring is stateless per
    query, so the union must equal the whole-batch funnel — this query
    shares `ivfadc_refine_serve`'s first-principles oracle, making the
    foreachBatch equivalence claim hash-gated (the writeStream wiring
    itself is pinned by tests/test_streaming.py's stream==batch twin)."""
    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_cached(spark, sf_dir)
    cents = _ivf_centroids_cached(spark, sf_dir)
    books = _ivfpq_books_cached(spark, sf_dir)
    codes = _ivfadc_codes_cached(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    parts = [
        sim_ops.ivfadc_refine_topk(
            queries.filter(F.col("query_id") % 3 == j),
            emb,
            index=index,
            centroids=cents,
            codebooks=books,
            codes=codes,
            k=SERVE_TOPK,
            refine=REFINE_R,
            n_subspaces=PQ_SUBSPACES,
            sub_dim=PQ_SUB_DIM,
        )
        for j in range(3)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _ivfadc_refine_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nq: int = SERVE_N_QUERIES,
    topk: int = SERVE_TOPK,
    refine: int = REFINE_R,
    m: int = PQ_SUBSPACES,
    d: int = PQ_SUB_DIM,
    kc: int = PQ_CENTROIDS,
) -> str:
    sub = lambda col, i: f"{col}[{1 + i * d}:{(i + 1) * d}]"  # noqa: E731
    cos_qc = (
        "round(list_dot_product(q.qe, c.cvec)"
        " / (sqrt(list_dot_product(q.qe, q.qe))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    parts = _coarse_cte_parts_with_final(k, iters, dim)
    parts.append(
        f"""res AS (
  SELECT a.vec_id, a.cid,
         list(CAST(e.embedding[t.i] AS DOUBLE) - c.cvec[t.i]
              ORDER BY t.i) AS r
  FROM assign_{iters} a JOIN embeddings e USING (vec_id)
       JOIN cent_{iters} c ON c.cid = a.cid,
       unnest(generate_series(1, {dim})) AS t(i)
  GROUP BY a.vec_id, a.cid)"""
    )
    parts.append(
        f"""qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq})"""
    )
    # routing by the SERVING rule (cosine), coarse ADC term by dot
    parts.append(
        f"""qroute AS (
  SELECT query_id, cid AS qcell FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qc} DESC, c.cid) AS rn
    FROM qs q CROSS JOIN cent_{iters} c) WHERE rn = 1)"""
    )
    parts.append(
        f"""qcd AS (
  SELECT r.query_id, round(list_dot_product(q.qe, c.cvec), 6) AS qcd
  FROM qroute r JOIN qs q USING (query_id)
  JOIN cent_{iters} c ON c.cid = r.qcell)"""
    )
    for i in range(m):
        parts.append(
            f"""book{i} AS (
  SELECT CAST(vec_id AS INT) AS bcid, {sub('r', i)} AS cvec
  FROM res WHERE vec_id < {kc})"""
        )
        parts.append(
            f"""qd{i} AS (
  SELECT q.query_id, b.bcid,
         round(list_dot_product(b.cvec, {sub('q.qe', i)}), 6) AS qd
  FROM book{i} b CROSS JOIN qs q)"""
        )
        parts.append(
            f"""cbest{i} AS (
  SELECT vec_id, bcid FROM (
    SELECT x.vec_id, b.bcid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY round(list_dot_product(
                                  {sub('x.r', i)}, b.cvec), 6) DESC,
                              b.bcid) AS rn
    FROM res x, book{i} b) WHERE rn = 1)"""
        )
    joins = " ".join(
        f"JOIN cbest{i} b{i} ON b{i}.vec_id = a.vec_id "
        f"JOIN qd{i} t{i} ON t{i}.bcid = b{i}.bcid"
        f" AND t{i}.query_id = r.query_id"
        for i in range(m)
    )
    ip_sum = "g.qcd + " + " + ".join(f"t{i}.qd" for i in range(m))
    parts.append(
        f"""approx AS (
  SELECT r.query_id, a.vec_id, round({ip_sum}, 6) AS approx_ip
  FROM qroute r
  JOIN assign_{iters} a ON a.cid = r.qcell
  JOIN qcd g ON g.query_id = r.query_id
  {joins})"""
    )
    parts.append(
        f"""shortlist AS (
  SELECT query_id, vec_id, approx_ip FROM (
    SELECT query_id, vec_id, approx_ip,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY approx_ip DESC, vec_id) AS rn
    FROM approx) WHERE rn <= {refine})"""
    )
    parts.append(
        f"""refined AS (
  SELECT s.query_id, s.vec_id, s.approx_ip, {cos_qe} AS cos_sim
  FROM shortlist s
  JOIN embeddings e ON e.vec_id = s.vec_id
  JOIN qs q ON q.query_id = s.query_id)"""
    )
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes}
SELECT query_id, vec_id, rank, cos_sim, approx_ip FROM (
  SELECT query_id, vec_id, cos_sim, approx_ip,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM refined)
WHERE rank <= {topk}
"""


NPROBE_SWEEP = (1, 2, 4)


def q_ivf_nprobe_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning table (round 9) — `lsh_plan_eval`'s
    pick-the-knob-from-data move applied to IVF serving: for each
    candidate nprobe, serve the whole query batch over the STORED
    index probing that many cells and measure recall@k against the
    exact cosine ranking. One row per nprobe: ``(nprobe, n_queries,
    total_hits, mean_recall, min_recall)``. All ratios are
    integer-over-integer (hits are counts, denominators are k·|Q|), so
    both engines compute identical doubles — the recall/cost dial is
    itself hash-gated. The exact side is derived once and shared by
    every sweep point."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    index = _ivf_index_cached(spark, sf_dir)
    cents = _ivf_centroids_cached(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                f"round({sim_ops.cosine_sql('embedding', '_qv')}, 4)"
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= SERVE_TOPK)
        .select("query_id", "vec_id")
        .persist()
    )
    # ONE candidate join at max(nprobe) with the probe rank kept; each
    # sweep point is a filter over it (cells partition the corpus, so
    # filter(cell_rank <= np) + the same rank window IS serving at np —
    # `ivf_probe_scored`). Replaces |sweep| serve funnels with one
    # shared scored frame (r11; guide §2.3); checkpointed because every
    # sweep point re-reads it.
    scored_all = sim_ops.ivf_probe_scored(
        queries.select("query_id", F.col("_qv").alias("embedding")),
        emb,
        index,
        cents,
        nprobe=max(NPROBE_SWEEP),
    ).persist()
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    out = None
    for np_ in NPROBE_SWEEP:
        served = (
            scored_all.filter(F.col("cell_rank") <= np_)
            .withColumn("_rk", F.row_number().over(wk))
            .filter(F.col("_rk") <= SERVE_TOPK)
            .select("query_id", "vec_id")
        )
        per_q = (
            queries.select("query_id")
            .join(
                served.join(exact, ["query_id", "vec_id"])
                .groupBy("query_id")
                .agg(F.count(F.lit(1)).alias("_h")),
                "query_id",
                "left",
            )
            .select(
                "query_id",
                F.coalesce(F.col("_h"), F.lit(0)).alias("_h"),
            )
        )
        row = per_q.agg(
            F.lit(np_).cast("int").alias("nprobe"),
            F.count(F.lit(1)).alias("n_queries"),
            F.sum("_h").cast("bigint").alias("total_hits"),
            F.round(
                F.sum("_h").cast("double")
                / (F.count(F.lit(1)) * SERVE_TOPK),
                6,
            ).alias("mean_recall"),
            F.round(
                F.min("_h").cast("double") / SERVE_TOPK, 6
            ).alias("min_recall"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _ivf_nprobe_sweep_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nq: int = SERVE_N_QUERIES,
    topk: int = SERVE_TOPK,
    sweep: tuple[int, ...] = NPROBE_SWEEP,
) -> str:
    cos_qc = (
        "round(list_dot_product(q.qe, c.cvec)"
        " / (sqrt(list_dot_product(q.qe, q.qe))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    parts = _coarse_cte_parts_with_final(k, iters, dim)
    parts.append(
        f"""qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq})"""
    )
    parts.append(
        f"""qrank AS (
  SELECT q.query_id, c.cid,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY {cos_qc} DESC, c.cid) AS crn
  FROM qs q CROSS JOIN cent_{iters} c)"""
    )
    parts.append(
        f"""exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qe} DESC, e.vec_id) AS rn
    FROM qs q CROSS JOIN embeddings e) WHERE rn <= {topk})"""
    )
    point_sqls = []
    for np_ in sweep:
        parts.append(
            f"""served_{np_} AS (
  SELECT query_id, vec_id FROM (
    SELECT r.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY r.query_id
                              ORDER BY {cos_qe} DESC, e.vec_id) AS rn
    FROM (SELECT query_id, cid FROM qrank WHERE crn <= {np_}) r
    JOIN assign_{iters} a ON a.cid = r.cid
    JOIN embeddings e ON e.vec_id = a.vec_id
    JOIN qs q ON q.query_id = r.query_id) WHERE rn <= {topk})"""
        )
        parts.append(
            f"""hits_{np_} AS (
  SELECT q.query_id, COALESCE(h.n, 0) AS n_hits
  FROM qs q LEFT JOIN (
    SELECT s.query_id, COUNT(*) AS n
    FROM served_{np_} s JOIN exact x
      ON x.query_id = s.query_id AND x.vec_id = s.vec_id
    GROUP BY 1) h USING (query_id))"""
        )
        point_sqls.append(
            f"""SELECT CAST({np_} AS INT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(n_hits) AS BIGINT) AS total_hits,
       round(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * {topk}), 6)
         AS mean_recall,
       round(CAST(MIN(n_hits) AS DOUBLE) / {topk}, 6) AS min_recall
FROM hits_{np_}"""
        )
    ctes = ",\n".join(parts)
    union = "\nUNION ALL\n".join(point_sqls)
    return f"\nWITH {ctes}\n{union}\n"


def q_pq_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace quantization distortion of the stored IVFADC layout
    (round 9): mean/max squared reconstruction error of the persisted
    residual code table against the residuals it encodes — the
    artifact-quality number behind `ivfadc_recall_eval`'s recall (codes
    only serve as well as the residual energy they capture) and the
    retrain trigger when corpus drift pushes distortion up. The oracle
    re-derives training, residuals, codeword choice, and the exact
    decimal error fold from first principles."""
    return sim_ops.pq_distortion_report(
        _ivf_residuals(spark, sf_dir),
        _ivfpq_books_cached(spark, sf_dir),
        _ivfadc_codes_cached(spark, sf_dir),
        PQ_SUBSPACES,
        PQ_SUB_DIM,
    )


def _pq_distortion_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    m: int = PQ_SUBSPACES,
    d: int = PQ_SUB_DIM,
    kc: int = PQ_CENTROIDS,
) -> str:
    sub = lambda col, i: f"{col}[{1 + i * d}:{(i + 1) * d}]"  # noqa: E731
    parts = _coarse_cte_parts_with_final(k, iters, dim)
    parts.append(
        f"""res AS (
  SELECT a.vec_id, a.cid,
         list(CAST(e.embedding[t.i] AS DOUBLE) - c.cvec[t.i]
              ORDER BY t.i) AS r
  FROM assign_{iters} a JOIN embeddings e USING (vec_id)
       JOIN cent_{iters} c ON c.cid = a.cid,
       unnest(generate_series(1, {dim})) AS t(i)
  GROUP BY a.vec_id, a.cid)"""
    )
    err_selects = []
    for i in range(m):
        parts.append(
            f"""book{i} AS (
  SELECT CAST(vec_id AS INT) AS bcid, {sub('r', i)} AS cvec
  FROM res WHERE vec_id < {kc})"""
        )
        parts.append(
            f"""cbest{i} AS (
  SELECT vec_id, bcid FROM (
    SELECT x.vec_id, b.bcid,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY round(list_dot_product(
                                  {sub('x.r', i)}, b.cvec), 6) DESC,
                              b.bcid) AS rn
    FROM res x, book{i} b) WHERE rn = 1)"""
        )
        diff = (
            f"list_transform(generate_series(1, {d}), "
            f"j -> x.r[{i * d} + j] - b.cvec[j])"
        )
        parts.append(
            f"""err{i} AS (
  SELECT x.vec_id, round(list_dot_product({diff}, {diff}), 6) AS se
  FROM res x
  JOIN cbest{i} c ON c.vec_id = x.vec_id
  JOIN book{i} b ON b.bcid = c.bcid)"""
        )
        err_selects.append(
            f"SELECT CAST({i} AS INT) AS subspace, se FROM err{i}"
        )
    union = "\nUNION ALL\n".join(err_selects)
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
allerr AS ({union})
SELECT subspace, CAST(COUNT(se) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN se IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unmatched,
       round(CAST(SUM(CAST(se AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(se), 6) AS mse,
       MAX(se) AS max_se
FROM allerr GROUP BY subspace
"""


def q_ivfadc_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the IVFADC refine funnel against the EXACT
    cosine ranking over the same query batch (round 9) — the
    measure-don't-guess audit for the approximate serving path: routing
    probes ONE cell and ADC quantizes, so recall < 1 is expected and
    this query puts the exact number under the hash gate (both engines
    re-derive the funnel AND the exact top-k, so the recall column is
    deterministic). Returns (query_id, n_hits, recall). The exact side
    scores the corpus against the BROADCAST query frame — map-side rows
    + WindowGroupLimit, no corpus shuffle; the funnel side reuses
    `ivfadc_refine_serve`'s plan."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
    )
    funnel = q_ivfadc_refine_serve(spark, sf_dir).select(
        "query_id", "vec_id"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("vec_id").asc()
    )
    exact = (
        emb.crossJoin(F.broadcast(queries))
        .select(
            "query_id",
            "vec_id",
            F.expr(
                f"round({sim_ops.cosine_sql('embedding', '_qv')}, 4)"
            ).alias("_cos"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= SERVE_TOPK)
        .select("query_id", "vec_id")
    )
    hits = funnel.join(exact, ["query_id", "vec_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
                / SERVE_TOPK,
                6,
            ).alias("recall"),
        )
    )


def _ivfadc_recall_oracle(
    nq: int = SERVE_N_QUERIES, topk: int = SERVE_TOPK
) -> str:
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    funnel = _ivfadc_refine_oracle().strip()
    return f"""
WITH funnel AS (
{funnel}
),
rq AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq}),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {cos_qe} DESC, e.vec_id) AS rn
    FROM rq q CROSS JOIN embeddings e) WHERE rn <= {topk}),
hits AS (
  SELECT f.query_id, COUNT(*) AS n_hits
  FROM funnel f JOIN exact x
    ON x.query_id = f.query_id AND x.vec_id = f.vec_id
  GROUP BY 1)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {topk}, 6) AS recall
FROM rq q LEFT JOIN hits h USING (query_id)
"""


INCR_DELTA_MOD = 10  # vec_id % 10 == 9 is the "newly ingested" cohort


def q_ivf_incremental_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance, served end to end: the coarse
    quantizer trains on the BASE cohort only (vec_id % 10 != 9); the
    held-out delta is then appended by `ivf_index_append` — routed to
    the FROZEN centroids by the serving rule, zero retraining — and a
    query batch is served over the merged assignment. The hash gate
    proves appended vectors are findable in exactly the cells queries
    probe, and that ingest cost tracked the delta (no Lloyd rounds ran
    over it — the oracle gives the delta no training CTEs)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % INCR_DELTA_MOD != 9)
    delta = emb.filter(F.col("vec_id") % INCR_DELTA_MOD == 9)
    # one shared Lloyd fit (r11): assignment + centroids from a single
    # loop — bit-identical to the two independent loops it replaces
    assigned, cents = sim_ops.kmeans_fit(
        base, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
    )
    index = assigned.select(
        "vec_id", F.col("cid").cast("bigint").alias("cid")
    )
    merged = sim_ops.ivf_index_append(index, delta, cents)
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.ivf_serve_topk(
        queries, emb, merged, cents, k=SERVE_TOPK
    )


def _ivf_incremental_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nq: int = SERVE_N_QUERIES,
    topk: int = SERVE_TOPK,
    mod: int = INCR_DELTA_MOD,
) -> str:
    cos_dc = (
        "round(list_dot_product(d.e, c.cvec)"
        " / (sqrt(list_dot_product(d.e, d.e))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qc = (
        "round(list_dot_product(q.qe, c.cvec)"
        " / (sqrt(list_dot_product(q.qe, q.qe))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    parts = [
        f"ivfb AS (SELECT * FROM embeddings WHERE vec_id % {mod} != {mod - 1})"
    ] + _coarse_cte_parts_with_final(k, iters, dim, src="ivfb")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
delta AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id % {mod} = {mod - 1}),
dscore AS (
  SELECT d.vec_id, c.cid, {cos_dc} AS sim
  FROM delta d CROSS JOIN cent_{iters} c),
dassign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid) AS rn
    FROM dscore) WHERE rn = 1),
merged AS (
  SELECT vec_id, cid FROM assign_{iters}
  UNION ALL SELECT vec_id, cid FROM dassign),
qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq}),
qscore AS (
  SELECT q.query_id, c.cid, {cos_qc} AS sim
  FROM qs q CROSS JOIN cent_{iters} c),
qbucket AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, cid) AS rn
    FROM qscore) WHERE rn = 1),
scored AS (
  SELECT qb.query_id, e.vec_id, {cos_qe} AS cos_sim
  FROM qbucket qb
  JOIN merged a ON a.cid = qb.cid
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN qs q ON q.query_id = qb.query_id)
SELECT query_id, vec_id, rank, cos_sim FROM (
  SELECT query_id, vec_id, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored)
WHERE rank <= {topk}
"""


def q_ivf_appended_store_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance through the STORED ingest path
    (round 9): the base cohort's Lloyd assignment seeds a versioned
    on-disk index store; the held-out delta then arrives as THREE
    micro-batches through `streaming.serve.ivf_ingest_sink` — each
    batch writing ONLY its routed delta rows and hardlinking the
    previous version's part-files forward, with the sink's
    auto-compaction threshold crossed mid-ingest — and a query batch
    is served from the committed store. Shares `ivf_incremental_serve`'s
    oracle: the hash gate proves the hardlink-append + compaction
    machinery is content-neutral end to end (appended vectors land in
    exactly the cells a full in-plan merge puts them, independent of
    the batch split and of how many compactions fired)."""
    from ..streaming.serve import read_ivf_index

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % INCR_DELTA_MOD != 9)
    cents = sim_ops.kmeans_centroids(
        base, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
    )
    path = _ivf_appended_store_cached(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    return sim_ops.ivf_serve_topk(
        queries, emb, read_ivf_index(spark, path), cents, k=SERVE_TOPK
    )


def _ivf_appended_store_cached(spark: SparkSession, sf_dir: str) -> str:
    """Build-or-reuse the versioned on-disk IVF store the appended-serve
    family reads: base-cohort Lloyd assignment as the seed version,
    then the held-out delta ingested as three micro-batches through
    `ivf_ingest_sink` (hardlink-appends + a mid-ingest compaction).
    Returns the store path. Shared by `ivf_appended_store_serve` and
    `ivf_cell_skew_profile` (round 10) — one store, two audits."""
    import os as _os
    import shutil as _shutil

    from ..sources.versioned import commit_version
    from ..streaming.serve import ivf_ingest_sink

    def build(path: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        base = emb.filter(F.col("vec_id") % INCR_DELTA_MOD != 9)
        delta = emb.filter(F.col("vec_id") % INCR_DELTA_MOD == 9)
        _shutil.rmtree(path, ignore_errors=True)
        # seed version: the base cohort's LLOYD assignment (training
        # output), exactly what the in-plan twin unions the delta onto
        # — one shared fit yields the ingest centroids too (r11)
        seed_lazy, cents = sim_ops.kmeans_fit(
            base, k=IVF_TRAINED_K, iters=IVF_TRAINED_ITERS
        )
        seed = seed_lazy.select(
            "vec_id", F.col("cid").cast("bigint").alias("cid")
        )

        def writer(vdir: str) -> None:
            seed.write.parquet(_os.path.join(vdir, "index"))

        commit_version(path, writer, {"last_batch_id": -1})
        sink = ivf_ingest_sink(path, cents, compact_files=16)
        for j in range(3):
            # three disjoint micro-batches covering vec_id % 10 == 9
            sink(delta.filter(F.col("vec_id") % 30 == 10 * j + 9), j)

    sf_name = _os.path.basename(sf_dir.rstrip("/"))
    # every derivation param in the path so a constant change can never
    # serve a store appended under the old ones
    return refresh_stored(
        summary_path(
            f"ivf_store_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}"
            f"m{INCR_DELTA_MOD}",
        ),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_ivf_cell_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-occupancy skew monitor over the APPENDED IVF store (round
    10; VERDICT r9 #3): frozen-centroid routing under drifting ingest
    piles vectors into few cells — probe cost grows as O(hot cell)
    while recall sweeps look fine, so the occupancy profile is the
    audit that feeds `ivf_ingest_sink(skew_ratio=)`'s retrain trigger.
    One row per trained cell: (cid, n_vectors, share, load_factor) over
    the stored assignment — the DuckDB twin re-derives the base Lloyd
    rounds, the delta's frozen-centroid routing, and the occupancy math
    from first principles, so the hash gate pins the monitor to the
    store the serve queries actually read."""
    from ..streaming.serve import read_ivf_index

    path = _ivf_appended_store_cached(spark, sf_dir)
    return sim_ops.ivf_cell_profile(
        read_ivf_index(spark, path), n_cells=IVF_TRAINED_K
    )


def _ivf_cell_skew_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    mod: int = INCR_DELTA_MOD,
) -> str:
    cos_dc = (
        "round(list_dot_product(d.e, c.cvec)"
        " / (sqrt(list_dot_product(d.e, d.e))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    parts = [
        f"ivfb AS (SELECT * FROM embeddings WHERE vec_id % {mod} != {mod - 1})"
    ] + _coarse_cte_parts_with_final(k, iters, dim, src="ivfb")
    ctes = ",\n".join(parts)
    return f"""
WITH {ctes},
delta AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id % {mod} = {mod - 1}),
dscore AS (
  SELECT d.vec_id, c.cid, {cos_dc} AS sim
  FROM delta d CROSS JOIN cent_{iters} c),
dassign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY sim DESC, cid) AS rn
    FROM dscore) WHERE rn = 1),
merged AS (
  SELECT vec_id, cid FROM assign_{iters}
  UNION ALL SELECT vec_id, cid FROM dassign),
counts AS (SELECT cid, COUNT(*) AS n FROM merged GROUP BY cid),
tot AS (SELECT SUM(n) AS t FROM counts)
SELECT CAST(cid AS BIGINT) AS cid, CAST(n AS BIGINT) AS n_vectors,
       round(CAST(n AS DOUBLE) / t, 6) AS share,
       round(CAST(n AS DOUBLE) * {k} / t, 6) AS load_factor
FROM counts, tot
"""


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy (CCNet-style quality ranking)
# ---------------------------------------------------------------------------
def q_doc_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.unigram_lm_scores(docs)


ORACLE_DOC_LM_SCORES = f"""
WITH {_TC_SQL},
lm AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS ctf FROM tfs GROUP BY term),
tot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS total FROM lm),
lp AS (SELECT term,
              round(ln(CAST(ctf AS DOUBLE) / CAST(total AS DOUBLE)), 6)
                AS logp
       FROM lm, tot),
contrib AS (
  SELECT f.doc_id, f.tf,
         CAST(round(f.tf * -lp.logp, 6) AS DECIMAL(28,6)) AS nll
  FROM tfs f JOIN lp USING (term))
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
         AS avg_neg_logp
FROM contrib GROUP BY doc_id
"""


def q_lm_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.lm_score_buckets(docs)


def _lm_buckets_oracle() -> str:
    scores = ORACLE_DOC_LM_SCORES.strip()
    return f"""
WITH scores AS ({scores}),
cuts AS (
  SELECT round(quantile_cont(avg_neg_logp, 0.25), 6) AS q1,
         round(quantile_cont(avg_neg_logp, 0.75), 6) AS q3
  FROM scores)
SELECT s.doc_id, s.n_tokens, s.avg_neg_logp,
       CASE WHEN s.avg_neg_logp <= c.q1 THEN 'head'
            WHEN s.avg_neg_logp > c.q3 THEN 'tail'
            ELSE 'middle' END AS lm_bucket
FROM scores s, cuts c
"""



# ---------------------------------------------------------------------------
# SemDeDup-style semantic near-duplicates (trained clusters prune pairs)
# ---------------------------------------------------------------------------
#: Σ|cluster|² ceiling for the declared semantic-near-dup query:
#: "auto" = SEMDEDUP_BUDGET_MARGIN × N²/k from the cluster histogram —
#: balanced clusters pass, a skew collapse toward one giant cluster
#: trips the guard loudly at EVERY sf. (A flat constant was dead
#: configuration: 5M exceeded even the total-collapse pair space at
#: every shipped scale factor, so it could never fire.)
SEMDEDUP_PAIR_BUDGET = "auto"


def q_semantic_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed k (not derived) so the unrolled k-means CTE oracle stays
    # engine-reproducible; the corpus-facing derived-k path
    # (n_clusters=None) is exercised by tests/test_graph.py.
    return dedup_ops.semantic_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=NEAR_DUP_COS,
        n_clusters=IVF_TRAINED_K,
        iters=IVF_TRAINED_ITERS,
        pair_budget=SEMDEDUP_PAIR_BUDGET,
    )


def _semantic_near_dup_oracle(
    k: int | str = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
) -> str:
    ctes = ",\n".join(_kmeans_cte_parts(k, iters, dim))
    return f"""WITH {ctes}
SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(ca.cid AS BIGINT) AS cid,
       ROUND({_COS_SQL}, 6) AS cos_sim
FROM embeddings a
JOIN assign_{iters} ca ON ca.vec_id = a.vec_id
JOIN assign_{iters} cb ON cb.cid = ca.cid
JOIN embeddings b ON b.vec_id = cb.vec_id AND a.vec_id < b.vec_id
WHERE ROUND({_COS_SQL}, 6) >= {NEAR_DUP_COS}
"""


def q_semantic_near_dup_derived(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SCALE-SAFE SemDeDup shape (VERDICT r10 #1): k DERIVED from
    the corpus size (ceil(N / 512)), so a 100× corpus gets 100× clusters
    and the pair space stays ~N·512 instead of N²/const. This is the
    corpus-facing default of `semantic_near_dup_pairs`; the fixed-k
    twin above pins the oracle-reproducible k=6 shape. k is computable
    in SQL (one COUNT(*)), so this path gets its own driver hash gate —
    a user following the gated examples now inherits the derived knob,
    not the quadratic one."""
    return dedup_ops.semantic_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"),
        threshold=NEAR_DUP_COS,
        n_clusters=None,
        iters=IVF_TRAINED_ITERS,
        pair_budget=SEMDEDUP_PAIR_BUDGET,
    )


#: ceil(N / target) with the same max(2, ·) floor as the Spark op; the
#: seed predicate is the only consumer, so one scalar subquery carries
#: the derivation into the unrolled-Lloyd CTEs.
_SEMDEDUP_DERIVED_K_SQL = (
    "(SELECT GREATEST(2, CAST(ceil(COUNT(*) / "
    f"{dedup_ops.SEMDEDUP_TARGET_CLUSTER_SIZE}.0) AS INT)) "
    "FROM embeddings)"
)


# ---------------------------------------------------------------------------
# Temperature-scaled corpus mixture (multinomial sampling with alpha)
# ---------------------------------------------------------------------------
MIX_TARGET_ROWS = 200
MIX_SALT = "mix1"


def q_temperature_mix_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.temperature_mix_rates(docs, "source", MIX_TARGET_ROWS)


def q_temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling as sampling_ops

    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.temperature_mix_sample(
        docs, "source", "doc_id", MIX_TARGET_ROWS, salt=MIX_SALT
    ).select("doc_id", "source", "accept_rate")


#: alpha=0.5 weight/rate CTEs shared by both mixture oracles. sqrt is IEEE
#: correctly-rounded (bit-identical cross-engine); weights are rounded and
#: DECIMAL-summed so normalization is order-free — token-for-token the
#: Spark op's arithmetic.
_MIX_CTES = f"""
counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts),
w AS (SELECT source, n_docs,
        CAST(round(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)), 6)
             AS DECIMAL(18,6)) AS w
      FROM counts, tot),
s AS (SELECT SUM(w) AS w_sum FROM w),
rates AS (
  SELECT source, n_docs,
         CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE) AS mix_weight,
         least(1.0, {MIX_TARGET_ROWS}
               * (CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE))
               / CAST(n_docs AS DOUBLE)) AS accept_rate,
         CAST(floor(least(1.0, {MIX_TARGET_ROWS}
               * (CAST(w AS DOUBLE) / CAST(w_sum AS DOUBLE))
               / CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
           AS bucket_threshold
  FROM w, s)
"""

ORACLE_TEMPERATURE_MIX_RATES = f"""
WITH {_MIX_CTES}
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, mix_weight, accept_rate,
       bucket_threshold
FROM rates
"""

ORACLE_TEMPERATURE_MIX_SAMPLE = f"""
WITH {_MIX_CTES}
SELECT d.doc_id, d.source, r.accept_rate
FROM documents d JOIN rates r USING (source)
WHERE {_bucket_of('d.doc_id', MIX_SALT)} < r.bucket_threshold
"""


# ---------------------------------------------------------------------------
# Embedding quantization (symmetric max-abs int8)
# ---------------------------------------------------------------------------
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.quantize_embeddings(emb)


ORACLE_EMBEDDING_QUANTIZE = """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x)))
           AS absmax
  FROM embeddings),
q AS (
  SELECT vec_id, v,
         CASE WHEN absmax = 0 THEN 0.0 ELSE absmax / 127 END AS scale,
         list_transform(v, x -> CASE WHEN absmax = 0 THEN 0
           ELSE CAST(sign(x * 127 / absmax)
                     * floor(abs(x * 127 / absmax) + 0.5) AS INT) END) AS qv
  FROM s)
SELECT vec_id, scale,
       array_to_string(qv, ',') AS qvec,
       round(list_max(list_transform(generate_series(1, len(v)),
             i -> abs(v[i] - qv[i] * scale))), 6) AS max_abs_err
FROM q
"""


# ---------------------------------------------------------------------------
# RAG / training-window chunking
# ---------------------------------------------------------------------------
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_ops.chunk_documents(docs, CHUNK_TOKENS, CHUNK_OVERLAP)


def _chunk_oracle(chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP) -> str:
    step = chunk - overlap
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks, len({_TOKS}) AS n FROM documents)
SELECT doc_id,
       CAST((gs.i - 1) // {step} AS BIGINT) AS chunk_idx,
       CAST(gs.i AS BIGINT) AS token_start,
       CAST(least({chunk}, n - gs.i + 1) AS BIGINT) AS n_tokens,
       array_to_string(
         list_slice(toks, gs.i, least(gs.i + {chunk} - 1, n)), ' ')
         AS chunk_text
FROM t, unnest(generate_series(1, CAST(n AS BIGINT), {step})) AS gs(i)
"""



# ---------------------------------------------------------------------------
# Token-budget mixture planner
# ---------------------------------------------------------------------------
BUDGET_TOKENS = 1_000_000


def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.token_budget_plan(
        docs, "source", text_ops.token_count(F.col("text")), BUDGET_TOKENS
    )


ORACLE_TOKEN_BUDGET_PLAN = f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs,
         sum(len({_TOKS})) AS n_tokens
  FROM documents GROUP BY 1),
w AS (
  SELECT source, n_docs, n_tokens,
         CAST(round(sqrt(CAST(n_tokens AS DOUBLE)
                         / CAST((SELECT sum(n_tokens) FROM counts) AS DOUBLE)),
                    6) AS DECIMAL(18,6)) AS w
  FROM counts),
plan AS (
  SELECT source, n_docs, n_tokens,
         CAST(w AS DOUBLE) / CAST((SELECT sum(w) FROM w) AS DOUBLE)
           AS mix_weight
  FROM w)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens, mix_weight,
       CAST(floor({BUDGET_TOKENS} * mix_weight) AS BIGINT) AS planned_tokens,
       round(floor({BUDGET_TOKENS} * mix_weight)
             / CAST(n_tokens AS DOUBLE), 6) AS epochs
FROM plan
"""


# ---------------------------------------------------------------------------
# MinHash-vs-true-Jaccard calibration
# ---------------------------------------------------------------------------
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.minhash_jaccard_calibration(
        _doc_shingles(spark, sf_dir), "doc_id", MINHASH_N, MINHASH_BAND
    )


def _minhash_calibration_oracle() -> str:
    from ..operators.dedup import MINHASH_PRIME

    perm_exprs = _minhash_perm_exprs()
    band_exprs = _minhash_band_exprs()
    agree = " + ".join(
        f"CAST(sa.mh_{i} = sb.mh_{i} AS INT)" for i in range(MINHASH_N)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT)
           % {MINHASH_PRIME} AS h
  FROM sh),
sigs AS (
  SELECT doc_id, {perm_exprs}
  FROM hashed GROUP BY doc_id),
banded AS (
  SELECT doc_id, generate_subscripts(bands, 1) - 1 AS band_idx,
         unnest(bands) AS band_hash
  FROM (SELECT doc_id, [{band_exprs}] AS bands FROM sigs)),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id),
est AS (
  SELECT p.id_a, p.id_b,
         round(({agree}) / {float(MINHASH_N)}, 6) AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_a
  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
truej AS (
  SELECT p.id_a, p.id_b,
         round(CAST(coalesce(i.n_inter, 0) AS DOUBLE)
               / CAST(za.n_sh + zb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE),
               6) AS true_jaccard
  FROM pairs p
  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
  JOIN sizes za ON za.doc_id = p.id_a
  JOIN sizes zb ON zb.doc_id = p.id_b)
SELECT e.id_a, e.id_b, e.est_jaccard, t.true_jaccard,
       round(abs(e.est_jaccard - t.true_jaccard), 6) AS abs_err
FROM est e JOIN truej t ON t.id_a = e.id_a AND t.id_b = e.id_b
"""


def q_lsh_plan_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven banding-geometry selection: every (n_bands,
    band_size) split of the 16-hash signature scored by expected recall
    / false-candidate stickiness over the corpus's OBSERVED
    candidate-pair Jaccard distribution (the calibration frame). The
    tuning table behind `minhash_lsh_pairs`' geometry."""
    cal = dedup_ops.minhash_jaccard_calibration(
        _doc_shingles(spark, sf_dir), "doc_id", MINHASH_N, MINHASH_BAND
    )
    return dedup_ops.lsh_plan_eval(cal, MINHASH_N, JACCARD_THRESHOLD)


def _lsh_plan_oracle(
    n: int = MINHASH_N, threshold: float = JACCARD_THRESHOLD
) -> str:
    plans = [(b, n // b) for b in range(1, n + 1) if n % b == 0]

    def p_sql(b: int, r: int) -> str:
        jr = "(" + " * ".join(["j"] * r) + ")"
        miss = f"(CAST(1 AS DOUBLE) - {jr})"
        acc = "(" + " * ".join([miss] * b) + ")"
        return (
            f"CAST(round(CAST(1 AS DOUBLE) - {acc}, 6) AS DECIMAL(18,6))"
        )

    plan_selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({b} AS INT) AS n_bands, CAST({r} AS INT) AS band_size,
       CAST(coalesce(SUM(CASE WHEN istrue THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_true_pairs,
       CAST(coalesce(SUM(CASE WHEN istrue THEN 0 ELSE 1 END), 0)
            AS BIGINT) AS n_sub_pairs,
       CASE WHEN SUM(CASE WHEN istrue THEN 1 ELSE 0 END) > 0 THEN
         round(CAST(SUM(CASE WHEN istrue THEN {p_sql(b, r)} END)
                    AS DOUBLE)
               / SUM(CASE WHEN istrue THEN 1 ELSE 0 END), 6)
       END AS est_recall,
       CASE WHEN SUM(CASE WHEN istrue THEN 0 ELSE 1 END) > 0 THEN
         round(CAST(SUM(CASE WHEN NOT istrue THEN {p_sql(b, r)} END)
                    AS DOUBLE)
               / SUM(CASE WHEN istrue THEN 0 ELSE 1 END), 6)
       END AS est_fp_stickiness
FROM flagged"""
        for b, r in plans
    )
    cal = _minhash_calibration_oracle().strip()
    return f"""
WITH cal AS ({cal}),
flagged AS (
  SELECT true_jaccard AS j,
         true_jaccard >= CAST({threshold} AS DOUBLE) AS istrue
  FROM cal)
{plan_selects}
"""


# ---------------------------------------------------------------------------
# Substring-dedup scrubber (span removal transform)
# ---------------------------------------------------------------------------
def q_span_scrubbed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.remove_dup_spans(docs, "doc_id", "text", SPAN_WIDTH)


ORACLE_SPAN_SCRUBBED_DOCS = f"""
WITH docs AS (
  SELECT doc_id, {_TOKS} AS t FROM documents),
toked AS (
  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos
  FROM docs),
starts AS (
  SELECT doc_id, unnest(generate_series(1, len(t) - {SPAN_WIDTH - 1}))
           AS i, t
  FROM docs WHERE len(t) >= {SPAN_WIDTH}),
spans AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(t[i:i+{SPAN_WIDTH - 1}], ' ') AS span
  FROM starts),
dup_starts AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           (MIN(doc_id) OVER (PARTITION BY span)
            <> MAX(doc_id) OVER (PARTITION BY span)) AS is_dup
    FROM spans)
  WHERE is_dup),
covered AS (
  SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + {SPAN_WIDTH - 1}))
           AS pos
  FROM dup_starts),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toked t ANTI JOIN covered c USING (doc_id, pos)),
totals AS (SELECT doc_id, count(*) AS n_total FROM toked GROUP BY 1)
SELECT k.doc_id,
       string_agg(k.tok, ' ' ORDER BY k.pos) AS cleaned_text,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(any_value(tt.n_total) - count(*) AS BIGINT) AS n_removed
FROM kept k JOIN totals tt USING (doc_id)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# PII scrub (round 3)
# ---------------------------------------------------------------------------
#: The synthetic corpus contains no PII (word-salad, zero digits), so the
#: declared queries run the operators over a DETERMINISTIC augmentation —
#: typed PII strings derived from doc_id, appended in-plan by both engines
#: identically. The operators themselves are corpus-agnostic; pytest
#: additionally exercises them on handwritten fixtures.
def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def s(c: F.Column) -> F.Column:
        return c.cast("string")

    email = F.when(
        did % 3 == 0,
        F.concat(F.lit(" contact u"), s(did), F.lit("@ex"), s(did % 7), F.lit(".com")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 4 == 0,
        F.concat(
            F.lit(" call (555) 01"), s(did % 10), F.lit("-"), s(F.lit(1000) + did % 9000)
        ),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 6 == 0,
        F.concat(F.lit(" from 10."), s(did % 256), F.lit(".0."), s(did % 100)),
    ).otherwise(F.lit(""))
    return docs.withColumn("text", F.concat(F.col("text"), email, phone, ip))


_PII_AUG_SQL = (
    "SELECT doc_id, source, text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)"
    "         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 0 THEN ' call (555) 01' || CAST(doc_id % 10 AS VARCHAR)"
    "         || '-' || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 6 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)"
    "         || '.0.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END"
    " AS text FROM documents"
)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pii as pii_ops

    return pii_ops.pii_report_by_source(
        _pii_augmented(spark, sf_dir), "source", "text"
    )


def _pii_oracle_counts() -> str:
    from ..operators.pii import PII_RULES

    return ", ".join(
        "len(regexp_extract_all(text, '" + pat + "')) AS n_" + name
        for name, pat, _ in PII_RULES
    )


def _pii_scan_oracle() -> str:
    from ..operators.pii import PII_RULES

    names = [name for name, _, _ in PII_RULES]
    hit = " + ".join("n_" + n for n in names)
    totals = ",\n  ".join(
        f"CAST(SUM(n_{n}) AS BIGINT) AS total_{n}" for n in names
    )
    return f"""
WITH aug AS ({_PII_AUG_SQL}),
per_doc AS (SELECT source, {_pii_oracle_counts()} FROM aug)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN {hit} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
  {totals}
FROM per_doc GROUP BY source
"""


def q_pii_redacted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pii as pii_ops

    return pii_ops.scan_pii(_pii_augmented(spark, sf_dir), "doc_id", "text").filter(
        F.col("n_pii") > 0
    )


def _pii_redacted_oracle() -> str:
    from ..operators.pii import PII_RULES

    names = [name for name, _, _ in PII_RULES]
    redacted = "text"
    for _, pat, token in PII_RULES:
        redacted = f"regexp_replace({redacted}, '{pat}', '{token}', 'g')"
    hit = " + ".join("n_" + n for n in names)
    return f"""
WITH aug AS ({_PII_AUG_SQL}),
per_doc AS (
  SELECT doc_id, {_pii_oracle_counts()}, {redacted} AS redacted_text
  FROM aug)
SELECT doc_id, {", ".join("n_" + n for n in names)},
       {hit} AS n_pii, redacted_text
FROM per_doc WHERE {hit} > 0
"""


# ---------------------------------------------------------------------------
# Incremental (delta-vs-corpus) dedup (round 3)
# ---------------------------------------------------------------------------
#: Deterministic ingest split: docs with id % 5 == 0 are the "fresh crawl"
#: delta; docs with id % 7 == 0 (and not already delta) reappear as
#: re-crawled copies under shifted ids — guaranteed exact dups, so all
#: three statuses are exercised at every sf.
RECRAWL_OFFSET = 100_000

def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.filter(did % 5 != 0)
    fresh = docs.filter(did % 5 == 0)
    recrawl = docs.filter((did % 7 == 0) & (did % 5 != 0)).select(
        (did + RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    return dedup_ops.incremental_dedup(
        corpus,
        fresh.unionByName(recrawl),
        "doc_id",
        "text",
        SHINGLE_K,
        MINHASH_N,
        MINHASH_BAND,
        JACCARD_THRESHOLD,
        SHINGLE_MAX_DF,
        # The corpus-side index triple (fp, capped shingles, hot set),
        # shared per session: exactly what `incremental_dedup` would
        # derive itself (same params, `wide=False`), so results are
        # bit-identical, but the shingle window is materialized once per
        # session — the production shape, which the stored twin
        # `q_incremental_dedup_stored` makes explicit with parquet.
        corpus_index=shared(
            spark,
            ("inc_corpus_index", sf_dir),
            lambda: dedup_ops.corpus_shingle_index(
                corpus, "doc_id", "text", SHINGLE_K, SHINGLE_MAX_DF, wide=False
            ),
        ),
    )


def q_incremental_dedup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`incremental_dedup` served from the PERSISTED corpus index
    (`dedup.write_corpus_index` → `read_corpus_index`): the fp table,
    capped shingle frame, and hot set are written to parquet once and
    read back, so the classifier never scans the corpus — the production
    refresh shape. Shares the in-plan twin's oracle: the hash gate
    proves the stored path is bit-identical."""
    import os as _os

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.filter(did % 5 != 0)
    fresh = docs.filter(did % 5 == 0)
    recrawl = docs.filter((did % 7 == 0) & (did % 5 != 0)).select(
        (did + RECRAWL_OFFSET).alias("doc_id"), "text"
    )

    def build(path: str) -> None:
        dedup_ops.write_corpus_index(
            corpus, path, "doc_id", "text", SHINGLE_K, SHINGLE_MAX_DF,
            bands=(MINHASH_N, MINHASH_BAND),  # serve-time bands stored
        )

    sf_name = _os.path.basename(sf_dir.rstrip("/"))
    # Rebuilt when documents.parquet's listing changes (relative names +
    # sizes + count, never a content read: SCALING.md "stored-index
    # freshness" probe).
    path = refresh_stored(
        # every derivation param in the path, incl. the persisted band
        # geometry (r8) — a constant change can never serve a stale index
        summary_path(
            f"corpus_index_{sf_name}_k{SHINGLE_K}cap{SHINGLE_MAX_DF}"
            f"b{MINHASH_N}x{MINHASH_BAND}",
        ),
        build,
        sources=[_os.path.join(sf_dir, "documents.parquet")],
    )
    return dedup_ops.incremental_dedup(
        corpus,
        fresh.unionByName(recrawl),
        "doc_id",
        "text",
        SHINGLE_K,
        MINHASH_N,
        MINHASH_BAND,
        JACCARD_THRESHOLD,
        SHINGLE_MAX_DF,
        corpus_index=dedup_ops.read_corpus_index(
            spark, path,
            expect={"k": SHINGLE_K, "max_doc_freq": SHINGLE_MAX_DF},
        ),
    )


def _incremental_parts(
    delta_sql: str | None = None,
    corpus_sql: str | None = None,
    del_filter: bool = False,
) -> tuple[str, str]:
    """(CTE chain, final select) of the incremental-dedup oracle — split
    so `_serving_oracle` can compose the same classification as a CTE
    under its funnel stages (one derivation, two oracles).
    ``delta_sql``/``corpus_sql`` override the cohort CTE bodies (the
    capped-append twin classifies a different delta against a grown
    corpus); the classification chain itself is shared verbatim.

    ``del_filter=True`` mirrors `delete_from_corpus_index`'s tombstone
    semantics exactly: the caller provides a ``dels(doc_id)`` CTE
    upstream, and the filter applies AFTER the full-corpus derivation —
    the hot set stays frozen (computed over the undeleted corpus, as
    the store froze it) and the fp table drops rows whose
    REPRESENTATIVE is deleted (the store keeps one representative per
    fp, so that row is what the tombstone hides)."""
    from ..operators.dedup import MINHASH_PRIME

    mh_exprs = _minhash_perm_exprs()
    band_exprs = _minhash_band_exprs()
    sh = _shingle_list_sql()
    if delta_sql is None:
        delta_sql = f"""SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + {RECRAWL_OFFSET} AS doc_id, text FROM documents
  WHERE doc_id % 7 = 0 AND doc_id % 5 != 0"""
    if corpus_sql is None:
        corpus_sql = "SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0"
    if del_filter:
        fp_ctes = f"""corpus_fp0 AS (SELECT md5({_NORM}) AS fp, MIN(doc_id) AS mid
               FROM corpus GROUP BY 1),
corpus_fp AS (SELECT fp, mid FROM corpus_fp0
              WHERE mid NOT IN (SELECT doc_id FROM dels)),"""
        c_sh_ctes = f"""c_sh1 AS (SELECT * FROM c_sh0 ANTI JOIN hot USING (shingle)),
c_sh AS (SELECT * FROM c_sh1
         WHERE doc_id NOT IN (SELECT doc_id FROM dels)),"""
    else:
        fp_ctes = f"""corpus_fp AS (SELECT md5({_NORM}) AS fp, MIN(doc_id) AS mid
              FROM corpus GROUP BY 1),"""
        c_sh_ctes = "c_sh AS (SELECT * FROM c_sh0 ANTI JOIN hot USING (shingle)),"
    ctes = f"""delta AS (
  {delta_sql}),
corpus AS ({corpus_sql}),
{fp_ctes}
delta_fp AS (SELECT doc_id, md5({_NORM}) AS fp FROM delta),
exact AS (SELECT d.doc_id, cf.mid FROM delta_fp d JOIN corpus_fp cf USING (fp)),
c_sh0 AS (SELECT doc_id, unnest({sh}) AS shingle
          FROM (SELECT doc_id, {_NTOKS} AS t FROM corpus)),
d_sh0 AS (SELECT doc_id, unnest({sh}) AS shingle
          FROM (SELECT doc_id, {_NTOKS} AS t FROM delta)),
hot AS (SELECT shingle FROM c_sh0 GROUP BY 1 HAVING COUNT(*) > {SHINGLE_MAX_DF}),
{c_sh_ctes}
d_sh AS (SELECT * FROM d_sh0 ANTI JOIN hot USING (shingle)),
c_hashed AS (SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS h
             FROM c_sh),
d_hashed AS (SELECT doc_id,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) % {MINHASH_PRIME} AS h
             FROM d_sh),
c_sigs AS (SELECT doc_id, {mh_exprs} FROM c_hashed GROUP BY doc_id),
d_sigs AS (SELECT doc_id, {mh_exprs} FROM d_hashed GROUP BY doc_id),
c_band AS (SELECT doc_id, generate_subscripts(bands, 1) - 1 AS band_idx,
                  unnest(bands) AS band_hash
           FROM (SELECT doc_id, [{band_exprs}] AS bands FROM c_sigs)),
d_band AS (SELECT doc_id, generate_subscripts(bands, 1) - 1 AS band_idx,
                  unnest(bands) AS band_hash
           FROM (SELECT doc_id, [{band_exprs}] AS bands FROM d_sigs)),
cand AS (SELECT DISTINCT d.doc_id AS did, c.doc_id AS cid
         FROM d_band d JOIN c_band c
           ON d.band_idx = c.band_idx AND d.band_hash = c.band_hash),
inter AS (
  SELECT ca.did, ca.cid, COUNT(*) AS n_inter
  FROM cand ca
  JOIN d_sh d ON d.doc_id = ca.did
  JOIN c_sh c ON c.doc_id = ca.cid AND c.shingle = d.shingle
  GROUP BY 1, 2),
d_sizes AS (SELECT doc_id, COUNT(*) AS d_size FROM d_sh GROUP BY 1),
c_sizes AS (SELECT doc_id, COUNT(*) AS c_size FROM c_sh GROUP BY 1),
ver AS (
  SELECT i.did, i.cid,
         ROUND(CAST(n_inter AS DOUBLE) / (ds.d_size + cs.c_size - n_inter), 6) AS jac
  FROM inter i
  JOIN d_sizes ds ON ds.doc_id = i.did
  JOIN c_sizes cs ON cs.doc_id = i.cid
  WHERE ROUND(CAST(n_inter AS DOUBLE) / (ds.d_size + cs.c_size - n_inter), 6)
        >= {JACCARD_THRESHOLD}),
near AS (SELECT did, MIN(cid) AS nmid, MAX(jac) AS best_jac FROM ver GROUP BY 1)"""
    final = """SELECT dd.doc_id,
  CASE WHEN e.mid IS NOT NULL THEN 'exact_dup'
       WHEN n.nmid IS NOT NULL THEN 'near_dup'
       ELSE 'novel' END AS status,
  CAST(COALESCE(e.mid, n.nmid, -1) AS BIGINT) AS match_id,
  CASE WHEN e.mid IS NOT NULL THEN CAST(1.0 AS DOUBLE)
       WHEN n.nmid IS NOT NULL THEN n.best_jac
       ELSE CAST(0.0 AS DOUBLE) END AS jaccard
FROM delta dd
LEFT JOIN exact e ON e.doc_id = dd.doc_id
LEFT JOIN near n ON n.did = dd.doc_id"""
    return ctes, final


def _incremental_oracle() -> str:
    ctes, final = _incremental_parts()
    return f"\nWITH {ctes}\n{final}\n"


#: id offsets for the capped-append fixture's re-crawled / near-variant
#: cohorts (disjoint from RECRAWL_OFFSET's space at every sf).
CAPPED_APPEND_OFF = 1_000_000
#: synthetic append-cohort text: 8 per-doc-namespaced tokens, so every
#: shingle of an appended doc has corpus df exactly 1 — the appended
#: batch can never flip a cap decision at ANY scale factor, which is the
#: regime `append_corpus_index`'s bounded-drift rule admits.
_M_TOKENS = 8


def _m_text_spark(did) -> F.Column:
    return F.concat_ws(
        " ",
        *[
            F.concat(F.lit("m"), did.cast("string"), F.lit(f"t{i}"))
            for i in range(_M_TOKENS)
        ],
    )


_M_TEXT_SQL = (
    "array_to_string(list_transform(generate_series(0, "
    f"{_M_TOKENS - 1}), i -> 'm' || CAST(doc_id AS VARCHAR) || 't' || "
    "CAST(i AS VARCHAR)), ' ')"
)


def q_capped_index_append_classify(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cap-tolerant corpus-index maintenance, classified end to end
    (round 9; VERDICT r8 #2): a df-CAPPED index (the production skew
    lever) is built on the base corpus, a per-doc-namespaced append
    cohort folds in via `append_corpus_index`'s bounded-drift rule
    (O(delta) hardlink-append — no shingle's cap decision can flip, so
    the appended index is rebuild-exact), and a fresh delta — natural
    docs, exact re-crawls of the APPENDED docs, and near-variants of
    them — classifies against the grown index. The oracle rebuilds the
    capped classification from first principles over base ∪ appended,
    so the hash gate proves the drift-guarded append serves bit-
    identically to the full rebuild, including the near-dup tier over
    rows that only exist via the append path."""
    import os as _os
    import shutil as _shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.filter(did % 5 != 0)
    m = docs.filter((did % 5 == 0) & (did % 2 == 0)).select(
        "doc_id", _m_text_spark(did).alias("text")
    )
    fresh_nat = docs.filter((did % 5 == 0) & (did % 2 == 1))
    recrawl = m.select(
        (did + CAPPED_APPEND_OFF).alias("doc_id"), F.col("text")
    )
    near = m.select(
        (did + 2 * CAPPED_APPEND_OFF).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" m"),
            did.cast("string"),
            F.lit(f"t{_M_TOKENS}x"),
        ).alias("text"),
    )
    delta = fresh_nat.unionByName(recrawl).unionByName(near)

    def build(path: str) -> None:
        _shutil.rmtree(path, ignore_errors=True)
        dedup_ops.write_corpus_index(
            corpus, path, "doc_id", "text", SHINGLE_K, SHINGLE_MAX_DF,
            bands=(MINHASH_N, MINHASH_BAND), sets=True,
        )
        dedup_ops.append_corpus_index(spark, path, m)

    sf_name = _os.path.basename(sf_dir.rstrip("/"))
    path = refresh_stored(
        summary_path(
            f"capped_index_{sf_name}_k{SHINGLE_K}cap{SHINGLE_MAX_DF}"
            f"b{MINHASH_N}x{MINHASH_BAND}m{_M_TOKENS}",
        ),
        build,
        sources=[_os.path.join(sf_dir, "documents.parquet")],
    )
    return dedup_ops.incremental_dedup(
        None,
        delta,
        "doc_id",
        "text",
        SHINGLE_K,
        MINHASH_N,
        MINHASH_BAND,
        JACCARD_THRESHOLD,
        SHINGLE_MAX_DF,
        corpus_index=dedup_ops.read_corpus_index(
            spark, path,
            expect={"k": SHINGLE_K, "max_doc_freq": SHINGLE_MAX_DF},
        ),
    )


def _capped_append_oracle() -> str:
    corpus_sql = f"""SELECT doc_id, text FROM documents WHERE doc_id % 5 != 0
  UNION ALL
  SELECT doc_id, {_M_TEXT_SQL} AS text FROM documents
  WHERE doc_id % 5 = 0 AND doc_id % 2 = 0"""
    delta_sql = f"""SELECT doc_id, text FROM documents
  WHERE doc_id % 5 = 0 AND doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + {CAPPED_APPEND_OFF} AS doc_id, {_M_TEXT_SQL} AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 2 = 0
  UNION ALL
  SELECT doc_id + {2 * CAPPED_APPEND_OFF} AS doc_id,
         {_M_TEXT_SQL} || ' m' || CAST(doc_id AS VARCHAR)
           || 't{_M_TOKENS}x' AS text
  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 2 = 0"""
    ctes, final = _incremental_parts(delta_sql, corpus_sql)
    return f"\nWITH {ctes}\n{final}\n"


def q_serving_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SERVING-path funnel (VERDICT r7 stretch #8): every
    stage runs from STORED artifacts only. The fresh delta is
    classified against the PERSISTED corpus shingle index
    (`write_corpus_index` → `read_corpus_index` — the corpus itself is
    never scanned at serve time), then the minimum novel doc id that
    has an embedding becomes the ANN probe, served from BOTH persisted
    ANN artifacts: the trained-IVF assignment (`_ivf_index_cached` —
    zero Lloyd rounds at query time) and the PQ codebook frame
    (`_pq_codebook_cached` — the ADC scan reads stored codebooks). One
    (stage, n_rows, metric) row per funnel stage: `delta` + one row per
    classification status (metric = exact decimal sum of jaccard),
    `ann_topk` (exact decimal sum of top-k cosines) and `pq_topk`
    (exact decimal sum of top-k ADC inner products). Value-checked end
    to end by a DuckDB twin that re-derives the classification, the
    Lloyd rounds, AND the PQ/ADC math — the hash gate proves the
    stored serving path is bit-identical to first-principles
    recomputation."""
    inc = q_incremental_dedup_stored(spark, sf_dir).persist()
    emb = load_table(spark, sf_dir, "embeddings")
    # the probe: MIN novel doc id that exists in the embedding space —
    # a bounded 1-row construction-time action
    probe_row = (
        inc.filter(F.col("status") == "novel")
        .join(
            emb.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        .agg(F.min("doc_id"))
        .collect()[0][0]
    )
    if probe_row is None:
        raise ValueError(
            "serving_funnel: no novel delta doc has an embedding — the "
            "ANN stage has no probe; check the delta derivation"
        )
    ann = sim_ops.ivf_trained_topk(
        emb, int(probe_row), TOPK, IVF_TRAINED_K, IVF_TRAINED_ITERS,
        index=_ivf_index_cached(spark, sf_dir),
    )
    pq = sim_ops.pq_topk(
        emb, int(probe_row), TOPK, PQ_SUBSPACES, PQ_SUB_DIM, PQ_CENTROIDS,
        codebooks=_pq_codebook_cached(spark, sf_dir),
    )
    # exact decimal sums (order-free), cast to double only at the edge
    jac_sum = F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
    n_rows = F.count(F.lit(1)).alias("n_rows")
    d_stage = inc.agg(
        F.lit("delta").alias("stage"), n_rows, jac_sum.alias("metric")
    )
    s_stage = (
        inc.groupBy(F.col("status").alias("stage"))
        .agg(n_rows, jac_sum.alias("metric"))
    )
    a_stage = ann.agg(
        F.lit("ann_topk").alias("stage"),
        n_rows,
        F.sum(F.col("cos_sim").cast("decimal(18,4)"))
        .cast("double")
        .alias("metric"),
    )
    pq_stage = pq.agg(
        F.lit("pq_topk").alias("stage"),
        n_rows,
        F.sum(F.col("approx_ip").cast("decimal(18,6)"))
        .cast("double")
        .alias("metric"),
    )
    return (
        d_stage.unionByName(s_stage)
        .unionByName(a_stage)
        .unionByName(pq_stage)
    )


def _serving_oracle() -> str:
    inc_ctes, inc_final = _incremental_parts()
    km = ",\n".join(
        _kmeans_cte_parts(IVF_TRAINED_K, IVF_TRAINED_ITERS, EMB_DIM)
    )
    return f"""
WITH {inc_ctes},
inc AS ({inc_final}),
probe AS (SELECT MIN(doc_id) AS pid FROM inc
          WHERE status = 'novel'
            AND doc_id IN (SELECT vec_id FROM embeddings)),
{km},
ann AS (
  SELECT e.vec_id, ROUND({_COS_Q_SQL}, 4) AS cos_sim,
         ROW_NUMBER() OVER (
           ORDER BY ROUND({_COS_Q_SQL}, 4) DESC, e.vec_id) AS rank
  FROM embeddings e
  JOIN assign_{IVF_TRAINED_ITERS} a ON a.vec_id = e.vec_id,
       (SELECT embedding FROM embeddings
        WHERE vec_id = (SELECT pid FROM probe)) q,
       (SELECT cid AS qbucket FROM assign_{IVF_TRAINED_ITERS}
        WHERE vec_id = (SELECT pid FROM probe)) qb
  WHERE e.vec_id != (SELECT pid FROM probe) AND a.cid = qb.qbucket),
{_pq_ctes("(SELECT pid FROM probe)")}
SELECT 'delta' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) AS metric
FROM inc
UNION ALL
SELECT status AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) AS metric
FROM inc GROUP BY status
UNION ALL
SELECT 'ann_topk' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(cos_sim AS DECIMAL(18,4))) AS DOUBLE) AS metric
FROM ann WHERE rank <= {TOPK}
UNION ALL
SELECT 'pq_topk' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(approx_ip AS DECIMAL(18,6))) AS DOUBLE) AS metric
FROM (
  SELECT approx_ip,
         ROW_NUMBER() OVER (ORDER BY approx_ip DESC, vec_id) AS rank
  FROM pq_approx)
WHERE rank <= {TOPK}
"""


# ---------------------------------------------------------------------------
# Serving funnel with a DELETION step (round 10; VERDICT r9 #1)
# ---------------------------------------------------------------------------
def q_serving_funnel_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`serving_funnel` with a RIGHT-TO-BE-FORGOTTEN step between build
    and serve (round 10): a key-derived deletion request (doc_id ≡ 0
    mod 97) expands one hop through the near-dup components
    (`delete_propagation` — deleting a doc must delete its near-copies
    or the content survives verbatim under other ids), and the expanded
    set is tombstoned into BOTH stored index families
    (`dedup.delete_from_corpus_index`, `serve.delete_from_ivf_store` —
    O(delete-set) commits, no rebuild). The fresh delta then classifies
    against the DELETED corpus index and a query batch serves from the
    DELETED IVF store. One (stage, n_rows, metric) row per stage:
    `delta` + per-status rows (exact decimal jaccard sums) + `ann_topk`
    (exact decimal sum of the top-k cosines). The DuckDB twin
    re-derives the components, the frozen-hot tombstone semantics, the
    Lloyd rounds, and the serve — the hash gate proves deletion-by-
    tombstone serves bit-identically to first-principles recomputation
    over the logically purged stores."""
    import os as _os
    import shutil as _shutil

    from ..operators import validation as validation_ops
    from ..sources.versioned import commit_version
    from ..streaming.serve import delete_from_ivf_store, read_ivf_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    corpus = docs.filter(did % 5 != 0)
    fresh = docs.filter(did % 5 == 0)
    recrawl = docs.filter((did % 7 == 0) & (did % 5 != 0)).select(
        (did + RECRAWL_OFFSET).alias("doc_id"), "text"
    )
    delta = fresh.unionByName(recrawl)
    # the expanded delete-set: request ∪ its near-dup components
    dels = (
        validation_ops.delete_propagation(
            _dedup_labels(spark, sf_dir),
            docs.filter(did % DELETE_MOD == 0).select("doc_id"),
        )
        .filter(F.col("status") != "kept")
        .select("doc_id")
    )

    sf_name = _os.path.basename(sf_dir.rstrip("/"))
    docs_src = _os.path.join(sf_dir, "documents.parquet")

    # -- corpus index: build, then tombstone the expanded delete-set --
    def build_corpus(path: str) -> None:
        _shutil.rmtree(path, ignore_errors=True)
        dedup_ops.write_corpus_index(
            corpus, path, "doc_id", "text", SHINGLE_K, SHINGLE_MAX_DF,
            bands=(MINHASH_N, MINHASH_BAND),
        )
        dedup_ops.delete_from_corpus_index(spark, path, dels)

    cpath = refresh_stored(
        summary_path(
            f"corpus_index_del_{sf_name}_k{SHINGLE_K}cap{SHINGLE_MAX_DF}"
            f"b{MINHASH_N}x{MINHASH_BAND}d{DELETE_MOD}",
        ),
        build_corpus,
        sources=[docs_src],
    )
    inc = dedup_ops.incremental_dedup(
        None,
        delta,
        "doc_id",
        "text",
        SHINGLE_K,
        MINHASH_N,
        MINHASH_BAND,
        JACCARD_THRESHOLD,
        SHINGLE_MAX_DF,
        corpus_index=dedup_ops.read_corpus_index(
            spark, cpath,
            expect={"k": SHINGLE_K, "max_doc_freq": SHINGLE_MAX_DF},
        ),
    ).persist()

    # -- IVF store: seed with the trained assignment, tombstone, serve --
    def build_ivf(path: str) -> None:
        _shutil.rmtree(path, ignore_errors=True)
        seed = _ivf_index_cached(spark, sf_dir)

        def writer(vdir: str) -> None:
            seed.write.parquet(_os.path.join(vdir, "index"))

        commit_version(path, writer, {"last_batch_id": -1})
        delete_from_ivf_store(spark, path, dels)

    vpath = refresh_stored(
        summary_path(
            f"ivf_store_del_{sf_name}_k{IVF_TRAINED_K}i{IVF_TRAINED_ITERS}"
            f"d{DELETE_MOD}",
        ),
        build_ivf,
        sources=[docs_src, _os.path.join(sf_dir, "embeddings.parquet")],
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < SERVE_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    ann = sim_ops.ivf_serve_topk(
        queries,
        emb,
        read_ivf_index(spark, vpath),
        _ivf_centroids_cached(spark, sf_dir),
        k=SERVE_TOPK,
    )

    jac_sum = F.sum(F.col("jaccard").cast("decimal(18,6)")).cast("double")
    n_rows = F.count(F.lit(1)).alias("n_rows")
    d_stage = inc.agg(
        F.lit("delta").alias("stage"), n_rows, jac_sum.alias("metric")
    )
    s_stage = inc.groupBy(F.col("status").alias("stage")).agg(
        n_rows, jac_sum.alias("metric")
    )
    a_stage = ann.agg(
        F.lit("ann_topk").alias("stage"),
        n_rows,
        F.sum(F.col("cos_sim").cast("decimal(18,4)"))
        .cast("double")
        .alias("metric"),
    )
    return d_stage.unionByName(s_stage).unionByName(a_stage)


def _cc_cte_parts_prefixed(p: str = "cc_") -> str:
    """The recursive near-dup connected-components chain (`_CC_CTES`'
    derivation) with PREFIXED CTE names, composable inside oracles whose
    other chains own `inter`/`sizes`/`comp` (the incremental-dedup
    parts). Same math, different namespace."""
    sh = _shingle_list_sql()
    return f"""{p}sh AS (
  SELECT doc_id, unnest({sh}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
{p}capped AS (
  SELECT s.doc_id, s.shingle
  FROM {p}sh s JOIN (SELECT shingle FROM {p}sh GROUP BY shingle
                     HAVING COUNT(*) <= {SHINGLE_MAX_DF}) rare
    ON s.shingle = rare.shingle),
{p}sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM {p}capped
             GROUP BY doc_id),
{p}inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM {p}capped a JOIN {p}capped b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
{p}edges AS (
  SELECT id_a, id_b FROM {p}inter
  JOIN {p}sizes sa ON sa.doc_id = id_a
  JOIN {p}sizes sb ON sb.doc_id = id_b
  WHERE ROUND(CAST(n_inter AS DOUBLE)
              / (sa.set_size + sb.set_size - n_inter), 6)
        >= {JACCARD_THRESHOLD}),
{p}sym AS (
  SELECT id_a AS u, id_b AS v FROM {p}edges
  UNION SELECT id_b, id_a FROM {p}edges),
{p}reach(node, reached) AS (
  SELECT u, u FROM {p}sym
  UNION
  SELECT r.node, s.v FROM {p}reach r JOIN {p}sym s ON s.u = r.reached),
{p}comp AS (SELECT node, MIN(reached) AS m FROM {p}reach GROUP BY node),
{p}comps AS (
  SELECT d.doc_id, COALESCE(c.m, d.doc_id) AS component_id
  FROM documents d LEFT JOIN {p}comp c ON c.node = d.doc_id)"""


def _deleted_funnel_oracle(
    k: int = IVF_TRAINED_K,
    iters: int = IVF_TRAINED_ITERS,
    dim: int = EMB_DIM,
    nq: int = SERVE_N_QUERIES,
    topk: int = SERVE_TOPK,
) -> str:
    cc = _cc_cte_parts_prefixed()
    inc_ctes, inc_final = _incremental_parts(del_filter=True)
    km = ",\n".join(_coarse_cte_parts_with_final(k, iters, dim))
    cos_qc = (
        "round(list_dot_product(q.qe, c.cvec)"
        " / (sqrt(list_dot_product(q.qe, q.qe))"
        "    * sqrt(list_dot_product(c.cvec, c.cvec))), 6)"
    )
    cos_qe = (
        "ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        "                          CAST(e.embedding AS DOUBLE[])))"
        "    * sqrt(list_dot_product(q.qe, q.qe))), 4)"
    )
    return f"""
WITH RECURSIVE {cc},
dels0 AS (SELECT doc_id FROM documents WHERE doc_id % {DELETE_MOD} = 0),
delcomp AS (SELECT DISTINCT component_id FROM cc_comps
            JOIN dels0 USING (doc_id)),
dels AS (SELECT doc_id FROM cc_comps
         WHERE component_id IN (SELECT component_id FROM delcomp)),
{inc_ctes},
inc AS ({inc_final}),
{km},
qs AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
  FROM embeddings WHERE vec_id < {nq}),
qscore AS (
  SELECT q.query_id, c.cid, {cos_qc} AS sim
  FROM qs q CROSS JOIN cent_{iters} c),
qbucket AS (
  SELECT query_id, cid FROM (
    SELECT query_id, cid,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, cid) AS rn
    FROM qscore) WHERE rn = 1),
scored AS (
  SELECT qb.query_id, e.vec_id, {cos_qe} AS cos_sim
  FROM qbucket qb
  JOIN assign_{iters} a ON a.cid = qb.cid
  JOIN embeddings e ON e.vec_id = a.vec_id
  JOIN qs q ON q.query_id = qb.query_id
  WHERE a.vec_id NOT IN (SELECT doc_id FROM dels)),
ann AS (
  SELECT query_id, vec_id, cos_sim FROM (
    SELECT query_id, vec_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored) WHERE rank <= {topk})
SELECT 'delta' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) AS metric
FROM inc
UNION ALL
SELECT status AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(jaccard AS DECIMAL(18,6))) AS DOUBLE) AS metric
FROM inc GROUP BY status
UNION ALL
SELECT 'ann_topk' AS stage, COUNT(*) AS n_rows,
       CAST(SUM(CAST(cos_sim AS DECIMAL(18,4))) AS DOUBLE) AS metric
FROM ann
"""


# ---------------------------------------------------------------------------
# k-NN graph / containment / shard manifest (round 3)
# ---------------------------------------------------------------------------
KNN_K = 3
CONTAINMENT_THRESHOLD = 0.15
N_SHARDS = 8


def _knn_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (KNN_K, ANN_BITS) kNN graph as an S15 parquet materialization:
    SEVEN queries consume this identical frame (the graph itself,
    pagerank, label propagation, walks, skip-grams, triangles, outliers),
    so the bucketed self-join + top-k window runs once per dataset
    instead of once per query.
    Fingerprint-guarded on embeddings.parquet; no TTL (read-only data)."""
    import os as _os

    sf_name = _os.path.basename(sf_dir.rstrip("/"))

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return sim_ops.knn_graph(emb, KNN_K, ANN_BITS)

    return materialize_summary(
        spark,
        summary_path(f"knn_edges_{sf_name}.parquet"),
        build,
        sources=[_os.path.join(sf_dir, "embeddings.parquet")],
    )


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _knn_edges_cached(spark, sf_dir)


def _knn_graph_oracle() -> str:
    return f"""
WITH wb AS (SELECT vec_id, embedding,
                   {_bucket_sql('embedding', ANN_BITS)} AS bucket
            FROM embeddings),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, ROUND({_COS_SQL}, 4) AS cos_sim
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
SELECT src AS vec_id, dst AS neighbor_id, rank, cos_sim FROM (
  SELECT src, dst, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos_sim DESC, dst) AS rank
  FROM scored)
WHERE rank <= {KNN_K}
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.containment_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", CONTAINMENT_THRESHOLD,
        max_doc_freq=SHINGLE_MAX_DF,
    )


ORACLE_CONTAINMENT_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
capped AS ({_CAPPED_SH_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / sa.set_size, 6) AS containment
FROM inter JOIN sizes sa ON sa.doc_id = id_a
WHERE ROUND(CAST(n_inter AS DOUBLE) / sa.set_size, 6) >= {CONTAINMENT_THRESHOLD}
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import packing as packing_ops

    docs = load_table(spark, sf_dir, "documents")
    return packing_ops.hash_shard_manifest(docs, "doc_id", "text", N_SHARDS)


ORACLE_SHARD_MANIFEST = f"""
WITH per_shard AS (
  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {N_SHARDS} AS shard_id,
         COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1)
SELECT shard_id, n_docs, total_tokens, total_chars,
       ROUND(CAST(total_tokens AS DOUBLE) / SUM(total_tokens) OVER (), 6)
         AS token_share
FROM per_shard
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (round 3)
# ---------------------------------------------------------------------------
N_BPE_MERGES = 6


def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained merge table, shared per session: four queries
    consume the same 6-row table, which otherwise re-runs the 6
    sequential training rounds per consumer."""
    from ..operators import bpe as bpe_ops

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return spark.createDataFrame(
            bpe_ops.bpe_merges(docs, "text", N_BPE_MERGES).collect(),
            "merge_rank int, pair string, merged string, pair_count bigint",
        )  # bounded: n_merges rows

    return shared(spark, ("bpe_merges", sf_dir), build)


def q_bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_merges(spark, sf_dir)


def _bpe_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The segmented frame, shared per session: apply_bpe's chained
    per-rank replaces are the cost of BOTH bpe_segmented_docs and
    bpe_fertility_by_source."""
    from ..operators import bpe as bpe_ops

    return shared(
        spark,
        ("bpe_segmented", sf_dir),
        lambda: bpe_ops.apply_bpe(
            load_table(spark, sf_dir, "documents"),
            _bpe_merges(spark, sf_dir),
            N_BPE_MERGES,
        ),
    )


def q_bpe_segmented_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bpe_segmented(spark, sf_dir)


def _bpe_rounds_sql(n: int) -> str:
    """The unrolled BPE training rounds (mirrors `bpe.bpe_merges` —
    same pair key, same tie-break, same '|'-delimited replace), the same
    unrolled-CTE technique as the Lloyd k-means oracle."""
    parts = [
        f"w AS (SELECT word, COUNT(*) AS freq FROM "
        f"(SELECT unnest({_NTOKS}) AS word FROM documents) GROUP BY 1)",
        "s0 AS (SELECT word, freq, regexp_replace(word, '(.)', "
        r"'(\1)', 'g') AS seq FROM w)",
    ]
    for r in range(1, n + 1):
        parts.append(
            f"""p{r} AS (
  SELECT pair, SUM(freq) AS cnt FROM (
    SELECT freq, unnest(list_transform(generate_series(1, len(syms) - 1),
                        i -> syms[i] || ' ' || syms[i + 1])) AS pair
    FROM (SELECT freq, list_filter(regexp_split_to_array(seq, '[()]+'), x -> x != '') AS syms
          FROM s{r - 1}))
  GROUP BY 1)"""
        )
        parts.append(
            f"t{r} AS (SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)"
        )
        parts.append(
            f"""s{r} AS (
  SELECT word, freq,
         replace(seq, '(' || replace(t.pair, ' ', ')(') || ')',
                      '(' || replace(t.pair, ' ', '') || ')') AS seq
  FROM s{r - 1}, t{r} t)"""
        )
    return "WITH " + ",\n".join(parts)


def _bpe_merge_oracle(n: int = N_BPE_MERGES) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS merge_rank, pair, replace(pair, ' ', '') AS merged, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, n + 1)
    )
    return _bpe_rounds_sql(n) + "\n" + selects


def _bpe_segmented_oracle(n: int = N_BPE_MERGES) -> str:
    return (
        _bpe_rounds_sql(n)
        + f""",
wp AS (SELECT word, len(list_filter(regexp_split_to_array(seq, '[()]+'), x -> x != '')) AS n_pieces
       FROM s{n})
SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_pieces) AS BIGINT) AS n_pieces
FROM (SELECT doc_id, unnest({_NTOKS}) AS word FROM documents) d
JOIN wp USING (word)
GROUP BY 1
"""
    )


def q_bpe_fertility_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: chars-per-BPE-piece after
    segmenting with the corpus-trained merge table — the go/no-go
    metric when choosing whether a tokenizer (or a source) is
    token-efficient enough to train on. Composes `bpe.bpe_merges` ∘
    `bpe.apply_bpe` (broadcast merge ranks, map-only segmentation) with
    one per-source aggregate; integer sums → one double division at
    the end keeps both engines identical."""
    docs = load_table(spark, sf_dir, "documents")
    seg = _bpe_segmented(spark, sf_dir)
    return (
        seg.join(docs.select("doc_id", "source", "n_chars"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("bigint").alias("total_pieces"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "total_pieces",
            "total_chars",
            F.round(
                F.col("total_chars").cast("double")
                / F.col("total_pieces"),
                6,
            ).alias("chars_per_piece"),
        )
    )


def _bpe_fertility_oracle(n: int = N_BPE_MERGES) -> str:
    return (
        _bpe_rounds_sql(n)
        + f""",
wp AS (SELECT word,
              len(list_filter(regexp_split_to_array(seq, '[()]+'),
                              x -> x != '')) AS n_pieces
       FROM s{n}),
perdoc AS (
  SELECT doc_id, CAST(SUM(n_pieces) AS BIGINT) AS n_pieces
  FROM (SELECT doc_id, unnest({_NTOKS}) AS word FROM documents) d
  JOIN wp USING (word)
  GROUP BY 1)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(p.n_pieces) AS BIGINT) AS total_pieces,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(p.n_pieces) AS DOUBLE),
             6) AS chars_per_piece
FROM perdoc p JOIN documents USING (doc_id)
GROUP BY source
"""
    )


# ---------------------------------------------------------------------------
# Per-doc novelty audit (round 3)
# ---------------------------------------------------------------------------
def q_doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct k-gram
    shingles that appear in NO other document — the memorization-audit
    complement of `doc_repetition_signals` (within-doc) and
    `repeated_substring_spans` (cross-doc spans). One shingle explode +
    one df window (shuffle keyed by shingle, the same key every dedup op
    uses) + one per-doc aggregate; integer ratio at the end so the
    double is engine-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    sh = dedup_ops.shingles(docs, "doc_id", "text", SHINGLE_K)
    from pyspark.sql import Window

    df_count = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("_df", df_count)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_unique"),
            F.round(
                F.sum((F.col("_df") == 1).cast("long")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


ORACLE_DOC_NOVELTY_SCORES = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
df AS (SELECT shingle, COUNT(*) AS n FROM sh GROUP BY 1)
SELECT doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(CASE WHEN df.n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       ROUND(CAST(SUM(CASE WHEN df.n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS novelty
FROM sh JOIN df USING (shingle)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Round 4: declared queries for the previously query-less operators —
# line-level dedup, bigram LM, cross-source dup matrix, PageRank, and the
# capped (waterfilling) token-budget planner. Each gets an exact DuckDB
# oracle so the driver can hash-gate it.
# ---------------------------------------------------------------------------
LINE_WRAP_TOKENS = 8
LINE_MIN_CHARS = 10
PR_ITERS = 5
PR_DAMPING = 0.85
CAPPED_BUDGET_TOKENS = 105_000
CAPPED_MAX_EPOCHS = 4.0
CAPPED_ALPHA = 0.5
#: oracle unroll depth for the waterfilling loop — must be >= the actual
#: round count at the gate SFs (measured: 2 @ sf0.001, 3 @ sf0.01,
#: 1 @ sf0.1; each capping round retires >=1 of 20 groups, so 6 is ample)
CAPPED_ORACLE_ROUNDS = 6


def _reflow_expr(text_col: str = "text", width: int = LINE_WRAP_TOKENS):
    """Column expression re-wrapping a text column to `width` whitespace
    tokens per line — a pure projection (no join, no shuffle), so
    callers that need the other columns keep them in place."""
    toks = text_ops.tokens(F.col(text_col))
    lines = F.transform(
        F.sequence(
            F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(width)
        ),
        lambda i: F.concat_ws(" ", F.slice(toks, i, width)),
    )
    return F.concat_ws("\n", lines)


def _reflow_lines(docs: DataFrame, width: int = LINE_WRAP_TOKENS) -> DataFrame:
    """(doc_id, text) with the text re-wrapped to `width` whitespace
    tokens per line. The synthetic corpus is single-line; wrapping gives
    the line-granular dedup operators real line structure to work on
    (near-dup docs share aligned lines), deterministically and
    SQL-expressibly in both engines."""
    return docs.select(
        "doc_id", _reflow_expr("text", width).alias("text")
    )


def _reflow_sql(width: int = LINE_WRAP_TOKENS) -> str:
    return f"""
  SELECT doc_id,
         array_to_string(
           list_transform(generate_series(1, greatest(len(t), 1), {width}),
                          i -> array_to_string(t[i:i+{width - 1}], ' ')),
           chr(10)) AS text
  FROM (SELECT doc_id, {_TOKS} AS t FROM documents)"""


def q_line_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.line_dup_stats(
        _reflow_lines(docs), "doc_id", "text", min_chars=LINE_MIN_CHARS
    )


ORACLE_LINE_DUP_STATS = f"""
WITH reflow AS ({_reflow_sql()}),
lines AS (
  SELECT doc_id, regexp_replace(l, '^\\s+|\\s+$', '', 'g') AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM reflow))
SELECT line, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
FROM lines WHERE length(line) >= {LINE_MIN_CHARS}
GROUP BY line
"""


def q_remove_dup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.remove_dup_lines(
        _reflow_lines(docs), "doc_id", "text",
        max_docs=1, min_chars=LINE_MIN_CHARS,
    )


ORACLE_REMOVE_DUP_LINES = f"""
WITH reflow AS ({_reflow_sql()}),
lines AS (
  SELECT doc_id, t.i AS pos, parts[t.i] AS line,
         regexp_replace(parts[t.i], '^\\s+|\\s+$', '', 'g') AS stripped
  FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM reflow),
       unnest(generate_series(1, len(parts))) AS t(i)),
over_limit AS (
  SELECT stripped FROM lines WHERE length(stripped) >= {LINE_MIN_CHARS}
  GROUP BY stripped HAVING COUNT(DISTINCT doc_id) > 1),
kept AS (
  SELECT l.doc_id, l.pos, l.line FROM lines l
  LEFT JOIN over_limit o
    ON o.stripped = l.stripped AND length(l.stripped) >= {LINE_MIN_CHARS}
  WHERE o.stripped IS NULL),
re AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
       FROM kept GROUP BY doc_id)
SELECT r0.doc_id,
       CASE WHEN r0.text IS NULL THEN NULL
            ELSE COALESCE(re.text, '') END AS text
FROM reflow r0 LEFT JOIN re USING (doc_id)
"""


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.bigram_lm_scores(docs)


def _bigram_lm_oracle(lam: float = 0.7) -> str:
    # literal doubles mirror the Spark expression exactly: lam parses to
    # the same double from its repr; (1-lam) is COMPUTED in Python (as
    # the operator does) and shipped as its full repr
    lam2 = 1.0 - lam
    return f"""
WITH toked AS (
  SELECT doc_id, t.i AS pos, toks[t.i] AS term
  FROM (SELECT doc_id, {_TOKS_LOWER} AS toks FROM documents),
       unnest(generate_series(1, len(toks))) AS t(i)
  WHERE toks[t.i] != ''),
tri AS (
  SELECT doc_id,
         LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev, term
  FROM toked),
per_doc AS (
  SELECT doc_id, prev, term, COUNT(*) AS tf FROM tri GROUP BY 1, 2, 3),
uni AS (SELECT term, SUM(tf) AS ctf FROM per_doc GROUP BY 1),
tot AS (SELECT SUM(ctf) AS total FROM uni),
pu AS (SELECT term, CAST(ctf AS DOUBLE) / CAST(total AS DOUBLE) AS pu
       FROM uni, tot),
big AS (SELECT prev, term, SUM(tf) AS cbf FROM per_doc
        WHERE prev IS NOT NULL GROUP BY 1, 2),
ctx AS (SELECT prev, SUM(cbf) AS cctx FROM big GROUP BY 1),
pb AS (SELECT b.prev, b.term,
              CAST(b.cbf AS DOUBLE) / CAST(c.cctx AS DOUBLE) AS pb
       FROM big b JOIN ctx c USING (prev)),
contrib AS (
  SELECT d.doc_id, d.tf,
         CAST(round(d.tf * -round(ln(
           CASE WHEN d.prev IS NULL THEN u.pu
                ELSE {lam!r} * b.pb + {lam2!r} * u.pu END), 6), 6)
           AS DECIMAL(28,6)) AS nll
  FROM per_doc d
  JOIN pu u USING (term)
  LEFT JOIN pb b ON b.prev = d.prev AND b.term = d.term)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       round(CAST(SUM(nll) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6)
         AS avg_neg_logp
FROM contrib GROUP BY 1
"""


def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_ops.ngram_jaccard_pairs(
        _doc_shingles(spark, sf_dir), "doc_id", JACCARD_THRESHOLD,
        max_doc_freq=SHINGLE_MAX_DF,
    )
    return dedup_ops.cross_source_dup_matrix(docs, pairs)


ORACLE_CROSS_SOURCE_DUP_MATRIX = f"""
WITH sh AS (
  SELECT doc_id, unnest({_shingle_list_sql()}) AS shingle
  FROM (SELECT doc_id, {_NTOKS} AS t FROM documents)),
capped AS ({_CAPPED_SH_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM capped GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter), 6)
        >= {JACCARD_THRESHOLD}),
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = id_a
  JOIN documents db ON db.doc_id = id_b),
counts AS (SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
           FROM lab GROUP BY 1, 2)
SELECT source_a, source_b, n_dup_pairs,
       round(CAST(n_dup_pairs AS DOUBLE)
             / CAST((SELECT SUM(n_dup_pairs) FROM counts) AS DOUBLE), 6)
         AS pair_share
FROM counts
"""


def q_pagerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centrality over the kNN similarity graph — the graph half of
    representativeness-based coreset selection (see operators/graph.py
    pagerank docstring)."""
    from ..operators import graph as graph_ops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges_cached(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    return graph_ops.pagerank(
        edges, damping=PR_DAMPING, iters=PR_ITERS, directed=False
    )


def _knn_edge_ctes() -> list[str]:
    """wb → knn → symmetrized-distinct `e` — the kNN similarity-graph
    edge CTEs shared by the pagerank and triangle oracles (mirrors
    `sim_ops.knn_graph` + undirected symmetrization)."""
    return [
        f"""wb AS MATERIALIZED (SELECT vec_id, embedding,
            {_bucket_sql('embedding', ANN_BITS)} AS bucket
     FROM embeddings)""",
        f"""knn AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
                              ORDER BY ROUND({_COS_SQL}, 4) DESC, b.vec_id)
             AS rank
    FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id)
  WHERE rank <= {KNN_K})""",
        """e AS MATERIALIZED (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM knn
  UNION ALL SELECT dst, src FROM knn))""",
    ]


def _pagerank_oracle(iters: int = PR_ITERS, damping: float = PR_DAMPING) -> str:
    """Unrolled power-iteration rounds (same technique as the Lloyd
    k-means oracle) mirroring `graph.pagerank`'s arithmetic exactly:
    grid-quantized contributions summed as exact BIGINT micro-units,
    full-precision double affine update (no rounding — identical IEEE
    ops on identical inputs in both engines)."""
    parts = _knn_edge_ctes() + [
        "deg AS MATERIALIZED (SELECT u AS node, COUNT(*) AS outdeg FROM e GROUP BY 1)",
        "nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM deg)",
        """r0 AS MATERIALIZED (SELECT node, outdeg, 1.0 / CAST(n AS DOUBLE) AS rank
     FROM deg, nn)""",
    ]
    # (1.0 - damping) precomputed in Python and shipped as its full repr:
    # DuckDB parses "1.0 - 0.85" as DECIMAL literals (exact 0.15), while
    # the operator's Python computes the double 0.15000000000000002 —
    # a 1-ulp base difference on every node, every round.
    base = f"{1.0 - damping!r} / CAST(nn.n AS DOUBLE)"
    for t in range(1, iters + 1):
        parts.append(
            f"""i{t} AS MATERIALIZED (
  SELECT e.v AS node,
         SUM(CAST(round(r.rank / r.outdeg * 1.0e12) AS BIGINT)) AS inflow
  FROM e JOIN r{t - 1} r ON r.node = e.u
  GROUP BY 1)"""
        )
        parts.append(
            f"""r{t} AS MATERIALIZED (
  SELECT r.node, r.outdeg,
         {base} + {damping!r}
           * (CAST(coalesce(i.inflow, 0) AS DOUBLE) / 1.0e12) AS rank
  FROM r{t - 1} r LEFT JOIN i{t} i USING (node) CROSS JOIN nn)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT CAST(node AS BIGINT) AS node, rank FROM r{iters}"
    )


def q_knn_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood density of the kNN similarity graph: per-node
    triangle counts + local clustering coefficient
    (operators/graph.py `triangle_stats`) — high-coefficient nodes sit
    inside tight semantic clusters (dedup/coreset candidates),
    low-coefficient nodes bridge regions."""
    from ..operators import graph as graph_ops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges_cached(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    return graph_ops.triangle_stats(edges)


def _triangle_oracle() -> str:
    ctes = _knn_edge_ctes() + [
        "tdeg AS MATERIALIZED (SELECT u AS node, COUNT(*) AS degree"
        " FROM e GROUP BY 1)",
        "od AS MATERIALIZED (SELECT u, v FROM e WHERE u < v)",
        """tri AS MATERIALIZED (
  SELECT w.x, w.y, w.z
  FROM (SELECT a.u AS x, a.v AS y, b.v AS z
        FROM od a JOIN od b ON a.v = b.u) w
  JOIN od c ON c.u = w.x AND c.v = w.z)""",
        """ntri AS MATERIALIZED (
  SELECT node, COUNT(*) AS t FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
  GROUP BY 1)""",
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT CAST(d.node AS BIGINT) AS node,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(n.t, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(CAST(2 * COALESCE(n.t, 0) AS DOUBLE)
                       / (d.degree * (d.degree - CAST(1.0 AS DOUBLE))), 6)
            ELSE 0.0 END AS clustering_coeff
FROM tdeg d LEFT JOIN ntri n USING (node)
"""
    )


def q_capped_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sampling_ops.capped_token_budget_plan(
        docs,
        "source",
        text_ops.token_count(F.col("text")),
        CAPPED_BUDGET_TOKENS,
        alpha=CAPPED_ALPHA,
        max_epochs=CAPPED_MAX_EPOCHS,
    )


def _capped_budget_oracle(
    budget: int = CAPPED_BUDGET_TOKENS,
    alpha: float = CAPPED_ALPHA,
    max_epochs: float = CAPPED_MAX_EPOCHS,
    rounds: int = CAPPED_ORACLE_ROUNDS,
) -> str:
    """The waterfilling fixpoint as unrolled CTE rounds with a halt flag
    (no-op passthrough once the loop would have exited), mirroring
    `sampling.capped_token_budget_plan` step for step: 12-dp-grid
    weights (round-HALF_UP), exact DECIMAL weight sums, trunc'd float
    shares, cap-retirement rounds allocating nothing to survivors, and
    the floor-dust break after the first no-cap round."""
    parts = [
        f"""counts AS MATERIALIZED (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1)""",
        "tot AS MATERIALIZED (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM counts)",
        f"""s0 AS MATERIALIZED (
  SELECT source, n_docs, n_tokens,
         CAST(trunc({max_epochs!r} * n_tokens) AS BIGINT) AS cap,
         round(power(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE),
                     {alpha!r}), 12) AS w,
         CAST(0 AS BIGINT) AS planned,
         (n_tokens > 0) AS active
  FROM counts, tot)""",
        f"""c0 AS MATERIALIZED (SELECT CAST({budget} AS BIGINT) AS rem,
            FALSE AS halt FROM tot WHERE total > 0
     UNION ALL SELECT 0, FALSE FROM tot WHERE total = 0)""",
    ]
    for r in range(1, rounds + 1):
        p, q = r - 1, r
        parts.append(
            f"""a{q} AS MATERIALIZED (
  SELECT COUNT(*) AS n_active,
         CAST(COALESCE(SUM(CAST(w AS DECIMAL(30,12))), 0) AS DOUBLE) AS ws
  FROM s{p} WHERE active)"""
        )
        parts.append(
            f"""x{q} AS MATERIALIZED (
  SELECT s.*, c.rem, c.halt, a.n_active,
         (NOT c.halt AND c.rem > 0 AND a.n_active > 0) AS running,
         CASE WHEN (NOT c.halt AND c.rem > 0 AND a.n_active > 0)
                   AND s.active
              THEN CAST(trunc(CAST(c.rem AS DOUBLE) * s.w / a.ws) AS BIGINT)
              ELSE 0 END AS share
  FROM s{p} s CROSS JOIN c{p} c CROSS JOIN a{q} a)"""
        )
        parts.append(
            f"""y{q} AS MATERIALIZED (
  SELECT *, (running AND active AND planned + share >= cap) AS newly
  FROM x{q})"""
        )
        parts.append(
            f"""z{q} AS MATERIALIZED (
  SELECT COALESCE(BOOL_OR(newly), FALSE) AS anyc,
         CAST(COALESCE(SUM(CASE WHEN newly THEN cap - planned END), 0)
              AS BIGINT) AS freed,
         CAST(COALESCE(SUM(CASE WHEN running AND active THEN share END), 0)
              AS BIGINT) AS spent
  FROM y{q})"""
        )
        parts.append(
            f"""s{q} AS MATERIALIZED (
  SELECT source, n_docs, n_tokens, cap, w,
         CASE WHEN NOT running THEN planned
              WHEN anyc AND newly THEN cap
              WHEN anyc THEN planned
              ELSE planned + share END AS planned,
         CASE WHEN running AND anyc AND newly THEN FALSE
              ELSE active END AS active
  FROM y{q} CROSS JOIN z{q})"""
        )
        parts.append(
            f"""c{q} AS MATERIALIZED (
  SELECT CASE WHEN NOT running THEN rem
              WHEN anyc THEN rem - freed
              ELSE rem - spent END AS rem,
         CASE WHEN NOT running THEN halt
              WHEN anyc THEN halt
              ELSE (rem - spent) < n_active END AS halt
  FROM (SELECT BOOL_OR(running) AS running, MAX(rem) AS rem,
               BOOL_OR(halt) AS halt, MAX(n_active) AS n_active
        FROM y{q}) CROSS JOIN z{q})"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT source, n_docs, n_tokens, planned AS planned_tokens,
       CASE WHEN n_tokens > 0
            THEN round(CAST(planned AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
            ELSE 0.0 END AS epochs,
       planned >= cap AS capped
FROM s{rounds}"""
    )


# ---------------------------------------------------------------------------
# NFC normalization under the hash gate (the synthetic corpus is ASCII, so
# non-NFC content is injected in-plan — the same deterministic-augmentation
# trick as the PII queries)
# ---------------------------------------------------------------------------
#: decomposed "é" (e + COMBINING ACUTE U+0301): NFC composes it to U+00E9
_NFC_DECOMPOSED = " caf\u0065\u0301"
_NFC_COMPOSED = " caf\u00e9"


def q_nfc_normalized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC pass row-gated cross-engine: docs get a deterministic
    suffix — decomposed e+U+0301 (doc_id%3==0, normalization must
    compose it), precomposed U+00E9 (doc_id%3==1, must pass through
    unchanged), none (else) — then `text.unicode_normalize` runs and the
    oracle predicts the exact normalized text via DuckDB's
    `nfc_normalize`. Pins the Arrow pandas_udf path (the one text op
    that crosses into Python) and the changed-flag semantics."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_NFC_DECOMPOSED))
            .when(F.col("doc_id") % 3 == 1, F.lit(_NFC_COMPOSED))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = text_ops.unicode_normalize(aug, "text", form="NFC")
    return out.select(
        "doc_id",
        F.col("text").alias("normed_text"),
        F.length("text").alias("n_chars_normed"),
        "changed",
    )


ORACLE_NFC_NORMALIZED_DOCS = f"""
WITH aug AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0 THEN ' caf' || 'e' || chr(769)
                      WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
                      ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       nfc_normalize(text) AS normed_text,
       CAST(length(nfc_normalize(text)) AS INT) AS n_chars_normed,
       nfc_normalize(text) != text AS changed
FROM aug
"""


# ---------------------------------------------------------------------------
# Content-defined chunking dedup
# ---------------------------------------------------------------------------
CDC_MOD = 8
CDC_SALT = "cdc-v1"


def q_cdc_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicated-content share under content-defined chunking
    (operators/dedup.py `cdc_chunk_stats`): (doc_id, n_chunks,
    n_dup_chunks, dup_ratio)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_ops.cdc_chunk_stats(docs, mod=CDC_MOD, salt=CDC_SALT)


ORACLE_CDC_CHUNK_DUPS = f"""
WITH ctoks AS (
  SELECT doc_id, t.i AS i, parts[t.i] AS w
  FROM (SELECT doc_id, {_TOKS} AS parts FROM documents),
       unnest(generate_series(1, len(parts))) AS t(i)),
ccut AS (
  SELECT doc_id, i, w,
         CASE WHEN {_bucket_of('w', CDC_SALT)} % {CDC_MOD} = 0
              THEN 1 ELSE 0 END AS cut
  FROM ctoks),
cchunk AS (
  SELECT doc_id, i, w,
         COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY i
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_idx
  FROM ccut),
cck AS (
  SELECT doc_id, chunk_idx, md5(string_agg(w, ' ' ORDER BY i)) AS ck
  FROM cchunk GROUP BY doc_id, chunk_idx),
cfreq AS (SELECT ck, COUNT(DISTINCT doc_id) AS nd FROM cck GROUP BY ck)
SELECT c.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(CAST(SUM(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS dup_ratio
FROM cck c JOIN cfreq f USING (ck)
GROUP BY c.doc_id
"""


# ---------------------------------------------------------------------------
# Distribution-drift monitoring (PSI per source)
# ---------------------------------------------------------------------------
PSI_LO = 0.0
PSI_HI = 400.0
PSI_BUCKETS = 10
PSI_SMOOTH = 0.5


def q_source_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source population-stability index of the doc-length
    distribution vs the whole corpus (operators/drift.py): (source,
    n_rows, psi). The monitoring gate a production mixture runs before
    trusting a refreshed source."""
    from ..operators import drift as drift_ops

    docs = load_table(spark, sf_dir, "documents")
    return drift_ops.psi_by_group(
        docs,
        "source",
        "n_chars",
        lo=PSI_LO,
        hi=PSI_HI,
        n_buckets=PSI_BUCKETS,
        smooth=PSI_SMOOTH,
    )


def _psi_cte_parts(
    rows_sql: str,
    lo: float,
    hi: float,
    n_buckets: int,
    smooth: float,
    group_alias: str,
) -> tuple[list[str], str]:
    """Generic PSI CTE chain over `rows_sql` (any SELECT yielding
    (grp, val)) — mirrors operators/drift.py `psi_by_group`. Returns
    (cte_list, final_select) so callers can prepend other CTE stacks
    (the embedding-drift oracle chains it after the PCA parts)."""
    width = (hi - lo) / n_buckets
    sb = smooth * n_buckets
    ctes = [
        f"""dcells AS (
  SELECT grp,
         LEAST({n_buckets - 1}, GREATEST(0,
           CAST(floor((CAST(val AS DOUBLE) - {lo}) / {width})
                AS INT))) AS b,
         COUNT(*) AS c
  FROM ({rows_sql}) GROUP BY 1, 2)""",
        "dgroups AS (SELECT grp, SUM(c) AS n FROM dcells GROUP BY grp)",
        f"""dgrid AS (
  SELECT g.grp, g.n, t.b
  FROM dgroups g CROSS JOIN
       (SELECT unnest(generate_series(0, {n_buckets - 1})) AS b) t)""",
        """ddense AS (
  SELECT gr.grp, gr.b, gr.n, COALESCE(c.c, 0) AS c
  FROM dgrid gr
  LEFT JOIN dcells c ON c.grp = gr.grp AND c.b = gr.b)""",
        "dbase AS (SELECT b, SUM(c) AS bc FROM ddense GROUP BY b)",
        "dtot AS (SELECT SUM(bc) AS tot FROM dbase)",
        f"""dj AS (
  SELECT d.grp, d.n,
         (d.c + {smooth}) / (d.n + {sb}) AS p,
         (bb.bc + {smooth}) / (CAST(t.tot AS DOUBLE) + {sb}) AS q
  FROM ddense d JOIN dbase bb USING (b), dtot t)""",
        """dcontrib AS (
  SELECT grp, n,
         CAST(round((p - q) * ln(p / q), 9) AS DECIMAL(28,9)) AS t
  FROM dj)""",
    ]
    final = f"""SELECT grp AS {group_alias}, CAST(MAX(n) AS BIGINT) AS n_rows,
       round(CAST(SUM(t) AS DOUBLE), 6) AS psi
FROM dcontrib GROUP BY grp"""
    return ctes, final


def _psi_oracle() -> str:
    ctes, final = _psi_cte_parts(
        "SELECT source AS grp, n_chars AS val FROM documents",
        PSI_LO,
        PSI_HI,
        PSI_BUCKETS,
        PSI_SMOOTH,
        "source",
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


# ---------------------------------------------------------------------------
# Windowed tokenizer-fertility drift (batch run of the streaming monitor)
# ---------------------------------------------------------------------------
FERT_LO, FERT_HI = 0.0, 4.0
FERT_BUCKETS = 8
FERT_SMOOTH = 0.5
FERT_WINDOW = "10 minutes"
_FERT_TS0_MS = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
_FERT_SPREAD_MIN = 40  # doc_id % 40 minutes -> 4 tumbling windows


def q_fertility_window_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer-fertility drift monitor
    (`streaming/drift.fertility_psi_stream`) executed on a batch frame —
    the EXACT plan the stream runs (the stream==batch twin is pinned in
    tests/test_stream_drift.py): per tumbling window and source, the
    word-level chars-per-piece distribution after segmenting with the
    corpus-trained merge table, PSI-scored against the whole-corpus
    fertility baseline. Timestamps are synthesized in closed form
    (doc_id % 40 minutes past a fixed epoch) so the oracle can rebuild
    the windows; the baseline is an 8-number bounded collect."""
    from ..streaming.drift import baseline_probs, fertility_values

    docs = load_table(spark, sf_dir, "documents")
    merges = _bpe_merges(spark, sf_dir)
    timed = docs.select(
        F.timestamp_millis(
            F.lit(_FERT_TS0_MS)
            + (F.col("doc_id") % _FERT_SPREAD_MIN) * 60_000
        ).alias("ts"),
        "source",
        "text",
    )
    kw = dict(lo=FERT_LO, hi=FERT_HI, n_buckets=FERT_BUCKETS)
    # the segmentation chain (6 broadcast-rank replaces over exploded
    # words) feeds BOTH the baseline collect and the PSI aggregation —
    # persist it so the expensive pass runs once, then hand the values
    # frame straight to psi_stream (what fertility_psi_stream composes;
    # the streaming path can't persist, the batch path should)
    vals = fertility_values(
        timed, merges, N_BPE_MERGES, group_col="source"
    ).persist()
    baseline = baseline_probs(vals, "fertility", smooth=FERT_SMOOTH, **kw)
    from ..streaming.drift import psi_stream

    return psi_stream(
        vals,
        baseline,
        "source",
        "fertility",
        window_duration=FERT_WINDOW,
        smooth=FERT_SMOOTH,
        **kw,
    )


def _fertility_window_psi_oracle(n: int = N_BPE_MERGES) -> str:
    """Mirrors q_fertility_window_psi: the unrolled BPE rounds give each
    vocabulary word its piece count; fertility = length(word)/n_pieces
    (one exact-int division); buckets/windows/baseline/PSI reproduce
    `streaming/drift.psi_stream` op-for-op — the PSI fold is the same
    left-associated chain of 9-dp-rounded decimal terms."""
    width = (FERT_HI - FERT_LO) / FERT_BUCKETS
    sb = FERT_SMOOTH * FERT_BUCKETS
    win_ms = 600_000
    cells_cols = ",\n         ".join(
        f"SUM(CASE WHEN b = {k} THEN 1 ELSE 0 END) AS c{k}"
        for k in range(FERT_BUCKETS)
    )
    base_cols = ", ".join(
        f"SUM(CASE WHEN b = {k} THEN 1 ELSE 0 END) AS bc{k}"
        for k in range(FERT_BUCKETS)
    )
    # ordered left-assoc fold of round((p-q)*ln(p/q), 9)::DECIMAL(28,9)
    terms = " + ".join(
        "CAST(CAST(round("
        f"((CAST(c{k} AS DOUBLE) + {FERT_SMOOTH}) / (CAST(n AS DOUBLE) + {sb})"
        f" - q{k}) * ln(((CAST(c{k} AS DOUBLE) + {FERT_SMOOTH})"
        f" / (CAST(n AS DOUBLE) + {sb})) / q{k}), 9) AS DECIMAL(28,9))"
        " AS DOUBLE)"
        for k in range(FERT_BUCKETS)
    )
    q_cols = ", ".join(
        f"(CAST(bc{k} AS DOUBLE) + {FERT_SMOOTH})"
        f" / (CAST(bt AS DOUBLE) + {sb}) AS q{k}"
        for k in range(FERT_BUCKETS)
    )
    bt_sum = " + ".join(f"bc{k}" for k in range(FERT_BUCKETS))
    return (
        _bpe_rounds_sql(n)
        + f""",
wp AS (SELECT word,
              length(word) AS n_chars,
              len(list_filter(regexp_split_to_array(seq, '[()]+'),
                              x -> x != '')) AS n_pieces
       FROM s{n}),
vals AS (
  SELECT make_timestamp(({_FERT_TS0_MS} + (doc_id % {_FERT_SPREAD_MIN})
                         * 60000) * 1000) AS ts,
         source,
         CAST(wp.n_chars AS DOUBLE) / wp.n_pieces AS fertility
  FROM (SELECT doc_id, source, unnest({_NTOKS}) AS word FROM documents) d
  JOIN wp USING (word)),
bucketed AS (
  SELECT ts, source,
         LEAST({FERT_BUCKETS - 1}, GREATEST(0,
           CAST(floor((fertility - {FERT_LO}) / {width}) AS INT))) AS b
  FROM vals),
bl AS (SELECT {base_cols} FROM bucketed),
blq AS (SELECT {q_cols} FROM (SELECT *, {bt_sum} AS bt FROM bl)),
cells AS (
  SELECT CAST(floor(epoch_ms(ts) / {win_ms}) * {win_ms} AS BIGINT) AS w0,
         source,
         COUNT(*) AS n,
         {cells_cols}
  FROM bucketed GROUP BY 1, 2)
SELECT make_timestamp(w0 * 1000) AS window_start,
       make_timestamp((w0 + {win_ms}) * 1000) AS window_end,
       source,
       CAST(n AS BIGINT) AS n_rows,
       round(0.0 + {terms}, 6) AS psi
FROM cells CROSS JOIN blq
"""
    )


# ---------------------------------------------------------------------------
# Distributed PCA (sufficient statistics + fixed-round power iteration)
# ---------------------------------------------------------------------------
PCA_SQUARINGS = 5
PCA_ROUNDS = 8
PCA_COMPONENTS = 2


def _pca_fit(spark: SparkSession, sf_dir: str) -> dict:
    """The fit (plain Python data), shared per session: every PCA query
    reuses one sufficient-statistics pass."""
    from ..operators import pca as pca_ops

    return shared(
        spark,
        ("pca_fit", sf_dir),
        lambda: pca_ops.fit_pca(
            load_table(spark, sf_dir, "embeddings"),
            dim=EMB_DIM,
            n_components=PCA_COMPONENTS,
            squarings=PCA_SQUARINGS,
            rounds=PCA_ROUNDS,
        ),
    )


def q_embedding_pca_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal components of the embedding table: (component,
    dim, loading, eigenvalue, explained_ratio). One sufficient-stats
    pass (operators/pca.py), eigenvectors via scaled matrix powering +
    power rounds — the oracle unrolls the identical steps as CTEs."""
    from ..operators import pca as pca_ops

    return pca_ops.components_frame(spark, _pca_fit(spark, sf_dir))


def q_embedding_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding projected onto the top-2 components: (vec_id,
    pc1, pc2). Scoring is a map-only codegen projection — the fit rides
    along as literal arrays, zero exchanges after the fit pass."""
    from ..operators import pca as pca_ops

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_ops.pca_scores(emb, _pca_fit(spark, sf_dir))


def _pca_cte_parts(
    dim: int = EMB_DIM,
    squarings: int = PCA_SQUARINGS,
    rounds: int = PCA_ROUNDS,
) -> list[str]:
    """Shared CTE stack mirroring operators/pca.py step-for-step:
    decimal moment sums → quantized covariance → per component:
    `squarings` scaled matrix squarings (symmetric row·row ordered
    dots + max-abs rescale) → `rounds` power rounds (ordered
    `list_dot_product` folds, round(·,9) per round) → Rayleigh λ on the
    ORIGINAL covariance → canonical-order Hotelling deflation for
    component 2. Everything is MATERIALIZED — the chain is ~50 CTEs
    deep and default inlining would re-expand each level
    exponentially."""
    parts = [
        f"""pex AS MATERIALIZED (
  SELECT vec_id, t.i AS i, CAST(embedding[t.i] AS DOUBLE) AS val
  FROM embeddings, unnest(generate_series(1, {dim})) AS t(i))""",
        """pmarg AS MATERIALIZED (
  SELECT i, SUM(CAST(val AS DECIMAL(38,10))) AS s, COUNT(*) AS n
  FROM pex GROUP BY i)""",
        """pmom AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         SUM(CAST(round(a.val * b.val, 10) AS DECIMAL(38,10))) AS s
  FROM pex a JOIN pex b USING (vec_id)
  WHERE a.i <= b.i
  GROUP BY a.i, b.i)""",
        # the moment matrix is symmetric: only the upper triangle is
        # aggregated; the full grid mirrors it via LEAST/GREATEST, with
        # s_min·s_max multiplied in canonical order on both triangles
        """pm1_0 AS MATERIALIZED (
  SELECT g.i, g.j,
         round((CAST(m.s AS DOUBLE)
                - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / si.n)
               / si.n, 10) AS c
  FROM (SELECT a.i, b.i AS j FROM pmarg a CROSS JOIN pmarg b) g
  JOIN pmom m
    ON m.i = LEAST(g.i, g.j) AND m.j = GREATEST(g.i, g.j)
  JOIN pmarg si ON si.i = LEAST(g.i, g.j)
  JOIN pmarg sj ON sj.i = GREATEST(g.i, g.j))""",
    ]
    for comp in (1, 2):
        # row-list form of the level-0 (original / deflated) matrix;
        # every matrix in the chain is exactly symmetric, so A² entries
        # are ordered row·row dots — list_dot_product replays the
        # driver's _fold_dot verbatim (no decimal machinery needed)
        parts.append(
            f"pcr{comp}_0 AS MATERIALIZED (SELECT i, list(c ORDER BY j)"
            f" AS cr FROM pm{comp}_0 GROUP BY i)"
        )
        # scaled squarings: m{comp}_{s} = round(m²/max|m²|, 10)
        for s in range(1, squarings + 1):
            parts.append(
                f"""pq{comp}_{s} AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j, list_dot_product(a.cr, b.cr) AS r
  FROM pcr{comp}_{s - 1} a CROSS JOIN pcr{comp}_{s - 1} b)"""
            )
            parts.append(
                f"ps{comp}_{s} AS MATERIALIZED"
                f" (SELECT MAX(ABS(r)) AS s FROM pq{comp}_{s})"
            )
            parts.append(
                f"pcr{comp}_{s} AS MATERIALIZED (SELECT i,"
                f" list(round(r / (SELECT s FROM ps{comp}_{s}), 10)"
                f" ORDER BY j) AS cr FROM pq{comp}_{s} GROUP BY i)"
            )
        parts.append(
            f"pcrow{comp} AS MATERIALIZED (SELECT i, cr"
            f" FROM pcr{comp}_{squarings})"
        )
        parts.append(
            f"porow{comp} AS MATERIALIZED (SELECT i, cr FROM pcr{comp}_0)"
        )
        parts.append(
            f"pv{comp}_0 AS MATERIALIZED (SELECT i, 1.0 AS v FROM pmarg)"
        )
        for t in range(1, rounds + 1):
            parts.append(
                f"""pu{comp}_{t} AS MATERIALIZED (
  SELECT r.i, list_dot_product(
           r.cr, (SELECT list(v ORDER BY i) FROM pv{comp}_{t - 1})) AS u
  FROM pcrow{comp} r)"""
            )
            parts.append(
                f"pn{comp}_{t} AS MATERIALIZED"
                f" (SELECT sqrt(list_dot_product(l, l)) AS nm"
                f" FROM (SELECT list(u ORDER BY i) AS l FROM pu{comp}_{t}))"
            )
            parts.append(
                f"pv{comp}_{t} AS MATERIALIZED (SELECT i,"
                f" round(u / (SELECT nm FROM pn{comp}_{t}), 9) AS v"
                f" FROM pu{comp}_{t})"
            )
        # Rayleigh quotient vᵀCv on the ORIGINAL (undeflated-for-this-
        # component) covariance — ordered folds, exactly the driver math
        parts.append(
            f"""pw{comp} AS MATERIALIZED (
  SELECT r.i, list_dot_product(
           r.cr, (SELECT list(v ORDER BY i) FROM pv{comp}_{rounds})) AS w
  FROM porow{comp} r)"""
        )
        parts.append(
            f"plam{comp} AS MATERIALIZED (SELECT round(list_dot_product("
            f" (SELECT list(v ORDER BY i) FROM pv{comp}_{rounds}),"
            f" (SELECT list(w ORDER BY i) FROM pw{comp})), 9) AS l)"
        )
        if comp == 1:
            # deflation multiplies in canonical (min,max) index order so
            # the result stays EXACTLY symmetric (the row-dot squaring
            # identity depends on it) — mirrors fit_pca's
            # λ·v[min(i,j)]·v[max(i,j)]
            parts.append(
                f"""pm2_0 AS MATERIALIZED (
  SELECT c.i, c.j, round(c.c - l.l * a.v * b.v, 10) AS c
  FROM pm1_0 c
  JOIN pv1_{rounds} a ON a.i = LEAST(c.i, c.j)
  JOIN pv1_{rounds} b ON b.i = GREATEST(c.i, c.j), plam1 l)"""
            )
    parts.append(
        "ptrace AS MATERIALIZED (SELECT list_reduce(list(c ORDER BY i),"
        " (a, b) -> a + b) AS tr FROM pm1_0 WHERE i = j)"
    )
    return parts


def _pca_components_oracle(
    dim: int = EMB_DIM,
    squarings: int = PCA_SQUARINGS,
    rounds: int = PCA_ROUNDS,
) -> str:
    ctes = ",\n".join(_pca_cte_parts(dim, squarings, rounds))
    sels = []
    for comp in (1, 2):
        sels.append(
            f"""SELECT CAST({comp} AS BIGINT) AS component,
       CAST(i - 1 AS BIGINT) AS dim,
       round(v, 6) AS loading,
       (SELECT round(l, 6) FROM plam{comp}) AS eigenvalue,
       (SELECT round(l / (SELECT tr FROM ptrace), 6) FROM plam{comp})
         AS explained_ratio
FROM pv{comp}_{rounds}"""
        )
    return f"WITH {ctes}\n" + "\nUNION ALL\n".join(sels)


def _pca_scores_oracle(
    dim: int = EMB_DIM,
    squarings: int = PCA_SQUARINGS,
    rounds: int = PCA_ROUNDS,
) -> str:
    ctes = ",\n".join(_pca_cte_parts(dim, squarings, rounds))
    return f"""WITH {ctes},
pmu AS (SELECT list(CAST(s AS DOUBLE) / n ORDER BY i) AS ml FROM pmarg),
pl1 AS (SELECT list(v ORDER BY i) AS vl FROM pv1_{rounds}),
pl2 AS (SELECT list(v ORDER BY i) AS vl FROM pv2_{rounds})
SELECT e.vec_id,
       round(list_dot_product(
         list_transform(generate_series(1, {dim}),
                        k -> CAST(e.embedding[k] AS DOUBLE) - pmu.ml[k]),
         pl1.vl), 6) AS pc1,
       round(list_dot_product(
         list_transform(generate_series(1, {dim}),
                        k -> CAST(e.embedding[k] AS DOUBLE) - pmu.ml[k]),
         pl2.vl), 6) AS pc2
FROM embeddings e, pmu, pl1, pl2
"""


# ---------------------------------------------------------------------------
# ANN recall benchmark (probe-set recall@k of the LSH path vs exact)
# ---------------------------------------------------------------------------
ANN_EVAL_QUERIES = 20


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of sign-LSH bucketing vs the exact ranking over
    a 20-probe set (sim_ops.ann_recall_eval) — the tuning harness for
    the bits/recall trade-off."""
    emb = load_table(spark, sf_dir, "embeddings")
    return sim_ops.ann_recall_eval(
        emb, n_queries=ANN_EVAL_QUERIES, k=TOPK, bits=ANN_BITS
    )


def _ann_recall_oracle() -> str:
    return f"""
WITH pr AS (
  SELECT vec_id AS qid, embedding AS qvec,
         {_bucket_sql('embedding', ANN_BITS)} AS qb
  FROM embeddings WHERE vec_id < {ANN_EVAL_QUERIES}),
ex AS (
  SELECT qid, vec_id FROM (
    SELECT p.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.qid
             ORDER BY round(
               list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(p.qvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(p.qvec AS DOUBLE[]),
                                          CAST(p.qvec AS DOUBLE[])))), 4)
               DESC, e.vec_id) AS rn
    FROM embeddings e CROSS JOIN pr p
    WHERE e.vec_id != p.qid)
  WHERE rn <= {TOPK}),
an AS (
  SELECT qid, vec_id FROM (
    SELECT p.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.qid
             ORDER BY round(
               list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                CAST(p.qvec AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(p.qvec AS DOUBLE[]),
                                          CAST(p.qvec AS DOUBLE[])))), 4)
               DESC, e.vec_id) AS rn
    FROM embeddings e JOIN pr p
      ON {_bucket_sql('e.embedding', ANN_BITS)} = p.qb
    WHERE e.vec_id != p.qid)
  WHERE rn <= {TOPK}),
hits AS (
  SELECT ex.qid, COUNT(*) AS n_hits
  FROM ex JOIN an ON ex.qid = an.qid AND ex.vec_id = an.vec_id
  GROUP BY ex.qid)
SELECT p.qid AS query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / {TOPK}, 6) AS recall
FROM pr p LEFT JOIN hits h ON h.qid = p.qid
"""


# ---------------------------------------------------------------------------
# Count-Min sketch frequency estimates (hash-gateable sketch)
# ---------------------------------------------------------------------------
CMS_WIDTH = 256
CMS_DEPTH = 4
CMS_SALT = "cms-v1"


def q_cms_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min token-frequency estimates vs exact counts
    (sketches.cms_estimates): the d·w-cell sketch, probed with every
    distinct term — unlike HLL/GK this sketch is md5-deterministic, so
    the whole construction hash-gates across engines."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(
            text_ops.tokens(text_ops.normalized_text(F.col("text")))
        ).alias("term")
    ).filter(F.col("term") != "")
    return sketch_ops.cms_estimates(
        terms, width=CMS_WIDTH, depth=CMS_DEPTH, salt=CMS_SALT
    )


def _cms_oracle() -> str:
    b = _bucket_of("r || ':' || term", CMS_SALT)
    return f"""
WITH ct AS (
  SELECT unnest({_NTOKS}) AS term FROM documents),
ctf AS (SELECT term FROM ct WHERE term != ''),
cr AS (SELECT term, unnest(generate_series(0, {CMS_DEPTH - 1})) AS r
       FROM ctf),
cells AS (
  SELECT r, {b} % {CMS_WIDTH} AS bkt, COUNT(*) AS cnt
  FROM cr GROUP BY 1, 2),
exact AS (SELECT term, COUNT(*) AS exact_freq FROM ctf GROUP BY term),
probe AS (
  SELECT term, exact_freq,
         unnest(generate_series(0, {CMS_DEPTH - 1})) AS r
  FROM exact),
pb AS (SELECT term, exact_freq, r, {b} % {CMS_WIDTH} AS bkt FROM probe)
SELECT p.term, p.exact_freq,
       CAST(MIN(c.cnt) AS BIGINT) AS cms_est,
       CAST(MIN(c.cnt) - p.exact_freq AS BIGINT) AS overestimate
FROM pb p JOIN cells c ON c.r = p.r AND c.bkt = p.bkt
GROUP BY p.term, p.exact_freq
"""


# ---------------------------------------------------------------------------
# PMI collocations (phrase detection over document co-occurrence)
# ---------------------------------------------------------------------------
PMI_MIN_DF = 3
PMI_TOP_K = 50


def q_term_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI within-document term pairs (retrieval.term_pmi_pairs):
    the collocation/phrase-detection statistic, df-capped like every
    term-keyed join here."""
    docs = load_table(spark, sf_dir, "documents")
    return retrieval_ops.term_pmi_pairs(
        docs, min_df=PMI_MIN_DF, top_k=PMI_TOP_K
    )


ORACLE_TERM_PMI_PAIRS = f"""
WITH pt AS (
  SELECT doc_id, unnest(list_distinct({_NTOKS})) AS term FROM documents),
ptf AS (SELECT doc_id, term FROM pt WHERE term != ''),
pdf AS (SELECT term, COUNT(*) AS df FROM ptf GROUP BY term),
pk AS (SELECT term, df FROM pdf WHERE df >= {PMI_MIN_DF}),
pj AS (SELECT p.doc_id, p.term, k.df FROM ptf p JOIN pk k USING (term)),
pn AS (SELECT COUNT(*) AS n FROM documents),
pp AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS dfa, b.df AS dfb,
         COUNT(*) AS n_pairs
  FROM pj a JOIN pj b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4)
SELECT term_a, term_b, n_pairs,
       round(ln(CAST(n_pairs * n AS DOUBLE) / (dfa * dfb)), 6) AS pmi
FROM pp, pn
ORDER BY pmi DESC, term_a, term_b
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# Embedding-space drift (PCA ∘ PSI composition)
# ---------------------------------------------------------------------------
EMB_PSI_LO = -0.6
EMB_PSI_HI = 0.6
EMB_PSI_BUCKETS = 12


def q_embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift per label: PSI of each label's pc1-score
    distribution vs the whole table — the monitoring composition
    (`pca.pca_scores` ∘ `drift.psi_by_group`) that catches a drifting
    encoder or a drifted subpopulation in ONE projection + one cell
    aggregation. pc1 carries the largest variance direction, so shifts
    show up here first; the [lo, hi) grid is fixed (scores of a
    centered projection live in a norm-bounded band), and out-of-band
    mass clamps into edge buckets like every PSI monitor here."""
    from ..operators import drift as drift_ops
    from ..operators import pca as pca_ops

    emb = load_table(spark, sf_dir, "embeddings")
    scores = pca_ops.pca_scores(emb, _pca_fit(spark, sf_dir))
    scored = scores.join(emb.select("vec_id", "label"), "vec_id")
    return drift_ops.psi_by_group(
        scored,
        "label",
        "pc1",
        lo=EMB_PSI_LO,
        hi=EMB_PSI_HI,
        n_buckets=EMB_PSI_BUCKETS,
        smooth=PSI_SMOOTH,
    )


def _embedding_drift_oracle() -> str:
    pca = _pca_cte_parts()
    rows = f"""SELECT e.label AS grp,
       round(list_dot_product(
         list_transform(generate_series(1, {EMB_DIM}),
                        k -> CAST(e.embedding[k] AS DOUBLE) - pmu.ml[k]),
         pl1.vl), 6) AS val
FROM embeddings e,
     (SELECT list(CAST(s AS DOUBLE) / n ORDER BY i) AS ml FROM pmarg) pmu,
     (SELECT list(v ORDER BY i) AS vl FROM pv1_{PCA_ROUNDS}) pl1"""
    psi, final = _psi_cte_parts(
        rows,
        EMB_PSI_LO,
        EMB_PSI_HI,
        EMB_PSI_BUCKETS,
        PSI_SMOOTH,
        "label",
    )
    return "WITH " + ",\n".join(pca + psi) + "\n" + final


WALK_LEN = 3
WALK_SALT = "walk"


def q_knn_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk-style walk corpus over the kNN similarity graph: one
    3-step walk per node, next hop = seeded-hash-min neighbor
    (`graph.random_walks`) — the graph-embedding training-data
    generator, fully deterministic so both engines take identical
    walks."""
    from ..operators import graph as graph_ops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges_cached(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    return graph_ops.random_walks(edges, walk_len=WALK_LEN, salt=WALK_SALT)


def _walks_oracle() -> str:
    parts = _knn_edge_ctes() + [
        "f0 AS (SELECT DISTINCT u AS walk_id, u AS cur FROM e)",
    ]
    for t in range(1, WALK_LEN + 1):
        draw = (
            f"CAST(('0x' || substr(md5('{WALK_SALT}' || '|' "
            f"|| CAST(f.walk_id AS VARCHAR) || '|' || '{t}' || '|' "
            f"|| CAST(e.v AS VARCHAR)), 1, 15)) AS BIGINT)"
        )
        parts.append(
            f"""n{t} AS (
  SELECT f.walk_id, e.v, {draw} AS h
  FROM f{t - 1} f JOIN e ON e.u = f.cur)"""
        )
        parts.append(
            f"""f{t} AS (
  SELECT walk_id, v AS cur FROM (
    SELECT walk_id, v,
           ROW_NUMBER() OVER (PARTITION BY walk_id ORDER BY h, v) AS rk
    FROM n{t})
  WHERE rk = 1)"""
        )
    selects = [
        "SELECT walk_id, CAST(0 AS INT) AS step, cur AS node FROM f0"
    ]
    for t in range(1, WALK_LEN + 1):
        selects.append(
            f"SELECT walk_id, CAST({t} AS INT), cur FROM f{t}"
        )
    return (
        "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL ".join(selects)
    )


def q_cos_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration tool for the embedding near-dup family:
    the distribution of pairwise cosines among LSH-bucket candidate
    pairs, as 0.1-wide histogram buckets — read this BEFORE picking
    `NEAR_DUP_COS`. Only bucketed pairs are scored (the same candidate
    space every ANN/near-dup query joins), so the histogram costs what
    one near-dup pass costs, never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    wb = emb.select(
        "vec_id",
        "embedding",
        sim_ops.sign_lsh_bucket(F.col("embedding"), LSH_BITS).alias("bucket"),
    )
    a = wb.alias("a")
    b = wb.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.expr(
            f"round({sim_ops.cosine_sql('a.embedding', 'b.embedding')}, 6)"
        ).alias("cos_sim")
    )
    bucket = F.floor(F.col("cos_sim") * 10).cast("int")
    return pairs.groupBy(bucket.alias("sim_bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


ORACLE_COS_SIM_HISTOGRAM = f"""
WITH wb AS (SELECT vec_id, embedding,
                   {{bucket_sql}} AS bucket
            FROM embeddings),
pairs AS (
  SELECT ROUND({{cos_sql}}, 6) AS cos_sim
  FROM wb a JOIN wb b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT CAST(floor(cos_sim * 10) AS INT) AS sim_bucket,
       count(*) AS n_pairs
FROM pairs GROUP BY 1
"""


def q_doc_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching audit: per document, how many languages its LINES
    predict (per-line n-gram lang-id over the reflowed line structure),
    the majority language, and the minority-line fraction — the signal
    behind 'mostly-English doc with embedded other-language boilerplate'
    curation rules. Line work is map-side (the lang scorer is pure
    expressions); the only shuffles are the two doc-keyed aggregates."""
    docs = _reflow_lines(load_table(spark, sf_dir, "documents"))
    lines = (
        docs.select(
            "doc_id", F.explode(F.split("text", "\n")).alias("line")
        )
        .select("doc_id", F.trim("line").alias("line"))
        .filter(F.length("line") > 0)
    )
    scored = text_ops.language_scores(lines, "line").select(
        "doc_id", "lang_pred"
    )
    per_lang = scored.groupBy("doc_id", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    best = F.min(
        F.struct((-F.col("n")).alias("negn"), F.col("lang_pred"))
    )
    return per_lang.groupBy("doc_id").agg(
        F.sum("n").alias("n_lines"),
        F.count(F.lit(1)).alias("n_langs"),
        best["lang_pred"].alias("majority_lang"),
        F.round(
            F.lit(1.0)
            + (best["negn"].cast("double") / F.sum("n")),
            6,
        ).alias("minority_frac"),
    )


def _lang_mix_oracle() -> str:
    langs = list(text_ops.LANG_STOPWORDS)
    hit_exprs = ",\n         ".join(
        f"{_stop_hits_sql(text_ops.LANG_STOPWORDS[lang])} AS hits_{lang}"
        for lang in langs
    )
    cases = []
    for i, lang in enumerate(langs):
        conds = []
        for j, other in enumerate(langs):
            if i == j:
                continue
            op = ">=" if i < j else ">"
            conds.append(f"hits_{lang} {op} hits_{other}")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case_sql = "CASE " + " ".join(cases) + f" ELSE '{langs[0]}' END"
    toks_line = _TOKS_LOWER.replace("text", "line")
    return f"""
WITH reflow AS ({_reflow_sql()}),
lines AS (
  SELECT doc_id, regexp_replace(l, '^\\s+|\\s+$', '', 'g') AS line
  FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
        FROM reflow)),
scored AS (
  SELECT doc_id, {case_sql} AS lang_pred
  FROM (SELECT doc_id, {hit_exprs}
        FROM (SELECT doc_id, {toks_line} AS toks FROM lines
              WHERE length(line) > 0))),
per_lang AS (
  SELECT doc_id, lang_pred, count(*) AS n FROM scored GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         sum(n) AS n_lines,
         count(*) AS n_langs,
         min(struct_pack(negn := -n, lang := lang_pred)) AS best
  FROM per_lang GROUP BY doc_id)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_langs AS BIGINT) AS n_langs,
       struct_extract(best, 'lang') AS majority_lang,
       round(1.0 + CAST(struct_extract(best, 'negn') AS DOUBLE)
                   / n_lines, 6) AS minority_frac
FROM agg
"""


def q_html_stripped_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML extraction round-trip: every document is wrapped in-plan in
    a realistic page shell (script with a `<` inside, style, comment,
    heading, entities) and `text.strip_html` must recover exactly the
    known text content — so the oracle is a CLOSED-FORM expression over
    the original text, proving the whole strip pipeline (block removal,
    tag strip, entity decode order, whitespace collapse) byte-exact."""
    from ..operators.text import strip_html

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><script type="text/javascript">var x = 1 < 2;'
            "</script><style>.a { color: red; }</style></head>"
            '<body class="doc"><h1>Doc '
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><!-- crawler artifact --><p>"),
        F.col("text"),
        F.lit(" &amp; tail&nbsp;end</p></body></html>"),
    )
    return docs.select(
        "doc_id", strip_html(page).alias("text")
    )


ORACLE_HTML_STRIPPED_DOCS = """
SELECT doc_id,
       'Doc ' || CAST(doc_id AS VARCHAR) || ' '
         || trim(regexp_replace(text, '\\s+', ' ', 'g'))
         || ' & tail end' AS text
FROM documents
"""


SKIPGRAM_WINDOW = 2


def q_walk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs from the walk corpus (the DeepWalk
    pipeline's second half): for every walk, all (center, context)
    node pairs within {SKIPGRAM_WINDOW} steps, aggregated to
    (node_a < node_b, n_pairs) co-occurrence counts — the input a
    node-embedding trainer consumes. One walk self-join keyed by
    walk_id with a step-distance band (walks are `walk_len+1` rows, so
    the per-key pair space is a constant)."""
    from ..operators import graph as graph_ops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges_cached(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    walks = graph_ops.random_walks(edges, walk_len=WALK_LEN, salt=WALK_SALT)
    a = walks.select(
        "walk_id", F.col("step").alias("s_a"), F.col("node").alias("n_a")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("s_b"), F.col("node").alias("n_b")
    )
    pairs = (
        a.join(b, "walk_id")
        .filter(
            (F.col("s_a") < F.col("s_b"))
            & (F.col("s_b") - F.col("s_a") <= SKIPGRAM_WINDOW)
        )
        .select(
            F.least("n_a", "n_b").alias("node_a"),
            F.greatest("n_a", "n_b").alias("node_b"),
        )
    )
    return pairs.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _skipgram_oracle() -> str:
    walks = _walks_oracle()
    return f"""
WITH walks AS ({walks})
SELECT least(a.node, b.node) AS node_a,
       greatest(a.node, b.node) AS node_b,
       count(*) AS n_pairs
FROM walks a JOIN walks b
  ON a.walk_id = b.walk_id
 AND a.step < b.step AND b.step - a.step <= {SKIPGRAM_WINDOW}
GROUP BY 1, 2
"""


OUTLIER_TOPK = 25


def q_embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier audit: the 25 embeddings whose mean cosine
    to their k nearest (bucketed) neighbors is LOWEST — isolated points
    are mislabeled/garbage-encoder candidates (the kNN-outlier classic,
    Ramaswamy et al. 2000, in cosine form). Nodes whose LSH bucket holds
    no neighbor rank as maximally isolated (mean_sim NULL-first) —
    exactly the points a bucketed index can't vouch for."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = _knn_edges_cached(spark, sf_dir)
    per_node = knn.groupBy(F.col("vec_id")).agg(
        F.round(
            F.sum(F.col("cos_sim").cast("decimal(18,4)"))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sim"),
        F.count(F.lit(1)).alias("n_neighbors"),
    )
    scored = emb.select("vec_id").join(per_node, "vec_id", "left")
    return scored.orderBy(
        F.col("mean_sim").asc_nulls_first(), F.col("vec_id")
    ).limit(OUTLIER_TOPK)


def _outlier_oracle() -> str:
    return f"""
WITH wb AS (SELECT vec_id, embedding,
                   {_bucket_sql('embedding', ANN_BITS)} AS bucket
            FROM embeddings),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, ROUND({_COS_SQL}, 4) AS cos_sim
  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
knn AS (
  SELECT src, cos_sim FROM (
    SELECT src, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY cos_sim DESC, dst) AS rank
    FROM scored)
  WHERE rank <= {KNN_K}),
per_node AS (
  SELECT src AS vec_id,
         round(CAST(sum(CAST(cos_sim AS DECIMAL(18,4))) AS DOUBLE)
               / count(*), 6) AS mean_sim,
         count(*) AS n_neighbors
  FROM knn GROUP BY 1)
SELECT e.vec_id, p.mean_sim, p.n_neighbors
FROM (SELECT vec_id FROM embeddings) e
LEFT JOIN per_node p USING (vec_id)
ORDER BY p.mean_sim ASC NULLS FIRST, e.vec_id
LIMIT {OUTLIER_TOPK}
"""


LP_ITERS = 3
LP_SEED_MOD = 5


def q_knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised auto-labeling: every fifth embedding keeps its
    true label (the 20%-labeled semi-supervised mask, key-derived so
    both engines pick the same seeds); 3 majority-vote rounds over the
    kNN similarity graph pseudo-label the rest
    (`graph.label_propagation` — the cheap labeling pass before
    training a domain classifier)."""
    from ..operators import graph as graph_ops

    emb = load_table(spark, sf_dir, "embeddings")
    edges = _knn_edges_cached(spark, sf_dir).select(
        F.col("vec_id").alias("id_a"), F.col("neighbor_id").alias("id_b")
    )
    seeds = emb.filter(F.col("vec_id") % LP_SEED_MOD == 0).select(
        F.col("vec_id").alias("node"), F.col("label")
    )
    return graph_ops.label_propagation(edges, seeds, iters=LP_ITERS)


def _label_prop_oracle() -> str:
    """Unrolled majority-vote rounds over the shared kNN edge CTEs;
    the argmax tie-break (votes desc, label asc) mirrors the operator's
    (n_votes, -label) struct max."""
    parts = _knn_edge_ctes() + [
        f"""seed AS (SELECT vec_id AS n, CAST(label AS BIGINT) AS seed_label
     FROM embeddings WHERE vec_id % {LP_SEED_MOD} = 0)""",
        """universe AS MATERIALIZED (
  SELECT x.n, s.seed_label
  FROM (SELECT u AS n FROM e UNION SELECT n FROM seed) x
  LEFT JOIN seed s USING (n))""",
        "c0 AS (SELECT n, seed_label, seed_label AS cur_label FROM universe)",
    ]
    for t in range(1, LP_ITERS + 1):
        parts.append(
            f"""v{t} AS (
  SELECT e.v AS n, c.cur_label AS nbr_label, COUNT(*) AS n_votes
  FROM e JOIN c{t - 1} c ON c.n = e.u AND c.cur_label IS NOT NULL
  GROUP BY 1, 2)"""
        )
        parts.append(
            f"""b{t} AS (
  SELECT n, nbr_label AS maj_label FROM (
    SELECT n, nbr_label,
           ROW_NUMBER() OVER (PARTITION BY n
                              ORDER BY n_votes DESC, nbr_label) AS rk
    FROM v{t})
  WHERE rk = 1)"""
        )
        parts.append(
            f"""c{t} AS MATERIALIZED (
  SELECT u.n, u.seed_label,
         COALESCE(u.seed_label, b.maj_label) AS cur_label
  FROM universe u LEFT JOIN b{t} b USING (n))"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT CAST(n AS BIGINT) AS node, cur_label AS label,
       CASE WHEN seed_label IS NOT NULL THEN 'seed'
            WHEN cur_label IS NOT NULL THEN 'propagated' END AS src
FROM c{LP_ITERS}"""
    )


REGISTRY = {
    "doc_token_stats": (q_doc_token_stats, ORACLE_DOC_TOKEN_STATS),
    "doc_chunks": (q_doc_chunks, _chunk_oracle()),
    "doc_quality_by_source": (q_doc_quality_by_source, ORACLE_DOC_QUALITY_BY_SOURCE),
    "lang_id_confusion": (q_lang_id_confusion, _lang_id_oracle()),
    "doc_fingerprint_dups": (q_doc_fingerprint_dups, ORACLE_DOC_FINGERPRINT_DUPS),
    "winnow_signatures": (q_winnow_signatures, ORACLE_WINNOW_SIGNATURES),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, ORACLE_NGRAM_JACCARD_PAIRS),
    "ngram_jaccard_capped": (q_ngram_jaccard_capped, ORACLE_NGRAM_JACCARD_CAPPED),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, _minhash_oracle()),
    "minhash_lsh_capped": (q_minhash_lsh_capped, _minhash_oracle(capped=True)),
    "simhash_docs": (q_simhash_docs, _simhash_oracle()),
    "simhash_near_dup": (q_simhash_near_dup, _simhash_nd_oracle()),
    "embedding_near_dup": (q_embedding_near_dup, ORACLE_EMBEDDING_NEAR_DUP),
    "embedding_topk": (q_embedding_topk, ORACLE_EMBEDDING_TOPK),
    "embedding_ann_topk": (q_embedding_ann_topk, ORACLE_EMBEDDING_ANN_TOPK),
    "embedding_ivf_topk": (q_embedding_ivf_topk, ORACLE_EMBEDDING_IVF_TOPK),
    "embedding_ivf_trained_topk": (q_embedding_ivf_trained_topk, _ivf_trained_oracle()),
    # the stored-index twins deliberately share their in-plan twins'
    # oracles: hash-identical output from the persisted path IS the gate
    "ivf_stored_topk": (q_ivf_stored_topk, _ivf_trained_oracle()),
    "pq_stored_topk": (q_pq_stored_topk, _pq_oracle()),
    "embedding_ivf_probe_topk": (
        q_embedding_ivf_probe_topk, ORACLE_EMBEDDING_IVF_PROBE_TOPK
    ),
    "embedding_bucket_sizes": (q_embedding_bucket_sizes, ORACLE_EMBEDDING_BUCKET_SIZES),
    "embedding_quantize": (q_embedding_quantize, ORACLE_EMBEDDING_QUANTIZE),
    "doc_lm_scores": (q_doc_lm_scores, ORACLE_DOC_LM_SCORES),
    "semantic_near_dup": (q_semantic_near_dup, _semantic_near_dup_oracle()),
    "semantic_near_dup_derived": (
        q_semantic_near_dup_derived,
        _semantic_near_dup_oracle(
        k=_SEMDEDUP_DERIVED_K_SQL
    ),
    ),
    "temperature_mix_rates": (q_temperature_mix_rates, ORACLE_TEMPERATURE_MIX_RATES),
    "temperature_mix_sample": (q_temperature_mix_sample, ORACLE_TEMPERATURE_MIX_SAMPLE),
    "dedup_components": (q_dedup_components, ORACLE_DEDUP_COMPONENTS),
    "corpus_train_split": (q_corpus_train_split, _split_oracle()),
    "stratified_doc_sample": (q_stratified_doc_sample, _stratified_oracle()),
    "doc_quality_filter": (q_doc_quality_filter, _quality_filter_oracle()),
    "train_test_contamination": (q_train_test_contamination, _contamination_oracle()),
    "pack_sequences": (q_pack_sequences, ORACLE_PACK_SEQUENCES),
    "doc_repetition_signals": (q_doc_repetition_signals, _repetition_oracle()),
    "vocab_top_terms": (q_vocab_top_terms, ORACLE_VOCAB_TOP_TERMS),
    "span_dup_stats": (q_span_dup_stats, ORACLE_SPAN_DUP_STATS),
    "repeated_substring_spans": (
        q_repeated_substring_spans, ORACLE_REPEATED_SUBSTRING_SPANS
    ),
    "repeated_spans_bridged": (
        q_repeated_spans_bridged, _repeated_spans_oracle(gap=REP_BRIDGE_GAP)
    ),
    "doc_tfidf_top_terms": (q_doc_tfidf_top_terms, ORACLE_DOC_TFIDF_TOP_TERMS),
    "bm25_search": (q_bm25_search, _bm25_oracle()),
    "doc_token_entropy": (q_doc_token_entropy, ORACLE_DOC_TOKEN_ENTROPY),
    "frequent_terms": (q_frequent_terms, ORACLE_FREQUENT_TERMS),
    "weighted_doc_sample": (q_weighted_doc_sample, ORACLE_WEIGHTED_DOC_SAMPLE),
    "corpus_diff_summary": (q_corpus_diff_summary, ORACLE_CORPUS_DIFF_SUMMARY),
    "leakage_safe_split": (q_leakage_safe_split, _leakage_split_oracle()),
    "embedding_cluster_stats": (
        q_embedding_cluster_stats, ORACLE_EMBEDDING_CLUSTER_STATS
    ),
    "embedding_kmeans": (q_embedding_kmeans, _kmeans_oracle()),
    "token_budget_plan": (q_token_budget_plan, ORACLE_TOKEN_BUDGET_PLAN),
    "minhash_calibration": (q_minhash_calibration, _minhash_calibration_oracle()),
    "lsh_plan_eval": (q_lsh_plan_eval, _lsh_plan_oracle()),
    "span_scrubbed_docs": (q_span_scrubbed_docs, ORACLE_SPAN_SCRUBBED_DOCS),
    "lm_score_buckets": (q_lm_score_buckets, _lm_buckets_oracle()),
    "component_canonicals": (q_component_canonicals, ORACLE_COMPONENT_CANONICALS),
    "lsh_pair_quality": (q_lsh_pair_quality, _lsh_pair_quality_oracle()),
    "corpus_datasheet": (q_corpus_datasheet, _datasheet_oracle()),
    "contrastive_negatives": (q_contrastive_negatives, ORACLE_CONTRASTIVE_NEGATIVES),
    "embedding_pq_topk": (q_embedding_pq_topk, _pq_oracle()),
    "pq_trained_topk": (q_pq_trained_topk, _pq_trained_oracle()),
    "embedding_ivfpq_topk": (q_embedding_ivfpq_topk, _ivfpq_oracle()),
    # fully-stored IVFADC twin shares the in-plan oracle: training is
    # deterministic, so hash-identity IS the stored-serving gate
    "ivfpq_stored_topk": (q_ivfpq_stored_topk, _ivfpq_oracle()),
    "ivf_batch_serve": (q_ivf_batch_serve, _ivf_serve_oracle()),
    "ivf_incremental_serve": (q_ivf_incremental_serve, _ivf_incremental_oracle()),
    "ivf_appended_store_serve": (q_ivf_appended_store_serve, _ivf_incremental_oracle()),
    "ivfadc_refine_serve": (q_ivfadc_refine_serve, _ivfadc_refine_oracle()),
    "ivfadc_stream_serve": (q_ivfadc_stream_serve, _ivfadc_refine_oracle()),
    "ivfadc_recall_eval": (q_ivfadc_recall_eval, _ivfadc_recall_oracle()),
    "pq_distortion_report": (q_pq_distortion_report, _pq_distortion_oracle()),
    "ivf_nprobe_recall_sweep": (q_ivf_nprobe_recall_sweep, _ivf_nprobe_sweep_oracle()),
    "delete_propagation": (q_delete_propagation, ORACLE_DELETE_PROPAGATION),
    "doc_text_scrub": (q_doc_text_scrub, ORACLE_DOC_TEXT_SCRUB),
    "nfc_normalized_docs": (q_nfc_normalized_docs, ORACLE_NFC_NORMALIZED_DOCS),
    "pii_scan": (q_pii_scan, _pii_scan_oracle()),
    "pii_redacted_docs": (q_pii_redacted_docs, _pii_redacted_oracle()),
    "incremental_dedup": (q_incremental_dedup, _incremental_oracle()),
    # stored-index twin deliberately shares the in-plan oracle (the
    # ivf_stored_topk pattern): hash-identity IS the gate
    "incremental_dedup_stored": (q_incremental_dedup_stored, _incremental_oracle()),
    "capped_index_append_classify": (
        q_capped_index_append_classify, _capped_append_oracle()
    ),
    "serving_funnel": (q_serving_funnel, _serving_oracle()),
    "serving_funnel_deleted": (q_serving_funnel_deleted, _deleted_funnel_oracle()),
    "ivf_cell_skew_profile": (q_ivf_cell_skew_profile, _ivf_cell_skew_oracle()),
    "soft_dedup_weights": (q_soft_dedup_weights, ORACLE_SOFT_DEDUP_WEIGHTS),
    "knn_graph": (q_knn_graph, _knn_graph_oracle()),
    "containment_pairs": (q_containment_pairs, ORACLE_CONTAINMENT_PAIRS),
    "shard_manifest": (q_shard_manifest, ORACLE_SHARD_MANIFEST),
    "bpe_merge_table": (q_bpe_merge_table, _bpe_merge_oracle()),
    "bpe_segmented_docs": (q_bpe_segmented_docs, _bpe_segmented_oracle()),
    "fertility_window_psi": (q_fertility_window_psi, _fertility_window_psi_oracle()),
    "doc_novelty_scores": (q_doc_novelty_scores, ORACLE_DOC_NOVELTY_SCORES),
    "line_dup_stats": (q_line_dup_stats, ORACLE_LINE_DUP_STATS),
    "remove_dup_lines": (q_remove_dup_lines, ORACLE_REMOVE_DUP_LINES),
    "bigram_lm_scores": (q_bigram_lm_scores, _bigram_lm_oracle()),
    "cross_source_dup_matrix": (
        q_cross_source_dup_matrix, ORACLE_CROSS_SOURCE_DUP_MATRIX
    ),
    "pagerank_scores": (q_pagerank_scores, _pagerank_oracle()),
    "knn_label_propagation": (q_knn_label_propagation, _label_prop_oracle()),
    "embedding_outlier_scores": (q_embedding_outlier_scores, _outlier_oracle()),
    "knn_random_walks": (q_knn_random_walks, _walks_oracle()),
    "walk_skipgram_pairs": (q_walk_skipgram_pairs, _skipgram_oracle()),
    "html_stripped_docs": (q_html_stripped_docs, ORACLE_HTML_STRIPPED_DOCS),
    "doc_lang_mix": (q_doc_lang_mix, _lang_mix_oracle()),
    "cos_sim_histogram": (
        q_cos_sim_histogram,
        ORACLE_COS_SIM_HISTOGRAM.format(
        bucket_sql=_bucket_sql("embedding", LSH_BITS), cos_sql=_COS_SQL
    ),
    ),
    "capped_token_budget_plan": (q_capped_token_budget_plan, _capped_budget_oracle()),
    "embedding_pca_components": (q_embedding_pca_components, _pca_components_oracle()),
    "embedding_pca_scores": (q_embedding_pca_scores, _pca_scores_oracle()),
    "cdc_chunk_dups": (q_cdc_chunk_dups, ORACLE_CDC_CHUNK_DUPS),
    "source_drift_psi": (q_source_drift_psi, _psi_oracle()),
    "bpe_fertility_by_source": (q_bpe_fertility_by_source, _bpe_fertility_oracle()),
    "embedding_drift_psi": (q_embedding_drift_psi, _embedding_drift_oracle()),
    "knn_triangle_stats": (q_knn_triangle_stats, _triangle_oracle()),
    "term_pmi_pairs": (q_term_pmi_pairs, ORACLE_TERM_PMI_PAIRS),
    "cms_frequency_estimates": (q_cms_frequency_estimates, _cms_oracle()),
    "ann_recall_eval": (q_ann_recall_eval, _ann_recall_oracle()),
}
