"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting, and
document fingerprinting over the ``documents`` table. All pure column
expressions — JVM-side, whole-stage-codegen'd, no Python in the hot path —
so a 100 TB corpus streams through map tasks with zero shuffle except the
final aggregates.

Determinism contract: every function here has an exactly-equivalent ANSI
SQL form (DuckDB oracle) — tokenization is a single regex split shared by
both engines, hashes are md5 (identical everywhere).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: Tokenizer shared with the oracle: split on runs of whitespace.
TOKEN_SPLIT_RE = r"\s+"

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Ordered — ties break toward the earlier language.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens (regex split, shared with the oracle)."""
    return F.split(F.trim(text), TOKEN_SPLIT_RE)


def token_count(text: Column) -> Column:
    """Whitespace token count — the cheap proxy for LLM token budgeting."""
    return F.size(tokens(text))


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding token-window chunking — the RAG-indexing / training-window
    primitive: each document becomes overlapping windows of
    ``chunk_tokens`` whitespace tokens, stepping ``chunk_tokens -
    overlap`` tokens per chunk (the final chunk may be shorter; a chunk
    starts at every ``1 + i*step ≤ n_tokens``).

    Output: (id, chunk_idx, token_start, n_tokens, chunk_text), with
    ``chunk_idx`` 0-based and ``token_start`` 1-based (matching Spark's
    and DuckDB's 1-based array indexing).

    Plan shape: tokenize once into a materialized array column, then a
    single ``posexplode(sequence(...))`` fan-out and one projection —
    map-side only, no shuffle, no UDF; the slice/concat run inside
    codegen against the already-built array attribute (NOT re-derived
    per chunk — the explode+attribute pattern from the MinHash rework).
    At 100 TB the fan-out is ~tokens/step rows per doc and chunk
    boundaries never cross documents, so it parallelizes per input split.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    ex = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .select(F.col(id_col), F.col("toks"), F.size("toks").alias("n"))
        .select(
            F.col(id_col),
            F.col("toks"),
            F.col("n"),
            F.posexplode(
                F.sequence(F.lit(1), F.col("n"), F.lit(step))
            ).alias("chunk_idx", "start"),
        )
    )
    return ex.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("token_start"),
        F.least(F.lit(chunk_tokens), F.col("n") - F.col("start") + 1)
        .cast("bigint")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), F.col("start"), F.lit(chunk_tokens))
        ).alias("chunk_text"),
    )


def bpe_ish_piece_count(text: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    non-alnum symbols (a regex approximation of byte-pair pieces; the real
    tokenizer is model-specific and out of scope). JVM regex only.
    """
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), F.lit(0)
    )
    return F.size(pieces)


def language_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stopword-hit counts for each candidate language plus the
    argmax prediction (`lang_pred`). Ties break in LANG_STOPWORDS order.

    Pure expressions: one `filter(tokens, in-set)` per language — no
    explode, no shuffle, linear in corpus size.
    """
    toks = tokens(F.lower(F.col(text_col)))
    out_cols = list(df.columns)

    def _in_set(words: tuple[str, ...]):
        # single-parameter lambda: F.filter treats 2-arg lambdas as
        # (element, index), which would bind the index Column to `words`
        return lambda t: t.isin(*words)

    score_cols = []
    for lang, words in LANG_STOPWORDS.items():
        hits = F.size(F.filter(toks, _in_set(words)))
        score_cols.append(hits.alias(f"hits_{lang}"))
    out = df.select(*out_cols, *score_cols)
    # argmax with first-wins tie-break: strictly-greater comparison against
    # all later languages, greater-or-equal against earlier ones.
    langs = list(LANG_STOPWORDS)
    pred = None
    for i, lang in enumerate(langs):
        cond = None
        for j, other in enumerate(langs):
            if i == j:
                continue
            c = (
                F.col(f"hits_{lang}") >= F.col(f"hits_{other}")
                if i < j
                else F.col(f"hits_{lang}") > F.col(f"hits_{other}")
            )
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return out.withColumn("lang_pred", pred.otherwise(F.lit(langs[0])))


#: Fraction thresholds are compared at this integer scale so Spark and
#: any SQL oracle evaluate bit-identical predicates (no double division).
_RULE_SCALE = 1_000_000


def quality_filter_flags(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    word_len_lo: float = 3.0,
    word_len_hi: float = 10.0,
    min_distinct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.02,
) -> DataFrame:
    """Gopher/C4-style quality rule chain with per-rule audit flags.

    Adds one boolean per rule (`pass_length`, `pass_word_len`,
    `pass_repetition`, `pass_stopwords`) and the conjunction `keep` —
    pipelines filter on `keep` and aggregate the flags to see WHICH rule
    rejects how much of a source (the audit view a bare filter loses).
    Defaults follow the published heuristics (token-count bounds, mean
    word length 3-10, repetition via distinct-token ratio, stopword
    density floor); callers tune per corpus.

    All ratio rules are evaluated as integer cross-multiplications
    (`n_distinct * SCALE >= threshold_scaled * n_tok`) — no floating
    division, so results are engine-exact and the whole chain is one
    codegen'd projection: no shuffle, no UDF, free at any scale.
    """
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks).cast("bigint")
    n_distinct = F.size(F.array_distinct(toks)).cast("bigint")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    ).cast("bigint")
    tok_chars = F.length(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", "")
    ).cast("bigint")

    scale = F.lit(_RULE_SCALE).cast("bigint")
    wl_lo = F.lit(int(round(word_len_lo * _RULE_SCALE))).cast("bigint")
    wl_hi = F.lit(int(round(word_len_hi * _RULE_SCALE))).cast("bigint")
    dr = F.lit(int(round(min_distinct_ratio * _RULE_SCALE))).cast("bigint")
    sr = F.lit(int(round(min_stopword_ratio * _RULE_SCALE))).cast("bigint")

    pass_length = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    pass_word_len = (tok_chars * scale >= wl_lo * n_tok) & (
        tok_chars * scale <= wl_hi * n_tok
    )
    pass_repetition = n_distinct * scale >= dr * n_tok
    pass_stopwords = stop_hits * scale >= sr * n_tok
    return df.select(
        "*",
        pass_length.alias("pass_length"),
        pass_word_len.alias("pass_word_len"),
        pass_repetition.alias("pass_repetition"),
        pass_stopwords.alias("pass_stopwords"),
        (pass_length & pass_word_len & pass_repetition & pass_stopwords).alias(
            "keep"
        ),
    )


#: Default scrub patterns (Java regex, JVM-evaluated). Order matters:
#: emails go before phones so a phone-like digit run inside an address
#: is consumed by the email rule first.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?\d[\d\s().-]{7,}\d",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
}


def scrub_patterns(
    df: DataFrame,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    token: str = "<{name}>",
) -> DataFrame:
    """Redact pattern matches (PII scrubbing): replaces every match of
    each named pattern with its token (e.g. ``<email>``) and records a
    per-pattern match count (`n_<name>`) for audit aggregation.

    One chained `regexp_replace` + `regexp_count` projection per pattern
    — JVM regex inside whole-stage codegen, no UDF, no shuffle; the same
    linear scan shape as the quality chain, so it composes with it in a
    single stage at any scale. Counts are measured on the ORIGINAL text
    (a later pattern never sees, or double-counts, an earlier token).
    """
    patterns = PII_PATTERNS if patterns is None else patterns
    scrubbed = F.col(text_col)
    count_cols = []
    for name, rx in patterns.items():
        count_cols.append(
            F.regexp_count(F.col(text_col), F.lit(rx)).alias(f"n_{name}")
        )
        scrubbed = F.regexp_replace(
            scrubbed, rx, token.format(name=name)
        )
    return df.select(
        "*", *count_cols, scrubbed.alias(f"{text_col}_scrubbed")
    )


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum (keep
    spaces), collapse whitespace runs, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(text))


def winnow_signatures_df(
    df, id_col: str, text_col: str, gram: int = 4, keep: int = 3
):
    """Rolling-hash-style winnowing signature per doc: hash every
    `gram`-token window (concat → md5, the distributed stand-in for a
    rolling hash) and keep the `keep` smallest hashes, comma-joined —
    near-identical documents share most minimal window hashes even when
    prefixes shift.

    Plan: explode tokens → lead() window strings → one codegen'd md5 per
    window → per-doc smallest-`keep` join. Hashing runs in a codegen'd
    projection after a single (doc, position) shuffle, and the
    aggregation combines map-side (~an order of magnitude faster at scale
    than md5 inside per-doc higher-order functions). Window rows past
    position n−gram are dropped (short docs keep their single partial
    window).
    """
    from pyspark.sql import Window

    # Repartition by doc BEFORE tokenizing (the shingles() r11 move):
    # the raw text shuffles instead of the exploded tokens, the window's
    # required distribution is satisfied so the exchange count does not
    # grow, and tokenization spreads instead of running inside a narrow
    # scan stage. Measured 0.85 → 0.55 s at sf0.1.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(n_shuffle, F.col(id_col))
    toks = tokens(normalized_text(F.col(text_col)))
    exploded = df.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "t")
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, gram)]
    h = F.md5(F.concat_ws(" ", *parts))
    hashed = (
        exploded.withColumn("h", h)
        .filter(F.col("pos") <= F.greatest(F.col("n") - gram, F.lit(0)))
    )
    return hashed.groupBy(id_col).agg(
        F.array_join(
            F.slice(F.array_sort(F.collect_list("h")), 1, keep), ","
        ).alias("signature")
    )


def repetition_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Gopher-style n-gram repetition signals per document.

    For each n in `ns`, emits the characters covered by the single most
    frequent word n-gram (`top{n}_chars`) and by all n-grams occurring
    more than once (`dup{n}_chars`), plus both as fractions of the
    document's character count — the published repetition filters
    (Rae et al. 2021 §A1.1) that catch boilerplate/looping text which a
    distinct-token ratio misses.

    Plan shape (the scale path, same rationale as `dedup.shingles`):
    posexplode tokens → ONE `lead()` window pass per (doc, position) →
    all n-gram widths emitted from that pass as an exploded
    (n, gram) relation → partial-agg counts keyed by (doc, n, gram) →
    one per-doc conditional aggregation. Two shuffles total (position
    window + gram counts), both map-combined; no UDFs, no per-element
    re-evaluation inside interpreted HOFs. Docs shorter than min(ns)
    tokens yield no grams and are absent from the output (documented,
    matches the oracle).

    Char coverage is exact integer arithmetic (`freq * length(gram)`);
    fractions are a single double division of those exact integers, so
    results are engine-portable bit-for-bit.
    """
    from pyspark.sql import Window

    # Same pre-tokenize repartition as winnow_signatures_df above:
    # exchange count unchanged (the lead window needs hash(id) anyway),
    # raw-text bytes shuffled instead of exploded tokens, tokenize
    # spread across the cluster. Measured 0.87 → 0.57 s at sf0.1.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df = df.repartition(n_shuffle, F.col(id_col))
    toked = df.select(
        F.col(id_col),
        F.length(F.trim(F.col(text_col))).cast("bigint").alias("n_chars"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    max_n = max(ns)
    lead_cols = [F.col("tok").alias("t0")] + [
        F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, max_n)
    ]
    led = toked.select(id_col, "n_chars", *lead_cols)
    leads = [F.col(f"t{j}") for j in range(max_n)]
    gram_structs = F.array(
        *[
            F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", *leads[:n]).alias("gram"),
                leads[n - 1].isNotNull().alias("ok"),
            )
            for n in ns
        ]
    )
    grams = (
        led.select(id_col, "n_chars", F.explode(gram_structs).alias("g"))
        .filter(F.col("g.ok"))
        .select(id_col, "n_chars", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    )
    counts = grams.groupBy(id_col, "n_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("freq")
    )
    chars = (F.col("freq") * F.length("gram").cast("bigint")).cast("bigint")
    aggs = []
    for n in ns:
        aggs.append(
            F.coalesce(F.max(F.when(F.col("n") == n, chars)), F.lit(0))
            .cast("bigint")
            .alias(f"top{n}_chars")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when((F.col("n") == n) & (F.col("freq") > 1), chars)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"dup{n}_chars")
        )
    per = counts.groupBy(id_col, "n_chars").agg(*aggs)
    fracs = []
    for n in ns:
        fracs.append(
            F.try_divide(
                F.col(f"top{n}_chars").cast("double"), F.col("n_chars")
            ).alias(f"top{n}_frac")
        )
        fracs.append(
            F.try_divide(
                F.col(f"dup{n}_chars").cast("double"), F.col("n_chars")
            ).alias(f"dup{n}_frac")
        )
    cols = [id_col, "n_chars"]
    for n in ns:
        cols += [f"top{n}_chars", f"dup{n}_chars"]
    return per.select(*cols, *fracs)


def vocab_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-k terms by term frequency,
    with document frequency alongside — the vocab-building / stopword-
    discovery primitive of a corpus pipeline.

    Plan shape: explode lowercased tokens → one hash aggregate keyed by
    term (map-side combined; term-frequency skew is absorbed by the
    partial agg, a hot term arrives at its reducer as one row per map
    task) → `orderBy(tf desc, term).limit(k)`, which Spark plans as
    TakeOrderedAndProject: per-partition top-k then a k-row merge on the
    driver — no global sort, no single-partition window. The (tf, term)
    order is a total order, so the k-boundary is deterministic.
    """
    terms = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(id_col).alias("doc_freq"),
        )
        .orderBy(F.desc("tf"), "term")
        .limit(k)
    )


def token_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (nats) —
    the gibberish/boilerplate detector that catches what ratio rules
    miss (near-zero entropy = one token repeated; max = all distinct).

    Computed as H = ln(n) − (Σ tf·ln(tf)) / n from exact integer term
    frequencies. Cross-engine determinism: each `ln` is rounded to 6
    decimals (1-ulp engine divergence otherwise — see
    `operators/retrieval.py`), each per-term product is rounded and
    summed as DECIMAL so the cross-row sum is exact and order-free, and
    the final expression is IEEE arithmetic on identical doubles.

    Plan shape: explode → (doc, term) partial-agg'd counts → one per-doc
    aggregate. Two shuffles, both map-combined; no windows, no UDFs.
    """
    tc = (
        df.select(
            F.col(id_col),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w = F.round(
        F.col("tf") * F.round(F.log(F.col("tf").cast("double")), 6), 6
    ).cast("decimal(28,6)")
    per = tc.groupBy(id_col).agg(
        F.sum("tf").alias("n_tok"),
        F.sum(w).alias("wsum"),
    )
    h = F.round(
        F.round(F.log(F.col("n_tok").cast("double")), 6)
        - F.col("wsum").cast("double") / F.col("n_tok"),
        6,
    )
    return per.select(id_col, "n_tok", h.alias("entropy"))


def clean_control_chars(text: Column) -> Column:
    """Encoding-damage scrub: NBSP → space, C0/DEL control characters →
    space, whitespace runs collapsed, trimmed — the cheap first repair
    pass over web-extracted text (mojibake-lite; full charset repair
    needs a codec library, but control-character damage is the bulk of
    what survives HTML extraction). Pure JVM regex chain — shuffle-free,
    engine-portable (same character-class syntax in the oracle)."""
    t = F.regexp_replace(text, " ", " ")
    t = F.regexp_replace(t, r"[\x00-\x1F\x7F]", " ")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def unicode_normalize(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    changed_col: str | None = "changed",
) -> DataFrame:
    """Unicode normalization pass (CCNet applies NFC before hashing;
    NFKC is the tokenizer-facing variant): `text_col` is replaced by its
    normalized form, a boolean `changed_col` column flags docs the pass
    actually touched (pass None to skip the flag entirely), and every
    other column passes through untouched (so the pass composes
    mid-pipeline). Raises if `changed_col` collides with an existing
    input column — a user column must never be silently destroyed by an
    opt-in pre-stage. Without it, composed "é" (U+00E9) and
    decomposed "e"+U+0301 hash differently, silently splitting exact-dup
    groups and BPE vocabulary entries for byte-identical-looking text.

    Spark SQL has no normalization builtin, so this is the one text op
    that crosses into Python — as an Arrow-batched pandas_udf over
    `unicodedata` (stdlib), never per-row. Map-only: no shuffle, scales
    as a pure scan; run it ONCE at ingest so every downstream hash
    (fingerprints, shingles, MinHash, BPE) sees canonical bytes.
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    if changed_col is not None and changed_col in df.columns:
        raise ValueError(
            f"unicode_normalize would overwrite existing column "
            f"{changed_col!r}; pass changed_col=None or a free name"
        )

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    # staged projection so the UDF column is evaluated once, not once
    # per downstream reference; every other column passes through
    # untouched so the pass composes mid-pipeline
    staged = df.withColumn("_normed", _norm(F.col(text_col)))
    if changed_col is not None:
        staged = staged.withColumn(
            changed_col, ~F.col("_normed").eqNullSafe(F.col(text_col))
        )
    return staged.withColumn(text_col, F.col("_normed")).drop("_normed")


def strip_html(text: Column) -> Column:
    """Web-corpus HTML removal: drop script/style/comment blocks, strip
    tags, decode the common entities, collapse whitespace — the
    extraction pass between raw crawl HTML and every text operator in
    this package. Pure JVM regex chain (codegen, shuffle-free).

    Entity order matters: ``&amp;`` decodes LAST, otherwise
    ``&amp;lt;`` would double-decode to ``<`` and re-introduce tag
    characters the tag pass already ran over — the classic extraction
    bug, pinned in test_text.
    """
    s = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style[^>]*>.*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    for ent, rep in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", "\""),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),  # LAST — see docstring
    ):
        s = F.regexp_replace(s, ent, rep)
    return F.trim(F.regexp_replace(s, r"\s+", " "))
