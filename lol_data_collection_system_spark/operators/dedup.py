"""Deduplication for training-data pipelines: exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design
------------
- Exact dedup is a hash-groupBy: one shuffle on the 16-byte fingerprint.
- Jaccard/MinHash avoid the O(n²) pair space by joining only documents
  that share a shingle / LSH band bucket — the shuffle key is the shingle
  or band hash, so co-occurring documents land in the same partition and
  the candidate set stays near-linear for natural corpora. Frequent
  shingles (the skew risk at 100 TB) are handled by AQE skew splitting;
  a document-frequency cap on shingles is the standard extra lever.
- SimHash is embarrassingly parallel (per-doc signature) + one self-join
  on band prefix for candidates.
- All hashing is md5 so the DuckDB oracle reproduces results bit-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import quote_ident
from .text import fingerprint, normalized_text, tokens


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------
def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by content fingerprint; keep the smallest id as the
    canonical representative. One hash-aggregate, no joins."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# Shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------
def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    wide: bool = True,
) -> DataFrame:
    """Distinct word k-gram shingles per document (exploded).

    Plan shape (the scale path, same as `winnow_signatures_df`): posexplode
    tokens → `lead()` windows over (doc, position) → one codegen'd
    `concat_ws` per shingle → distinct. A document shorter than `k` tokens
    yields its whole text as one shingle (`concat_ws` drops the null
    leads), mirroring the per-doc array formulation.

    (That array formulation — `transform(sequence(...), i ->
    concat_ws(slice(toks, i+1, k)))` — re-evaluates the tokenization
    expression tree inside interpreted higher-order functions per element:
    ~2.5× the whole suite's cost at sf0.1. Exploding first keeps every
    per-token expression inside whole-stage codegen; the only added
    shuffle is the (doc, position) window, which Jaccard/MinHash need
    anyway for their own aggregations.)
    """
    # Tokenization runs in the SCAN stage — on a narrow input (one
    # parquet file locally) the whole regex/explode pass serializes on
    # one core. Repartitioning by id BEFORE tokenizing satisfies the
    # window's required distribution, so the exchange COUNT is
    # unchanged — the shuffle just moves below the Generate and carries
    # the raw text rows instead of the (~10x larger) exploded token
    # rows. N is pinned to spark.sql.shuffle.partitions (the
    # deployment-scaled knob) because an unpinned repartition would be
    # AQE-coalesced back to one partition on small inputs, undoing the
    # parallelism this exists to provide. `wide=False` opts a caller
    # out: a consumer that immediately localCheckpoints the shingle
    # frame (incremental_dedup) pays one extra stage dispatch per
    # checkpoint materialization, which outweighs the tokenize
    # parallelism at small scale (interleaved A/B at sf0.1: family
    # total 29.8 → 26.9 s wide, but incremental_dedup alone +0.35 s).
    if wide:
        n_shuffle = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        df = df.repartition(n_shuffle, F.col(id_col))
    toked = df.select(
        F.col(id_col),
        F.posexplode(tokens(normalized_text(F.col(text_col)))).alias("pos", "tok"),
    )
    # the window projection as parsed strings (one py4j round-trip per
    # expression instead of per lead/count/greatest node — see
    # `minhash_signatures`); resolved plan identical:
    # same lead() defaults, same unbounded count frame, same greatest
    ow = f"OVER (PARTITION BY {quote_ident(id_col)} ORDER BY pos)"
    parts = ", ".join(
        ["tok"] + [f"lead(tok, {j}) {ow}" for j in range(1, k)]
    )
    return (
        toked.selectExpr(
            quote_ident(id_col),
            f"concat_ws(' ', {parts}) AS shingle",
            f"(pos <= greatest(count(1) OVER (PARTITION BY {quote_ident(id_col)})"
            f" - {k}, 0)) AS _keep",
        )
        .filter(F.col("_keep"))
        .select(id_col, "shingle")
        .distinct()
    )


def cap_shingles(
    sh: DataFrame, id_col: str, max_doc_freq: int | None
) -> DataFrame:
    """Drop shingles whose document frequency exceeds `max_doc_freq`.

    THE skew lever for shingle-keyed self-joins at corpus scale: a shingle
    appearing in f documents contributes f² join rows, so a handful of
    stop-phrases can dominate the shuffle (at sf0.1 of the synthetic
    corpus, 90% of shingles exceed df 5 and the capped join is ~10×
    smaller).

    Implemented as a count over `Window.partitionBy(shingle)` rather than
    a groupBy + semi-join back: the window computes the shingle subtree
    ONCE and shuffles it once (by the same shingle key the downstream
    self-join uses, so the join can reuse the partitioning), where the
    semi-join form scans+explodes the corpus twice and shuffles twice.
    Measured at sf0.1: full capped-Jaccard 1.8 s → 1.0 s. Skew exposure
    is identical — either form moves all rows of a hot shingle to one
    partition before dropping them."""
    if max_doc_freq is None:
        return sh
    from pyspark.sql import Window

    df_count = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        sh.withColumn("_df", df_count)
        .filter(F.col("_df") <= max_doc_freq)
        .select(id_col, "shingle")
    )


def _capped(sh: DataFrame, id_col: str, max_doc_freq: int | None) -> DataFrame:
    """`cap_shingles`, persisted when it derives a new frame: the capped
    frame feeds several consumers (set sizes, both join sides), and
    Spark recomputes an uncached subtree once per consumer. An uncapped
    call returns the caller's frame as passed — the caller owns its
    caching (the session-shared corpus frame is already persisted)."""
    if max_doc_freq is None:
        return sh
    return cap_shingles(sh, id_col, max_doc_freq).persist()


def ngram_jaccard_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over the (id, shingle) sets
    of `sh` (a `shingles` frame).

    Candidate generation = self-join on shingle (only docs sharing ≥1
    shingle are ever compared); |A∩B| = shared-shingle count, |A∪B| =
    |A|+|B|−|A∩B|. Returns (id_a < id_b, jaccard) above threshold.

    `max_doc_freq` is the skew lever at corpus scale: a shingle appearing
    in f documents contributes f² join rows, so one stop-phrase can
    dominate the shuffle. When set, shingles with document frequency
    > max_doc_freq are dropped from the WHOLE computation (set sizes,
    intersections, candidates) — i.e. Jaccard over the capped shingle
    space, the standard stop-shingle removal. None = exact/off (the
    oracle-checked default).
    """
    sh = _capped(sh, id_col, max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
#: Mersenne prime 2^31-1 for the universal-hash permutation family.
MINHASH_PRIME = 2_147_483_647


def minhash_perm(i: int):
    """Permutation i of the universal family h_i(x) = (a_i·x + b_i) mod p.

    a_i odd and < p, b_i < p; x < p ⇒ a_i·x < 2^62 (no 64-bit overflow) —
    identical integer arithmetic in Spark and DuckDB."""
    return 2 * i + 1, 7_919 * i + 1


def minhash_signatures(
    sh: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n_hashes-wide MinHash signature per document of `sh` (a
    `shingles` frame — callers that also need the shingles themselves,
    e.g. the Jaccard truth side, build it once and share it).

    Plan shape (the scale path): ONE md5 per shingle (60-bit prefix as
    bigint, reduced mod p) → n cheap integer permutations (a_i·h + b_i
    mod p) → groupBy(doc) min per permutation. Partial aggregation
    shrinks the shuffle to n longs per doc per partition.

    `max_doc_freq` caps the shingle document frequency (see
    `cap_shingles`) — signatures are then MinHash over the capped shingle
    space. Unlike Jaccard, capping is NOT monotonic for downstream LSH
    (removing a shingle can change a band hash either way), so capped and
    uncapped LSH runs are distinct, separately-gated queries.

    (A previous formulation computed ``md5(seed:shingle)`` per seed inside
    nested array exprs — n md5s per shingle plus shingle-array recompute
    per signature column; 60× slower at sf0.1.)
    """
    sh = cap_shingles(sh, id_col, max_doc_freq)
    # one parsed string per permutation instead of ~8 py4j round-trips
    # each (measured ~0.45 s of pure construction per call at n=16 —
    # r11, guide §7.3); the resolved arithmetic is identical: the md5
    # prefix cast to BIGINT, reduced mod p, then (a·h + b) mod p with
    # the same integer promotions
    h = (
        "(CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME})"
    )
    perm_sqls = []
    for i in range(n_hashes):
        a, b = minhash_perm(i)
        perm_sqls.append(f"(({a} * {h} + {b}) % {MINHASH_PRIME}) AS p_{i}")
    hashed = sh.selectExpr(quote_ident(id_col), *perm_sqls)
    return hashed.groupBy(id_col).agg(
        *[F.min(f"p_{i}").alias(f"mh_{i}") for i in range(n_hashes)]
    )


def lsh_candidate_pairs(
    sh: DataFrame,
    id_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs over `sh` (a `shingles` frame): band
    the signature (n_hashes/band_size bands of band_size rows), hash
    each band, self-join on (band_idx, band_hash). Documents agreeing on
    any band become a candidate pair.

    The join key is the band hash → the shuffle distributes by bucket;
    bucket sizes are small for non-pathological corpora, keeping the pair
    blow-up local. `max_doc_freq` (see `cap_shingles`) additionally bounds
    the shingle-side skew feeding the signatures. Returns distinct
    (id_a < id_b).
    """
    sig = minhash_signatures(sh, id_col, n_hashes, max_doc_freq)
    return _candidate_pairs_from_signatures(sig, id_col, n_hashes, band_size)


def _band_hashes(n_hashes: int, band_size: int) -> Column:
    """The banded-signature array: md5 over each `band_size`-wide slice
    of the mh_* columns, '|'-joined. THE single definition of the
    banding geometry — the candidate generator and the calibration
    audit both read it, so they can never measure different schemes."""
    n_bands = n_hashes // band_size
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh_{b * band_size + r}")
                        for r in range(band_size)
                    ],
                )
            )
            for b in range(n_bands)
        ]
    )


def _candidate_pairs_from_signatures(
    sig: DataFrame, id_col: str, n_hashes: int, band_size: int
) -> DataFrame:
    """Distinct (id_a < id_b) pairs agreeing on ≥1 band of `sig`.

    The banded frame is persisted before the self-join: the two sides
    project different aliases BELOW the exchange, so Spark's
    ReuseExchange cannot deduplicate them and the whole signature
    subtree (md5 + n permutations + min-aggregate over every shingle)
    would otherwise execute once PER SIDE (measured at sf0.1: the two
    ~12 s-executor signature stages of `lsh_pair_quality` collapse to
    one). The cache is (id, band_idx, band_hash) — n_bands rows per
    document, far smaller than the shingle input it replaces. Nothing
    here unpersists it: `session.run_query` releases it once the
    query's sink has finished."""
    banded = sig.select(
        F.col(id_col),
        F.posexplode(_band_hashes(n_hashes, band_size)).alias(
            "band_idx", "band_hash"
        ),
    ).persist()
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


#: ``pair_budget="auto"`` headroom for the banded Hamming join: budget =
#: this × N distinct hashes. At 64/8 geometry the expected candidate
#: load is ≈ N²/2^(band_width+1)·n_bands = N·(N/64), so the auto budget
#: admits corpora up to N ≈ 64·1000 distinct hashes and refuses beyond —
#: where the fix is a wider fingerprint, not a longer wait (measured:
#: N=100k random hashes → ~150M candidates → 85 s for 0 verified pairs).
HAMMING_BUDGET_PER_HASH = 1000


def hamming_candidate_edges(
    reps: DataFrame,
    id_col: str,
    hash_col: str | list[str],
    threshold: int = 6,
    n_bands: int = 8,
    bits: int = 64,
    pair_budget: int | str | None = "auto",
) -> DataFrame:
    """Verified (id_a < id_b) Hamming-near pairs over one-row-per-hash
    `reps`: split each fingerprint into `n_bands` contiguous bands
    (JVM shift/mask — no UDF), self-join on (band_idx, band_val), then
    verify with bit_count(xor) <= threshold. By pigeonhole any two
    hashes within `n_bands - 1` differing bits cannot hit every band,
    so they share a whole band: for `threshold < n_bands` (the band
    COUNT, not the band width) the banding is EXACT (recall 1).

    SCALE CEILING (SCALING.md round-7 probe): each band has only
    ``2^(bits/n_bands)`` buckets, so over N DISTINCT random-like hashes
    the candidate join carries ≈ ``n_bands · N²/2^(bits/n_bands+1)``
    pairs — QUADRATIC once N ≫ 2^band_width (measured: 3.1 / 5.0 /
    85 s at 10k / 30k / 100k distinct random hashes, 64/8 geometry,
    with ZERO verified pairs surviving the 85 s join). The derived knob
    is the FINGERPRINT SIZE: band width must grow with log₂(N) at fixed
    exactness (threshold < n_bands), i.e. 64-bit hashes saturate around
    N ≈ 2^8·budget-per-bucket and a 128-bit perceptual hash (16-bit
    bands) carries the same geometry to N ≈ 2^16·budget. `pair_budget`
    is the loud guard (default ``"auto"`` = `HAMMING_BUDGET_PER_HASH`
    × N): Σ|bucket|C2 is counted BEFORE the join — one cheap agg over
    the band frame — and `PairBudgetExceeded` raises instead of
    silently launching the quadratic join, the `semantic_near_dup_pairs`
    pattern. ``None`` disables the guard. Exact-duplicate mass never
    hits this ceiling: callers collapse identical hashes first
    (`hamming_components` step 1), so N counts distinct fingerprints.
    """
    if threshold >= n_bands:
        raise ValueError(
            f"threshold {threshold} >= n_bands {n_bands}: "
            "banded candidates would miss true pairs (recall < 1)"
        )
    hash_cols = [hash_col] if isinstance(hash_col, str) else list(hash_col)
    n_words = len(hash_cols)
    if n_bands % n_words:
        raise ValueError(
            f"n_bands {n_bands} must be a multiple of the word count "
            f"{n_words} so every band lies inside one 64-bit word"
        )
    if bits != 64 * n_words:
        # JVM shift amounts wrap mod 64 (shiftrightunsigned uses
        # shift & 63): e.g. bits=128 over ONE 64-bit word puts band
        # offsets 64..112 at 0..48 — bands silently alias the low
        # slices and the pigeonhole exactness guarantee breaks with no
        # error. The fingerprint must fill its words exactly.
        raise ValueError(
            f"bits={bits} does not match the fingerprint width "
            f"64 * {n_words} word column(s) = {64 * n_words}: band "
            f"offsets would wrap mod 64 and alias low bands, silently "
            f"breaking recall-1 exactness"
        )
    band_bits = bits // n_bands
    bands_per_word = n_bands // n_words
    mask = (1 << band_bits) - 1

    def band_exprs():
        # global band b lives in word b // bands_per_word at local offset
        # (b % bands_per_word) * band_bits — JVM shift/mask per word
        return [
            F.shiftrightunsigned(
                F.col(hash_cols[b // bands_per_word]),
                (b % bands_per_word) * band_bits,
            ).bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ]

    if pair_budget is not None:
        # ONE construction-time action for the whole guard: the same
        # aggregate yields Σ|bucket|C2 AND Σ|bucket| (= N·n_bands, so
        # the auto budget needs no separate reps.count()); reps is
        # lazily checkpointed so the upstream (often a per-row Python
        # decode like phash_images) materializes once here and the
        # banded join below reuses it instead of re-decoding.
        reps = reps.persist()
        bucket_counts = reps.select(
            F.posexplode(F.array(*band_exprs())).alias("band_idx", "band_val")
        ).groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("n")
        )
        stats = bucket_counts.agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("pairs"),
            F.sum("n").alias("band_rows"),
        ).collect()[0]
        est = stats["pairs"]
        if pair_budget == "auto":
            n_reps = (stats["band_rows"] or 0) // n_bands
            pair_budget = HAMMING_BUDGET_PER_HASH * max(n_reps, 1)
        if est is not None and est > pair_budget:
            raise PairBudgetExceeded(
                f"banded Hamming candidate join would carry ~{int(est)} "
                f"pairs (> pair_budget={pair_budget}); use a wider "
                f"fingerprint (bits) so band width grows with log2(N), "
                f"or collapse exact duplicates first"
            )
    banded = reps.select(
        F.col(id_col).alias("rep_id"),
        *[F.col(c).alias(f"h{w}") for w, c in enumerate(hash_cols)],
        F.posexplode(F.array(*band_exprs())).alias("band_idx", "band_val"),
    )
    a = banded.select(
        F.col("rep_id").alias("id_a"),
        *[F.col(f"h{w}").alias(f"h{w}_a") for w in range(n_words)],
        "band_idx", "band_val",
    )
    b = banded.select(
        F.col("rep_id").alias("id_b"),
        *[F.col(f"h{w}").alias(f"h{w}_b") for w in range(n_words)],
        "band_idx", "band_val",
    )
    dist = F.bit_count(F.col("h0_a").bitwiseXOR(F.col("h0_b")))
    for w in range(1, n_words):
        dist = dist + F.bit_count(
            F.col(f"h{w}_a").bitwiseXOR(F.col(f"h{w}_b"))
        )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= F.lit(threshold))
        .select("id_a", "id_b")
        .distinct()
    )


def hamming_components(
    sigs: DataFrame,
    id_col: str = "media_id",
    hash_col: str | list[str] = "phash",
    threshold: int = 6,
    n_bands: int = 8,
    bits: int = 64,
    pair_budget: int | str | None = "auto",
) -> DataFrame:
    """(id, component_id) near-duplicate grouping over a fixed-width
    integer fingerprint (e.g. a 64-bit perceptual dHash): rows whose
    hashes are within `threshold` Hamming bits are connected; component
    id = the minimum member id.

    The 100 TB shape, in three shuffle-bounded moves:

    1. **Exact-dup collapse first** — identical hashes are grouped by a
       plain hash-aggregate (rep = min id per hash), so a billion-copy
       duplicate cluster contributes ONE representative downstream and
       the candidate join can never blow up on distance-0 mass.
    2. **Banded Hamming LSH over DISTINCT hashes only** — the hash is
       split into `n_bands` contiguous `bits/n_bands`-bit bands
       (JVM-side shift/mask, no UDF); reps agreeing on any band become
       candidates. By pigeonhole, two hashes within
       `n_bands - 1` Hamming bits cannot differ in every band, so they
       MUST agree on at least one whole band: for `threshold < n_bands`
       (the default 6 < 8) the banding is EXACT — zero recall loss,
       never all-pairs.
    3. **bit_count(xor) verify + `connected_components`** over the
       surviving representative edges; members rejoin by hash at the
       end. Ids absent from every edge keep their own component.

    `pair_budget` (default ``"auto"``) forwards to
    `hamming_candidate_edges`' Σ|bucket|C2 pre-count: the banded join
    goes quadratic once distinct hashes outgrow the per-band bucket
    space (2^(bits/n_bands)); the guard raises `PairBudgetExceeded`
    with the wider-fingerprint remedy instead of launching it.

    ``hash_col`` may be a LIST of 64-bit word columns (e.g. the
    (hi, lo) pair of a 128-bit `dhash128` fingerprint) with `bits` set
    to the total width — the wider-fingerprint remedy itself: 128 bits
    at the same exact threshold allows n_bands=8 16-bit bands, growing
    the per-band bucket space 256× (SCALING.md round-7 remedy probe).
    """
    hash_cols = [hash_col] if isinstance(hash_col, str) else list(hash_col)
    sigs = sigs.select(F.col(id_col), *[F.col(c) for c in hash_cols])
    reps = sigs.groupBy(*hash_cols).agg(F.min(id_col).alias("rep_id"))
    edges = hamming_candidate_edges(
        reps, "rep_id", hash_cols, threshold, n_bands, bits, pair_budget
    )
    from .graph import connected_components

    comp = connected_components(edges)
    labeled = reps.join(
        comp, reps["rep_id"] == comp["node"], "left"
    ).select(
        *[F.col(c) for c in hash_cols],
        F.coalesce(F.col("component_id"), F.col("rep_id")).alias(
            "component_id"
        ),
    )
    return sigs.join(labeled, hash_cols).select(
        F.col(id_col), F.col("component_id")
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Train/test contamination check: for each corpus document sharing at
    least one k-shingle with the benchmark set, the number of distinct
    benchmark documents it overlaps (`n_benchmark_docs`). Clean corpus
    docs don't appear — the output is the contamination report a pipeline
    joins back to drop or flag leaked documents.

    Plan shape: shingle both sides independently (two filtered scans, no
    corpus-wide id-join), cap the CORPUS side's shingle doc-frequency
    (`cap_shingles` — the benchmark side is small by construction), then
    one equi-join keyed on the shingle + a count-distinct per corpus doc.
    The join output is bounded by |benchmark shingles| × capped-df, not
    the corpus pair space.
    """
    # wide=False: every downstream stage here keys on SHINGLE (cap
    # window, overlap join), so the id-repartition replaces nothing and
    # its pinned-width stages only add dispatch (bench: +0.46 s wide)
    c_sh = cap_shingles(
        shingles(corpus, id_col, text_col, k, wide=False),
        id_col, max_doc_freq,
    )
    b_sh = shingles(benchmark, id_col, text_col, k, wide=False).select(
        F.col(id_col).alias("_bench_id"), "shingle"
    )
    return (
        c_sh.join(b_sh, "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("_bench_id").alias("n_benchmark_docs"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def token_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The (id, md5-of-distinct-token) frame BOTH SimHash widths hash
    from — one tokenize + one md5 per (doc, distinct token). Factored
    out (VERDICT r9 #4) so a suite can persist it ONCE and feed it to
    every SimHash consumer, the same shared-scan lever the MinHash family
    gets from `shingles`: the 16-bit and 128-bit signatures read
    different substrings of the SAME md5, so the frame serves both
    bit-identically."""
    toks = F.array_distinct(tokens(normalized_text(F.col(text_col))))
    return df.select(F.col(id_col), F.explode(toks).alias("t")).select(
        F.col(id_col), F.md5(F.col("t")).alias("m")
    )


def simhash(hashed: DataFrame, id_col: str, bits: int = 16) -> DataFrame:
    """`bits`-bit SimHash per document of `hashed` (a `token_md5` frame).

    Token hash = first 4 hex chars of md5 (16 bits, engine-portable via
    base conversion). Bit i of the signature is the sign of
    Σ_tokens (2·bit_i(h) − 1). Distinct tokens are used (weight 1), making
    the oracle form a simple unnest+group.

    Plan shape: `bits` integer partial sums per doc over the token md5s
    (map-side combine) → sign + pack. (The per-doc array-fold
    formulation recomputed the md5 once per bit.)"""
    h = F.conv(F.substring(F.col("m"), 1, 4), 16, 10).cast("bigint")
    contribs = hashed.select(
        F.col(id_col),
        *[
            ((F.shiftright(h, i) % 2) * 2 - 1).alias(f"c_{i}")
            for i in range(bits)
        ],
    )
    agg = contribs.groupBy(id_col).agg(
        *[F.sum(f"c_{i}").alias(f"s_{i}") for i in range(bits)]
    )
    sig = F.lit(0).cast("bigint")
    for i in range(bits):
        sig = sig + F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def simhash128(
    md5_frame: DataFrame, id_col: str, lane_bits: int = 16
) -> DataFrame:
    """128-bit SimHash of each document of `md5_frame` (a `token_md5`
    frame) as TWO 64-bit word columns ``(simhash_w0, simhash_w1)`` —
    the wide-fingerprint geometry that keeps Hamming banding out of the
    quadratic regime (`hamming_candidate_edges`' SCALE CEILING note: 8
    bands over 64 bits = 256 buckets/band and the candidate join goes
    quadratic past ~64k distinct hashes; the same 8 bands over 128 bits
    are 16-bit slices with 65536 buckets/band — the `dhash128` remedy
    applied to TEXT fingerprints).

    Same contract as `simhash`: distinct tokens of the normalized text,
    weight 1; bit i of word w = sign of Σ_tokens (2·bit(h) − 1), where
    the 128 hash bits per token are the four 32-bit big-endian slices
    of md5(token) (word w takes slices 2w and 2w+1 — engine-portable
    via hex base conversion, no 64-bit sign traps). Bit 63 of each word
    packs as the long MIN_VALUE literal so neither engine shifts into
    the sign bit.

    Plan shape: one md5 per distinct token (materialized once), then the
    128 per-bit counters travel LANE-PACKED — ``64 // lane_bits`` lanes
    per long (default 16-bit lanes: 32 sum columns + one count instead
    of 128 sums; the ±1 sum s is recovered as 2·cnt − n, so bit sign ⟺
    2·cnt > n). Each long's lanes load with ONE multiply-spread
    (nibble × 0x0000_2000_4000_8001-style constant, cross-products
    masked off) instead of per-bit shift/mask/add chains, so the
    per-row expression is ~4 ops per packed long (VERDICT r10 #7 —
    measured vs the r10 two-lane form at identical output: the
    aggregate-buffer width halves AND the map-side expression shrinks
    ~3×). Scales like a word count — ONE map-side-combined aggregate,
    no shuffle amplification.

    Lane-overflow contract: safe below 2^(lane_bits−1) distinct tokens
    per document (32 768 at the default — a ≥200 KB document of
    all-distinct tokens; the top lane borders the sign bit, hence the
    −1). A document at or past the bound RAISES — Spark's ANSI
    ARITHMETIC_OVERFLOW during the sum, or this operator's own guard
    when ANSI is off (loud refusal either way, the
    `PairBudgetExceeded` philosophy — never a silently wrong
    fingerprint); pass ``lane_bits=32`` to restore the r10 2³¹ bound
    for monster-document corpora.
    """
    if 64 % lane_bits or not 8 <= lane_bits <= 32:
        raise ValueError(f"lane_bits must be 8/16/32, got {lane_bits}")
    lanes_per_long = 64 // lane_bits
    # both projections as parsed strings (one py4j round-trip per
    # expression instead of per shift/mask/multiply node — measured
    # ~0.7 s of pure construction per call; see
    # `minhash_signatures`); resolved arithmetic is
    # identical: same shifts, masks, literal widths and promotions
    hashed = md5_frame.selectExpr(
        quote_ident(id_col),
        *[
            f"CAST(conv(substring(m, {1 + 8 * j}, 8), 16, 10) AS BIGINT)"
            f" AS h{j}"
            for j in range(4)
        ],
    )
    # spread constant: source bit p lands at lane offset lane_bits*p —
    # Σ_p 2^(lane_bits*p - p); cross-products fall outside the lane
    # mask because lanes are wider than lanes_per_long bits
    spread = sum(1 << (lane_bits * p - p) for p in range(lanes_per_long))
    keep = sum(1 << (lane_bits * p) for p in range(lanes_per_long))
    mask = (1 << lanes_per_long) - 1
    lane_sqls = []
    for g in range(128 // lanes_per_long):
        # global bits [lanes_per_long*g, ...) are consecutive bits of
        # md5 word h_j (bit b of the fingerprint = bit b%32 of word
        # h_{b//32}), and an aligned nibble never crosses a word edge
        b0 = lanes_per_long * g
        lane_sqls.append(
            f"(((shiftright(h{b0 // 32}, {b0 % 32}) & {mask})"
            f" * {spread}) & {keep}) AS l{g}"
        )
    agg = hashed.selectExpr(quote_ident(id_col), *lane_sqls).groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(f"l{g}").alias(f"sl{g}") for g in range(len(lane_sqls))],
    )
    # loud lane-overflow guard: evaluated once per doc, conditionally —
    # whole-stage codegen only executes the raise branch when hit. The
    # bound is 2^(lane_bits-1), not 2^lane_bits: the TOP lane occupies
    # the long's sign-adjacent bits, so its count crosses into the sign
    # bit one power earlier — under ANSI mode Spark's own
    # ARITHMETIC_OVERFLOW fires during the sum (also loud); this guard
    # is the non-ANSI backstop that keeps a wrapped lane from ever
    # decoding silently.
    bound = 1 << (lane_bits - 1)
    n = F.when(F.col("_n") < F.lit(bound), F.col("_n")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"simhash128: document with >= {bound} distinct "
                    "tokens overflows the packed bit-count lanes; "
                    "pass lane_bits=32 (id="
                ),
                F.col(id_col).cast("string"),
                F.lit(")"),
            )
        ).cast("bigint")
    )
    # the guard evaluates ONCE per doc into `_nchk` (the old expression
    # tree inlined it into all 128 sign terms), and the two 64-term
    # sign-sum words parse as ONE SQL expression each: building them
    # from per-term Column objects was ~800 py4j round-trips — measured
    # ~3 s of pure driver time per call (r11, guide §7.3); the string
    # parse is milliseconds and the resolved plan is identical.
    guarded = agg.withColumn("_nchk", n)
    m = (1 << lane_bits) - 1

    def word_sql(wi: int) -> str:
        terms = []
        for i in range(64):
            bit = 64 * wi + i
            g, p = bit // lanes_per_long, bit % lanes_per_long
            # bit 63 as the MIN_VALUE literal: 1 << 63 overflows a
            # long, and both engines' shifts into the sign bit are
            # traps (the bare literal -9223372036854775808 parses as
            # DECIMAL — route it through a string cast)
            lit = (
                "CAST('-9223372036854775808' AS BIGINT)"
                if i == 63
                else str(1 << i) + "L"
            )
            terms.append(
                f"(CASE WHEN (shiftright(sl{g}, {lane_bits * p}) & {m}L)"
                f" * 2 > _nchk THEN {lit} ELSE 0L END)"
            )
        return "CAST(" + " + ".join(terms) + " AS BIGINT)"

    return guarded.selectExpr(
        id_col,
        word_sql(0) + " AS simhash_w0",
        word_sql(1) + " AS simhash_w1",
    )


def simhash_components(
    hashed: DataFrame,
    id_col: str = "doc_id",
    threshold: int = 3,
    n_bands: int = 8,
    pair_budget: int | str | None = "auto",
) -> DataFrame:
    """(id, component_id) SimHash near-duplicate grouping over the
    documents of `hashed` (a `token_md5` frame) —
    Charikar/Manku-style web near-dedup: documents whose 128-bit
    SimHash fingerprints are within `threshold` Hamming bits are
    connected; component id = the minimum member id.

    Composition of the two existing exact machines: `simhash128` (wide
    fingerprint) → `hamming_components` (exact-dup collapse first →
    recall-1 banded candidates for ``threshold < n_bands`` → bit_count
    verify → connected components). Unlike the MinHash/Jaccard path this
    needs no shingle explosion at pair time — the corpus-sized state is
    16 bytes per document, which is what makes SimHash the classic
    choice at crawl scale; the banding inherits `dhash128`'s 16-bit
    band geometry (65536 buckets/band), so the candidate join stays
    linear far past the 64-bit fingerprint's ~64k-distinct ceiling.
    """
    # the signature frame feeds BOTH the rep groupBy and the final
    # member rejoin inside hamming_components — checkpoint it so the
    # lane aggregate runs once, not per consumer
    sigs = simhash128(hashed, id_col).persist()
    return hamming_components(
        sigs,
        id_col,
        ["simhash_w0", "simhash_w1"],
        threshold=threshold,
        n_bands=n_bands,
        bits=128,
        pair_budget=pair_budget,
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------
def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    lsh_bits: int = 8,
) -> DataFrame:
    """Near-duplicate embedding pairs: sign-LSH prefilter + exact cosine.

    Bucket = sign bits of the first `lsh_bits` dimensions (axis-aligned
    hyperplane LSH — deterministic, no random state, oracle-reproducible).
    Only same-bucket pairs get the exact cosine, cutting the pair space by
    ~2^lsh_bits for roughly isotropic embeddings. Cosine is computed as an
    ordered fold in double precision, rounded to 6 dp.
    """
    from .similarity import dot_sql, l2_sql, quote_ident, sign_lsh_bucket

    with_bucket = emb.select(
        F.col(id_col),
        F.col(vec_col),
        sign_lsh_bucket(F.col(vec_col), lsh_bits).alias("bucket"),
        # Norm computed ONCE per vector (N array folds), then carried
        # through the self-join — the pair side does a single dot fold
        # instead of cosine's three traversals per candidate pair.
        # Arithmetic is unchanged (same l2 expression, same a·b/(na·nb)
        # order), so results stay bit-identical to the inline form.
        F.expr(l2_sql(quote_ident(vec_col))).alias("l2n"),
    )
    a = with_bucket.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("l2n").alias("l2n_a"),
        "bucket",
    )
    b = with_bucket.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("l2n").alias("l2n_b"),
        "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.expr(
            f"round({dot_sql('vec_a', 'vec_b')} / (l2n_a * l2n_b), 6)"
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


#: Derived-k target: mean cluster size when `n_clusters=None`. SemDeDup
#: (Abbas et al. 2023) runs ~50k clusters over ~100M-doc web corpora —
#: mean |cluster| in the low thousands; 512 keeps the within-cluster
#: pair scan (~512²/2 per cluster) comfortably bounded.
SEMDEDUP_TARGET_CLUSTER_SIZE = 512

#: ``pair_budget="auto"`` headroom: budget = margin × N²/k. Balanced
#: clusters cost ≈N²/k (passes with margin×); a collapse toward one
#: cluster costs →N² (fires whenever k > margin).
SEMDEDUP_BUDGET_MARGIN = 4


class PairBudgetExceeded(RuntimeError):
    """Raised when Σ|cluster|² exceeds the declared pair budget — the
    loud alternative to silently launching a quadratic join."""


def semantic_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_clusters: int | None = 6,
    iters: int = 2,
    target_cluster_size: int = SEMDEDUP_TARGET_CLUSTER_SIZE,
    pair_budget: int | str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicates: cluster embeddings with
    Lloyd k-means, then exact-cosine pairs WITHIN each cluster (Abbas et
    al. 2023 — semantic dedup prunes pairs by trained clusters instead
    of hash buckets, catching paraphrase-level duplicates that sign-LSH
    splits across buckets).

    Scale posture: the pair space shrinks from N² to Σ|cluster|², so
    `n_clusters` must grow with the corpus (SemDeDup uses ~50k clusters
    at web scale; the cluster-size histogram from `cluster_stats` is the
    skew check). The cluster id is a shuffle key like any LSH band —
    same join shape as `embedding_near_dup_pairs`, with the quantizer
    trained instead of axis-aligned.

    Scale guards (both opt-in; the oracle-checked query uses a fixed k
    for cross-engine reproducibility and enables the budget):

    * ``n_clusters=None`` DERIVES k from the corpus — one ``count()``
      scalar action, k = ceil(N / target_cluster_size) — so a 100×
      corpus gets 100× clusters instead of 100× the mean cluster size.
    * ``pair_budget=N`` computes Σ|cluster|² from the (k-row) cluster
      histogram before any pair join is launched and raises
      :class:`PairBudgetExceeded` when the skew check fails. The
      assignment frame is lazily checkpointed, so the histogram action
      also materializes the assignments the pair join then reuses —
      the guard costs no extra k-means pass.
      ``pair_budget="auto"`` sets the ceiling to
      ``SEMDEDUP_BUDGET_MARGIN × N²/k`` from the same histogram (N = Σ
      sizes, no extra action): balanced clusters (≈N²/k) pass with
      margin to spare, while a skew collapse toward one giant cluster
      (→N²) fires whenever k > margin — scale-correct at every corpus
      size, where any flat constant is either dead at small N or
      spuriously tight at large N.
    """
    from .similarity import (
        dot_sql,
        l2_sql,
        kmeans_assign,
        quote_ident,
        widen_partitions,
    )

    if n_clusters is None:
        n_rows = emb.count()
        n_clusters = max(2, -(-n_rows // target_cluster_size))
    assigned = kmeans_assign(
        emb, k=n_clusters, iters=iters, id_col=id_col, vec_col=vec_col,
        keep_vec=True,
    ).withColumn("l2n", F.expr(l2_sql(quote_ident(vec_col))))
    if pair_budget is not None:
        assigned = assigned.persist()
        sizes = assigned.groupBy("cid").count().collect()  # ≤ k rows
        pair_space = sum(r["count"] * r["count"] for r in sizes)
        if pair_budget == "auto":
            n_total = sum(r["count"] for r in sizes)
            pair_budget = max(
                1, SEMDEDUP_BUDGET_MARGIN * n_total * n_total // n_clusters
            )
        if pair_space > pair_budget:
            top = sorted((r["count"] for r in sizes), reverse=True)[:5]
            raise PairBudgetExceeded(
                f"semantic_near_dup_pairs: Σ|cluster|² = {pair_space:,} "
                f"exceeds pair_budget {pair_budget:,} with k={n_clusters} "
                f"(largest clusters: {top}); raise n_clusters (or pass "
                "n_clusters=None to derive it from the corpus size)"
            )
    # The pair loop below does Σ|cluster|² work from N input rows; widen
    # the probe side so that work spreads over the cluster instead of the
    # scan's (possibly single) input partitions.
    a = widen_partitions(assigned, id_col).select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("l2n").alias("l2n_a"),
        "cid",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("l2n").alias("l2n_b"),
        "cid",
    )
    pairs = a.join(b, "cid").filter(F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.col("cid"),
        # Same a·b/(na·nb) arithmetic as `cosine`, with the norms hoisted
        # out of the pair loop (see embedding_near_dup_pairs).
        F.expr(
            f"round({dot_sql('vec_a', 'vec_b')} / (l2n_a * l2n_b), 6)"
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def span_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """Span-level exact-duplication stats: per document, how many of its
    `width`-token sliding windows also occur verbatim in ANOTHER document.

    The substring-dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better") at window granularity:
    doc-level Jaccard (`ngram_jaccard_pairs`) misses a unique document
    that embeds one long boilerplate block; this catches it, and the
    `dup_frac` output is the standard cut threshold.

    Plan shape: posexplode tokens → one `lead()` window pass per
    (doc, position) → every window string keyed by its span text →
    cross-doc test as `min(id) != max(id)` over the span partition (NOT
    a `collect_set` — two scalar window aggs, nothing materialized per
    span) → per-doc counts. Two shuffles (position window, span window),
    the second keyed exactly like a shingle self-join would be. Skew
    lever at corpus scale: a boilerplate span shared by millions of docs
    lands on one partition — AQE skew split absorbs moderate cases; for
    pathological corpora pre-filter spans with `cap_shingles`-style
    document-frequency capping. Docs shorter than `width` tokens have no
    windows and are absent from the output (documented; matches oracle).
    """
    from pyspark.sql import Window

    toked = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, width)]
    spans = (
        toked.select(
            F.col(id_col),
            F.concat_ws(" ", *parts).alias("span"),
            parts[-1].isNotNull().alias("_ok"),
        )
        .filter(F.col("_ok"))
        .select(id_col, "span")
    )
    sw = Window.partitionBy("span")
    flagged = spans.select(
        F.col(id_col),
        (F.min(id_col).over(sw) != F.max(id_col).over(sw)).alias("is_dup"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("is_dup").cast("bigint")).alias("dup_windows"),
        F.try_divide(
            F.sum(F.col("is_dup").cast("bigint")).cast("double"),
            F.count(F.lit(1)),
        ).alias("dup_frac"),
    )


def cross_doc_repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
    max_span_freq: int | None = None,
    bridge_gap: int = 0,
) -> DataFrame:
    """CORPUS-level exact-substring dedup spans (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    maximal token range of a document covered by `width`-token windows
    that occur a SECOND time anywhere in the corpus — another document
    or another position of the same one. Lee et al. build a corpus
    suffix array and delete any ≥50-token substring occurring twice;
    the distributed equivalent anchors on fixed-width windows (every
    repeat of length ≥ width contains a repeated width-window, so span
    coverage is identical for repeats ≥ width) and merges overlapping
    hits into maximal spans — no suffix array, no global order.

    Output: (doc_id, span_start, span_end, span_tokens) — token
    positions [span_start, span_end) to cut, `remove_dup_spans`-style.

    Plan shape (3 keyed shuffles, all partial-agg'd or windowed):
    1. posexplode tokens → per-doc `lead()` window builds each position's
       width-window string (one pass, same as `span_dup_stats`).
    2. groupBy(window string) COUNT — partial-aggregated, so a
       boilerplate window repeated 10^6× still combines map-side — keep
       counts ≥ 2; join positions back on the window string (AQE skew
       split absorbs hot spans; `max_span_freq` is the explicit lever
       that drops pathological spans from BOTH sides, mirrored in the
       oracle).
    3. per-doc ordered window merges hit positions into islands:
       a position starts a new span iff it clears every earlier hit's
       reach (running max of pos+width) by MORE than `bridge_gap`
       uncovered tokens, then one groupBy(doc, island) emits the span
       bounds. State per doc is O(hits), never corpus-global; no driver
       action anywhere.

    `bridge_gap` is the anchor-extension knob closing the gap to Lee et
    al.'s suffix-array result for EDITED repeats: a long block repeated
    with j in-place token edits loses the j*width windows crossing each
    edit, so the tight (gap 0) pass reports it as separate islands; any
    uncovered run of <= bridge_gap tokens between an island's reach and
    the next anchor is absorbed into one maximal span (j consecutive
    edited tokens produce an uncovered run of exactly j). The merged
    span may therefore contain up to bridge_gap-token stretches that are
    NOT verbatim repeats — intended for cut/audit pipelines where a
    99%-repeated block should be handled as one unit.
    """
    from pyspark.sql import Window

    toked = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, width)]
    spans = (
        toked.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("span"),
            parts[-1].isNotNull().alias("_ok"),
        )
        .filter(F.col("_ok"))
        .select(id_col, "pos", "span")
    )
    counts = spans.groupBy("span").agg(F.count(F.lit(1)).alias("_n"))
    repeated = counts.filter(F.col("_n") >= 2)
    if max_span_freq is not None:
        repeated = repeated.filter(F.col("_n") <= max_span_freq)
    hits = spans.join(repeated.select("span"), "span").select(id_col, "pos")

    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_reach = F.max(F.col("pos") + width).over(w_prev)
    flagged = hits.select(
        F.col(id_col),
        "pos",
        (prev_reach.isNull() | (F.col("pos") > prev_reach + bridge_gap))
        .cast("bigint")
        .alias("_new"),
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("_island", F.sum("_new").over(w_run))
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + width).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Version-to-version corpus delta: per doc id, whether it was
    `added`, `removed`, `changed` (same id, different normalized content
    fingerprint), or `unchanged` between two corpus snapshots — the
    audit primitive of iterative corpus curation (what did this
    recrawl/refilter actually touch?).

    One full-outer shuffle join keyed by id over two fingerprint
    projections (16 bytes/doc each side — the join input is tiny
    regardless of document size, same scale argument as
    `exact_dup_groups`). Fingerprints are normalization-invariant
    (case/punctuation rewrites compare as unchanged), matching the
    dedup family's identity notion.
    """
    of = old.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp_old")
    )
    nf = new.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp_new")
    )
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return of.join(nf, id_col, "full_outer").select(
        F.col(id_col), status.alias("status")
    )


def minhash_jaccard_calibration(
    sh: DataFrame, id_col: str, n_hashes: int = 16, band_size: int = 4
) -> DataFrame:
    """Sketch-quality audit over `sh` (a `shingles` frame, used as
    passed — the caller owns its caching): for every LSH candidate pair,
    the MinHash ESTIMATE of Jaccard (fraction of agreeing signature
    components) against the TRUE shingle Jaccard, with the absolute
    error — the calibration table that justifies (or indicts) a chosen
    (n_hashes, band_size) geometry before trusting it at corpus scale.

    Returns (id_a, id_b, est_jaccard, true_jaccard, abs_err).

    Determinism: the estimate is (#agreeing components)/n_hashes — a
    dyadic rational for power-of-two n_hashes — and the true Jaccard is
    an integer ratio; both engines compute identical doubles.

    Plan shape: ONE signature frame feeds both the banding (candidate
    generation) and the per-pair component comparison; the true-Jaccard
    side restricts the shingle join to candidate pairs FIRST (join
    pairs→shingles on id_a, then equi-join on (id_b, shingle)), so the
    exact computation is pair-bounded, never the corpus-wide shingle
    self-join. The signature frame is persisted — it is consumed by 3
    join sides, and Spark has no automatic subplan reuse across sides
    (same rationale as the fight frames; sf0.1 warm: 3.9 s → 3.3 s).
    persist() rather than localCheckpoint(eager=False): the lazy
    checkpoint re-ran ~1 s of toRdd planning at EVERY construction
    (per-pass bench cost), where persist is plan-only.
    """
    qid = quote_ident(id_col)
    sig = minhash_signatures(sh, id_col, n_hashes).persist()
    pairs = _candidate_pairs_from_signatures(sig, id_col, n_hashes, band_size)
    sig_a = sig.selectExpr(
        f"{qid} AS id_a", *[f"mh_{i} AS a_{i}" for i in range(n_hashes)]
    )
    sig_b = sig.selectExpr(
        f"{qid} AS id_b", *[f"mh_{i} AS b_{i}" for i in range(n_hashes)]
    )
    agree_sql = " + ".join(
        f"CAST(a_{i} = b_{i} AS INT)" for i in range(n_hashes)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.selectExpr(f"{qid} AS id_a", "shingle"), "id_a")
        .join(
            sh.selectExpr(f"{qid} AS id_b", "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # One join chain computes BOTH the estimate and the truth per pair
    # (est and true_j used to be separate pair-keyed subtrees re-joined
    # at the end — one extra pairs scan and one extra join for nothing).
    return (
        pairs.join(sig_a, "id_a")
        .join(sig_b, "id_b")
        .join(inter, ["id_a", "id_b"], "left")
        .join(sizes.selectExpr(f"{qid} AS id_a", "n_sh AS sz_a"), "id_a")
        .join(sizes.selectExpr(f"{qid} AS id_b", "n_sh AS sz_b"), "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"round(({agree_sql}) / CAST({float(n_hashes)!r} AS DOUBLE), 6)"
            " AS est_jaccard",
            "round(CAST(coalesce(n_inter, 0) AS DOUBLE)"
            " / CAST(sz_a + sz_b - coalesce(n_inter, 0) AS DOUBLE), 6)"
            " AS true_jaccard",
        )
        .selectExpr(
            "id_a",
            "id_b",
            "est_jaccard",
            "true_jaccard",
            "round(abs(est_jaccard - true_jaccard), 6) AS abs_err",
        )
    )


def lsh_plan_eval(
    pairs: DataFrame,
    n_hashes: int = 16,
    threshold: float = 0.05,
    jaccard_col: str = "true_jaccard",
) -> DataFrame:
    """Data-driven LSH band-plan evaluation: for every (n_bands,
    band_size) split of the signature (b·r = n_hashes), the S-curve
    collision probability ``p(s) = 1 − (1 − s^r)^b`` averaged over this
    corpus's OBSERVED candidate-pair Jaccard distribution — split at
    `threshold` into expected recall on true pairs and expected
    false-candidate stickiness on sub-threshold pairs. This is the
    number that picks the banding geometry: the textbook S-curve only
    says where the cliff is; what matters is how much of YOUR pair mass
    sits on each side of it.

    `pairs` is any frame carrying a per-pair Jaccard column — normally
    `minhash_jaccard_calibration`'s output, in which case the
    distribution is the current banding's candidate set (documented
    bias: pairs no band catches are invisible; at corpus scale that is
    the only observable distribution without an all-pairs join).

    Determinism contract: ``s^r`` and ``(1−s^r)^b`` are UNROLLED
    left-associated multiplications, never ``pow`` — both engines
    execute the identical IEEE op sequence (library pow differs in
    ULPs); per-pair p rounds to 6 dp and averages as exact
    DECIMAL(18,6) sums with ONE final double division. One map-side
    pass over the pair frame computes every plan's sums in a single
    aggregate; the report explodes driver-free.
    """
    if n_hashes < 1:
        raise ValueError(f"n_hashes must be >= 1, got {n_hashes}")
    plans = [
        (b, n_hashes // b) for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    ]
    j = F.col(jaccard_col)
    is_true = j >= F.lit(float(threshold))

    def p_collide(b: int, r: int):
        s_r = j
        for _ in range(r - 1):
            s_r = s_r * j  # j^r, fixed left-to-right
        miss = F.lit(1.0) - s_r
        acc = miss
        for _ in range(b - 1):
            acc = acc * miss  # (1 - j^r)^b, fixed left-to-right
        return F.round(F.lit(1.0) - acc, 6).cast("decimal(18,6)")

    aggs = [
        F.sum(is_true.cast("bigint")).alias("_nt"),
        F.sum((~is_true).cast("bigint")).alias("_nf"),
    ]
    for b, r in plans:
        p = p_collide(b, r)
        aggs.append(F.sum(F.when(is_true, p)).alias(f"_tp_{b}"))
        aggs.append(F.sum(F.when(~is_true, p)).alias(f"_fp_{b}"))
    wide = pairs.agg(*aggs)

    def plan_row(b: int, r: int):
        nt = F.coalesce(F.col("_nt"), F.lit(0)).cast("bigint")
        nf = F.coalesce(F.col("_nf"), F.lit(0)).cast("bigint")
        return F.struct(
            F.lit(b).alias("n_bands"),
            F.lit(r).alias("band_size"),
            nt.alias("n_true_pairs"),
            nf.alias("n_sub_pairs"),
            F.when(
                nt > 0,
                F.round(F.col(f"_tp_{b}").cast("double") / nt, 6),
            ).alias("est_recall"),
            F.when(
                nf > 0,
                F.round(F.col(f"_fp_{b}").cast("double") / nf, 6),
            ).alias("est_fp_stickiness"),
        )

    return wide.select(
        F.explode(F.array(*[plan_row(b, r) for b, r in plans])).alias("_p")
    ).select("_p.*")


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """Substring-dedup as a TRANSFORM: drop every token covered by a
    `width`-token window that occurs verbatim in another document, and
    reassemble the surviving tokens into cleaned text (Lee et al. 2022
    remove duplicated substrings rather than whole documents —
    `span_dup_stats` is the detector, this is the scrubber).

    Returns (id, cleaned_text, n_kept, n_removed). A document whose
    every token is covered by cross-document spans disappears from the
    output (nothing left — matches the oracle's GROUP BY over kept
    tokens). Documents shorter than `width` tokens have no windows and
    pass through unchanged.

    Plan shape: posexplode tokens → one `lead()` window per (doc, pos)
    for span assembly → span-partition min/max windows for the
    cross-doc test (nothing materialized per span) → covered positions
    via a bounded `sequence` explode (width rows per dup span) →
    left-anti join back onto the tokens on (doc, pos) → per-doc ordered
    reassembly (`array_sort` of (pos, tok) structs — no extra sort
    shuffle beyond the groupBy). Skew: a boilerplate span shared by
    millions of docs lands on one partition in the span window — same
    lever as `span_dup_stats` (AQE skew split / df-capping upstream).
    """
    from pyspark.sql import Window

    toked = df.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, width)]
    spans = (
        toked.select(
            F.col(id_col),
            F.col("pos"),
            F.concat_ws(" ", *parts).alias("span"),
            parts[-1].isNotNull().alias("_ok"),
        )
        .filter(F.col("_ok"))
        .select(id_col, "pos", "span")
    )
    sw = Window.partitionBy("span")
    dup_starts = (
        spans.select(
            F.col(id_col),
            F.col("pos"),
            (F.min(id_col).over(sw) != F.max(id_col).over(sw)).alias("is_dup"),
        )
        .filter(F.col("is_dup"))
        .select(id_col, "pos")
    )
    covered = dup_starts.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(width - 1))
        ).alias("pos"),
    ).distinct()
    kept = toked.join(covered, [id_col, "pos"], "left_anti")
    totals = toked.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_total"))
    return (
        kept.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("cleaned_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .join(totals, id_col)
        .select(
            id_col,
            "cleaned_text",
            "n_kept",
            (F.col("n_total") - F.col("n_kept")).alias("n_removed"),
        )
    )


def pair_quality(
    candidates: DataFrame,
    truth: DataFrame,
) -> DataFrame:
    """Candidate-generator evaluation: one row of
    (n_candidates, n_true, n_hit, precision, recall) comparing a
    candidate pair set against a ground-truth pair set (both keyed
    (id_a, id_b) with id_a < id_b) — the go/no-go table for an LSH
    banding geometry or any other blocking scheme (low recall = dups
    slip through; low precision = the exact verifier wastes compute).

    Counts are exact integers; the ratios are integer-over-integer
    double divisions — bit-identical cross-engine. Empty sides yield
    NULL ratios (try_divide), not failures.

    Plan shape: one inner join of the two pair sets + three broadcast
    one-row counts — pair-bounded, no corpus access.
    """
    hit = candidates.join(truth, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_cand = candidates.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_cand.crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(hit))
        .select(
            "n_candidates",
            "n_true",
            "n_hit",
            F.round(
                F.try_divide(
                    F.col("n_hit").cast("double"),
                    F.col("n_candidates").cast("double"),
                ),
                6,
            ).alias("precision"),
            F.round(
                F.try_divide(
                    F.col("n_hit").cast("double"),
                    F.col("n_true").cast("double"),
                ),
                6,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental (delta-vs-corpus) dedup
# ---------------------------------------------------------------------------
def corpus_shingle_index(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    max_doc_freq: int | None = None,
    wide: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The corpus-side index every delta/stream classifier probes:
    (fingerprint table, df-capped shingle frame, hot-shingle stop set).

    THE single derivation shared by batch `incremental_dedup` and the
    streaming `classify_stream` — their advertised exact stream==batch
    status parity depends on the cap logic staying bit-identical, so it
    lives in one place. One corpus-shingle build serves both the kept
    side and the hot table: df is annotated via a window (single shuffle
    on shingle) and THAT frame is checkpointed — filtering twice off the
    checkpoint is free, where a groupBy-then-anti-join derivation would
    scan+explode the corpus twice. At 100 TB all three frames are
    precomputed once and stored, not derived in-plan.

    Returns: (corpus_fp(fp, _exact_match_id), kept_shingles(id, shingle)
    — lazily checkpointed, hot_shingles(shingle) or None when no cap).
    """
    corpus_fp = (
        corpus.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("_exact_match_id"))
    )
    c_sh = shingles(corpus, id_col, text_col, k, wide=wide)
    hot = None
    if max_doc_freq is not None:
        from pyspark.sql import Window

        c_w = c_sh.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
        ).persist()
        c_sh = c_w.filter(F.col("_df") <= max_doc_freq).select(
            id_col, "shingle"
        )
        hot = (
            c_w.filter(F.col("_df") > max_doc_freq)
            .select("shingle")
            .distinct()
        )
    return corpus_fp, c_sh.persist(), hot


def write_corpus_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_doc_freq: int | None = None,
    bands: tuple[int, int] | None = None,
    sets: bool = False,
) -> None:
    """Persist the `corpus_shingle_index` triple to parquet — the
    "at 100 TB all three frames are precomputed once and stored" claim
    as an actual write path. Committed via the pointer-file protocol
    (`sources/versioned.commit_version`): each rebuild writes a COMPLETE
    new version (``fp``, ``shingles``, optional ``hot`` subdirs) before
    the pointer moves, so a concurrent reader can never observe a
    mixed-generation triple (the in-place rewrite this replaces left
    the previous commit marker visible mid-rebuild).

    ``bands=(n_hashes, band_size)`` additionally persists the BAND
    index — (id, band_idx, band_hash) from the capped shingles — so
    serve-time consumers skip the shingle→minhash→band derivation,
    which is otherwise a full scan + wide aggregate over the stored
    shingle table (≈10× corpus tokens) on EVERY query. Banding is a
    deterministic function of the shingles, so serving from the stored
    bands is bit-identical to deriving; consumers use them only when
    their requested geometry matches the recorded one and silently
    derive otherwise (a cost fallback, never a semantic one).

    ``sets=True`` also persists the verify-tier per-doc shingle SETS —
    (id, _c_set, _c_size), `classify_stream`'s stateless-verify operand
    — which is otherwise a `collect_set` pass over the whole stored
    shingle table on every guard start. Set contents are order-free
    downstream (set-intersection cardinalities only), so the stored
    frame serves identically."""
    from ..sources.versioned import commit_version

    corpus_fp, c_sh, hot = corpus_shingle_index(
        corpus, id_col, text_col, k, max_doc_freq
    )
    df_tbl = None
    if max_doc_freq is not None:
        # per-shingle df side table (ADVICE r9): the bounded-drift
        # append gate probes THESE counts instead of rescanning the
        # whole (id, shingle) table per append — gate read cost drops
        # from O(corpus shingle rows) to O(distinct kept shingles),
        # and each append folds its delta in as O(delta) appended rows
        # (summed per shingle at probe time, physically merged by
        # compaction)
        df_tbl = c_sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("df")
        )
    band_df = None
    if bands is not None:
        n_hashes, band_size = bands
        band_df = minhash_signatures(c_sh, id_col, n_hashes).select(
            F.col(id_col),
            F.posexplode(_band_hashes(n_hashes, band_size)).alias(
                "band_idx", "band_hash"
            ),
        )
    sets_df = None
    if sets:
        # the EXACT classify_stream verify-tier derivation (order-free
        # set contents; sizes count capped shingle rows)
        sets_df = c_sh.groupBy(id_col).agg(
            F.collect_set("shingle").alias("_c_set"),
            F.count(F.lit(1)).alias("_c_size"),
        )

    def write_all(vdir: str) -> None:
        from pathlib import Path as _Path

        corpus_fp.write.mode("overwrite").parquet(str(_Path(vdir) / "fp"))
        c_sh.write.mode("overwrite").parquet(str(_Path(vdir) / "shingles"))
        if hot is not None:
            hot.write.mode("overwrite").parquet(str(_Path(vdir) / "hot"))
        if band_df is not None:
            band_df.write.mode("overwrite").parquet(
                str(_Path(vdir) / "bands")
            )
        if sets_df is not None:
            sets_df.write.mode("overwrite").parquet(
                str(_Path(vdir) / "sets")
            )
        if df_tbl is not None:
            df_tbl.write.mode("overwrite").parquet(
                str(_Path(vdir) / "df")
            )

    commit_version(
        path,
        write_all,
        {"id_col": id_col, "text_col": text_col, "k": k,
         "max_doc_freq": max_doc_freq, "has_hot": hot is not None,
         "bands": list(bands) if bands is not None else None,
         "has_sets": sets, "has_df": df_tbl is not None,
         # compaction folds the append/delete delta rows of the df side
         # table to one row per live shingle (sum-preserving)
         **({"fold_sums": {"df": {"keys": ["shingle"],
                                  "sum_cols": ["df"],
                                  "drop_zero": True}}}
            if df_tbl is not None else {})},
    )


class CorpusIndex(tuple):
    """The (fp, shingles, hot|None) triple of a STORED corpus index,
    carrying the index's recorded derivation meta as ``.meta``.
    Unpacks exactly like the plain tuple `corpus_shingle_index`
    returns, so every existing consumer keeps working — but consumers
    that accept a ``corpus_index`` parameter use ``.meta`` to verify
    the index's baked-in shingle size / df-cap against their own
    parameters (ADVICE r7: a k-mismatched index has a DISJOINT band
    space, so the near-dup tier silently classifies everything novel
    — the check must not depend on the caller remembering
    ``expect=``)."""

    meta: dict
    bands: "DataFrame | None"
    sets: "DataFrame | None"

    def __new__(cls, fp, sh, hot, meta: dict, bands=None, sets=None):
        self = super().__new__(cls, (fp, sh, hot))
        self.meta = dict(meta)
        self.bands = bands
        self.sets = sets
        return self

    def bands_for(self, n_hashes: int, band_size: int):
        """The stored band index IF it was written at exactly this
        geometry, else None — the consumer then derives bands from the
        stored shingles (identical results, higher cost)."""
        if self.bands is not None and self.meta.get("bands") == [
            n_hashes,
            band_size,
        ]:
            return self.bands
        return None


def validate_corpus_index(corpus_index, *, consumer: str, **want) -> None:
    """Raise when a stored index's recorded derivation params disagree
    with the consumer's (`want` maps meta key → the consumer's value,
    e.g. ``k=3, max_doc_freq=5``): a k mismatch makes the shingle/band
    spaces disjoint (every near-dup silently scored novel); a df-cap
    mismatch bands different shingle subsets on the two sides. A plain
    triple (in-plan derivation, or a hand-built index with no meta)
    carries no meta and is the caller's responsibility — validation is
    best-effort but ALWAYS fires for `read_corpus_index` handles."""
    meta = getattr(corpus_index, "meta", None)
    if meta is None:
        return
    bad = {
        name: (meta.get(name), w)
        for name, w in sorted(want.items())
        if meta.get(name) != w
    }
    if bad:
        raise ValueError(
            f"{consumer}: stored corpus index was written with "
            f"{ {n: v[0] for n, v in bad.items()} } but this call uses "
            f"{ {n: v[1] for n, v in bad.items()} } — mismatched "
            f"derivation params make the shingle/band spaces silently "
            f"incompatible; rebuild the index or pass matching params"
        )


def append_corpus_index(
    spark,
    path: str,
    novel_docs: DataFrame,
) -> None:
    """Fold NOVEL documents into the committed corpus index WITHOUT
    rewriting it — the dedup-side analog of `ivf_index_append`: the new
    version hardlinks every parquet file of the previous one (O(file
    count) metadata, zero data copy — the `rollup._link_untouched_
    partitions` mechanism) and appends only the delta's rows, so
    maintenance cost tracks the DELTA while the store stays one
    atomically-committed version. Derivation params (k, columns, band
    geometry, sets) come from the INDEX's meta — the caller cannot
    drift the shingle space.

    df-CAPPED indexes append under a BOUNDED-DRIFT rule (VERDICT r8
    #2 — the cap is a corpus-level statistic, so r8 refused them
    outright and the skew lever excluded O(delta) maintenance): the
    delta's per-shingle doc frequencies fold into the STORED counts,
    probed from the index's ``df`` side table (one row per distinct
    kept shingle per write, summed per shingle — ADVICE r9: deriving
    the counts from the full (id, shingle) table made every append's
    gate READ O(corpus shingle rows); pre-side-table indexes still take
    that documented fallback). Hot shingles are already recorded in the
    ``hot`` subdir and can only stay hot. The append proceeds iff NO
    shingle's cap decision would flip — i.e. no currently-kept (or
    unseen) shingle's folded df crosses the cap. Under that condition
    the appended index is EXACTLY the full rebuild: existing docs'
    capped sets are untouched (their shingles' df stayed ≤ cap), the
    hot set is unchanged, and delta docs cap against the same hot set
    a rebuild would derive. A delta that WOULD flip a decision still
    refuses loudly with the crossing shingles named — accumulated
    drift must trigger the scheduled `write_corpus_index` rebuild, the
    one case where O(delta) maintenance is semantically impossible.

    Idempotent per id: delta ids already indexed (per the shingle
    table) are anti-joined out, and delta FINGERPRINTS already present
    keep the index's existing representative (first-indexed wins — the
    arrival-order convention; a full rebuild would instead pick the
    global min id, so byte parity with rebuilds holds exactly when
    ingest ids grow monotonically and novel docs are pre-classified,
    i.e. the documented ingest contract). A replayed batch re-commits
    identical content — one redundant version, never duplicate rows;
    `commit_version`'s compare-and-swap raises on a concurrent writer.
    """
    from pathlib import Path as _Path

    from ..sources.versioned import (
        carry_forward,
        commit_version,
        current_version,
    )

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(
            f"no committed corpus index at {path}: build one with "
            f"write_corpus_index first"
        )
    vdir, meta = cur
    id_col, text_col, k = meta["id_col"], meta["text_col"], meta["k"]
    cap = meta.get("max_doc_freq")
    stored_sh = spark.read.parquet(str(_Path(vdir) / "shingles"))
    existing_ids = stored_sh.select(F.col(id_col)).distinct()
    delta = novel_docs.join(existing_ids, id_col, "left_anti")
    d_fp, d_sh, _hot = corpus_shingle_index(
        delta, id_col, text_col, k, None
    )
    if cap is not None:
        # bounded-drift gate: fold the delta's per-shingle df into the
        # stored counts; the append is rebuild-exact iff no kept/unseen
        # shingle crosses the cap. Delta-bounded WRITE volume always;
        # the gate's READ probes the per-shingle df side table when the
        # index carries one (O(distinct kept shingles) — ADVICE r9:
        # rescanning the full (id, shingle) table made every append pay
        # an O(corpus-shingle-rows) read). Indexes written before the
        # side table existed fall back to deriving the counts from the
        # stored shingle table — correct, but the append then reads
        # O(corpus); rebuild via write_corpus_index to pick up the
        # side table.
        hot_df = (
            spark.read.parquet(str(_Path(vdir) / "hot"))
            if meta.get("has_hot")
            else spark.createDataFrame([], "shingle string")
        )
        d_df = (
            d_sh.join(F.broadcast(hot_df), "shingle", "left_anti")
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_d_df"))
        )
        if meta.get("has_df"):
            # append-grown side table: several rows per shingle fold
            # back to the true df with one keyed sum over the pruned set
            stored_df = (
                spark.read.parquet(str(_Path(vdir) / "df"))
                .join(
                    F.broadcast(d_df.select("shingle")),
                    "shingle",
                    "left_semi",
                )
                .groupBy("shingle")
                .agg(F.sum("df").alias("_s_df"))
            )
        else:
            stored_df = (
                stored_sh.join(
                    F.broadcast(d_df.select("shingle")),
                    "shingle",
                    "left_semi",
                )
                .groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_s_df"))
            )
        crossing = (
            d_df.join(stored_df, "shingle", "left")
            .filter(
                F.coalesce(F.col("_s_df"), F.lit(0)) + F.col("_d_df")
                > F.lit(cap)
            )
            .select("shingle")
        )
        flipped = [r["shingle"] for r in crossing.limit(6).collect()]
        if flipped:
            raise ValueError(
                f"corpus index at {path} (max_doc_freq={cap}): this "
                f"delta pushes {len(flipped)}{'+' if len(flipped) > 5 else ''} "
                f"shingle(s) over the cap (e.g. {flipped[:5]!r}) — the "
                f"existing docs' capped sets would silently go stale; "
                f"rebuild via write_corpus_index instead (bounded-drift "
                f"appends are rebuild-exact only while no cap decision "
                f"flips)"
            )
        # no decision flips: the hot set is unchanged, so delta docs cap
        # against exactly the hot set a full rebuild would derive (the
        # fp append path is cap-independent and stays as below). The
        # trailing select pins the stored column ORDER: the join moves
        # its key first, and appended part-files must match the base
        # files' layout or a mixed-dir read picks one at random
        d_sh = d_sh.join(
            F.broadcast(hot_df), "shingle", "left_anti"
        ).select(id_col, "shingle")
    # fingerprints already indexed keep their existing representative
    existing_fp = spark.read.parquet(str(_Path(vdir) / "fp")).select("fp")
    d_fp = d_fp.join(existing_fp, "fp", "left_anti")
    subs: list[tuple[str, DataFrame]] = [("fp", d_fp), ("shingles", d_sh)]
    if cap is not None and meta.get("has_df"):
        # O(delta) df side-table maintenance: the delta's per-shingle
        # counts append as rows; probes sum per shingle, compaction
        # merges physically
        subs.append(
            ("df", d_df.select("shingle", F.col("_d_df").alias("df")))
        )
    if meta.get("bands"):
        n_hashes, band_size = meta["bands"]
        subs.append(
            (
                "bands",
                minhash_signatures(d_sh, id_col, n_hashes).select(
                    F.col(id_col),
                    F.posexplode(
                        _band_hashes(n_hashes, band_size)
                    ).alias("band_idx", "band_hash"),
                ),
            )
        )
    if meta.get("has_sets"):
        subs.append(
            (
                "sets",
                d_sh.groupBy(id_col).agg(
                    F.collect_set("shingle").alias("_c_set"),
                    F.count(F.lit(1)).alias("_c_size"),
                ),
            )
        )

    def writer(new_vdir: str) -> None:
        for sub, ddf in subs:
            ddf.write.parquet(str(_Path(new_vdir) / sub))
        # every other subdir links forward whole (hot included — a
        # capped index's stop set must survive the append verbatim)
        carry_forward(vdir, new_vdir, append=[sub for sub, _ in subs])

    commit_version(path, writer, meta, expect_current=vdir)


#: Delete batches up to this many ids collect to a literal IN-predicate
#: pushed into the stored-table scans (rowgroup skipping); larger ones
#: fall back to the broadcast semi-join scan. 10k ids ≈ a few hundred
#: KB on the driver — far under any broadcast threshold.
DELETE_PUSHDOWN_MAX = 10_000


def delete_from_corpus_index(
    spark,
    path: str,
    delete_ids: DataFrame,
) -> bool:
    """Right-to-be-forgotten against the STORED corpus index (VERDICT
    r9 #1): commit an O(delete-set) tombstone version — every consumer
    reading through `read_corpus_index` anti-joins the deleted ids out
    of the fp/shingle/band/set frames immediately, and the next
    `compact_version` pass rewrites the keyed subdirs minus those rows
    (the physical purge), so deletion never requires the from-source
    rebuild that a 10⁹-row store cannot afford. ``delete_ids`` is any
    1-column frame of doc ids (pass `delete_propagation`'s non-kept ids
    to close the near-duplicate loophole — content surviving deletion
    verbatim under other ids).

    df-capped indexes stay exact for the append gate: the deleted docs'
    per-shingle counts fold in as NEGATIVE rows of the ``df`` side
    table in the same commit, so folded dfs always equal the LOGICAL
    (tombstone-filtered) corpus's true dfs. The hot set stays FROZEN —
    a deletion can only lower dfs, and the index never stored the hot
    shingles' occurrences, so un-hotting is undecidable from the store
    alone; frozen-hot is conservative (over-stopping, never a missed
    stop) and mirrors the append rule's monotonicity. A scheduled
    `write_corpus_index` rebuild re-derives the hot set from the purged
    corpus when drift accumulates.

    Deriving the negative rows and the present-ids filter read the
    stored shingle table pruned to the delete-set. For request batches
    up to `DELETE_PUSHDOWN_MAX` ids (the deletion-cadence norm) the ids
    collect to the driver (bounded pull) and prune as a LITERAL
    IN-predicate pushed into the parquet scan — `PushedFilters` reaches
    the rowgroup statistics, so files whose id ranges miss the delete
    set never deserialize (r11, closing the r10 O(corpus)-read debt;
    Spark folds over-long IN lists to a min/max range predicate, which
    still skips). Larger batches fall back to the broadcast semi-join
    (map-side O(corpus) columnar scan, no shuffle — the r10 shape);
    write volume is O(delete-set) either way. Tombstoned ids count as
    EXISTING for
    `append_corpus_index` until the purge (their physical rows remain),
    so a deleted id cannot be re-ingested — and can be again after
    compaction. Replayed delete batches are no-ops — already-tombstoned
    ids commit nothing, and after a purge (their tombstones physically
    gone) a replay's ids are absent from the store and drop out of the
    present-ids filter. Returns True iff a version was committed."""
    from pathlib import Path as _Path

    from ..sources.versioned import (
        append_tombstones,
        current_version,
        read_tombstones,
    )

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed corpus index at {path}")
    vdir, meta = cur
    id_col = meta["id_col"]
    fresh = delete_ids.toDF("_tomb_id").distinct()
    prior = read_tombstones(spark, path)
    if prior is not None:
        fresh = fresh.join(F.broadcast(prior), "_tomb_id", "left_anti")
    # pinned BEFORE the bounded collect below: a nondeterministic
    # delete request (a sampled set, a racing source) must give the
    # pushdown predicate and the tombstone writer the same ids
    fresh = fresh.localCheckpoint(eager=True)
    # bounded-batch fast path (r11): collect the request ids once and
    # prune the corpus-sized scans below with a pushed IN-predicate —
    # see the docstring's cost-shape paragraph
    req = fresh.limit(DELETE_PUSHDOWN_MAX + 1).collect()
    idvals = [r["_tomb_id"] for r in req]
    small = len(idvals) <= DELETE_PUSHDOWN_MAX
    # only ids PRESENT in the store tombstone (shingle ids ∪ fp
    # representatives — a zero-kept-shingle doc exists only in fp):
    # requests for absent ids are no-ops, which also makes a replayed
    # batch a no-op even AFTER the purge dropped its tombstones
    sh_tbl = spark.read.parquet(str(_Path(vdir) / "shingles"))
    fp_tbl = spark.read.parquet(str(_Path(vdir) / "fp"))
    if small:
        present = (
            sh_tbl.filter(F.col(id_col).isin(idvals))
            .select(F.col(id_col).alias("_tomb_id"))
            .unionByName(
                fp_tbl.filter(
                    F.col("_exact_match_id").isin(idvals)
                ).select(F.col("_exact_match_id").alias("_tomb_id"))
            )
            .distinct()
        )
        fresh = fresh.join(F.broadcast(present), "_tomb_id", "left_semi")
    else:
        present = sh_tbl.select(
            F.col(id_col).alias("_tomb_id")
        ).unionByName(
            fp_tbl.select(F.col("_exact_match_id").alias("_tomb_id"))
        )
        fresh = fresh.join(present, "_tomb_id", "left_semi")
    # pinned ONCE: the tombstone rows and the negative df rows both
    # derive from this frame — a nondeterministic delete request (a
    # sampled set, a racing source) must not let the two diverge
    fresh = fresh.localCheckpoint(eager=True)
    extra = None
    if meta.get("has_df"):
        # idvals is the request superset of fresh (prior-tombstoned ids
        # already removed; absent ids contribute no shingle rows), so
        # the pushed predicate selects EXACTLY fresh's rows
        pruned_sh = (
            sh_tbl.filter(F.col(id_col).isin(idvals))
            if small
            else sh_tbl.join(
                F.broadcast(fresh.select(F.col("_tomb_id").alias(id_col))),
                id_col,
                "left_semi",
            )
        )
        neg = pruned_sh.groupBy("shingle").agg(
            (-F.count(F.lit(1))).alias("df")
        )
        extra = [("df", neg)]
    keys = {"fp": "_exact_match_id", "shingles": id_col}
    if meta.get("bands"):
        keys["bands"] = id_col
    if meta.get("has_sets"):
        keys["sets"] = id_col
    return append_tombstones(
        spark, path, fresh, key_cols=keys, extra_subs=extra
    )


def read_corpus_index(
    spark, path: str, expect: dict | None = None
) -> "CorpusIndex":
    """Open the committed corpus index (fp, capped shingles, hot|None) —
    the handles `incremental_dedup`/`classify_stream` accept via their
    ``corpus_index`` parameter. ``hot is not None`` ⇔ the index was
    written WITH a df-cap (consumers that require full shingle sets,
    e.g. `corpus_guard_stream`, key their validation on this). Raises
    FileNotFoundError before the first commit.

    ``expect``: derivation params the CONSUMER will assume (e.g.
    ``{"k": 3, "max_doc_freq": 5}``) — any mismatch with the index's
    recorded meta raises, because e.g. a k=4 index probed by a k=3
    delta has a disjoint shingle space and silently classifies every
    near-duplicate as novel."""
    from pathlib import Path as _Path

    from ..sources.versioned import current_version

    cur = current_version(path)
    if cur is None:
        raise FileNotFoundError(f"no committed corpus index at {path}")
    vdir, meta = cur
    if expect:
        bad = {
            key: (meta.get(key), want)
            for key, want in expect.items()
            if meta.get(key) != want
        }
        if bad:
            raise ValueError(
                f"corpus index at {path} was written with "
                f"{ {k: v[0] for k, v in bad.items()} } but the consumer "
                f"expects { {k: v[1] for k, v in bad.items()} } — "
                f"mismatched derivation params make the shingle spaces "
                f"silently incompatible; rebuild the index"
            )
    fp = spark.read.parquet(str(_Path(vdir) / "fp"))
    sh = spark.read.parquet(str(_Path(vdir) / "shingles"))
    hot = (
        spark.read.parquet(str(_Path(vdir) / "hot"))
        if meta.get("has_hot")
        else None
    )
    band_df = (
        spark.read.parquet(str(_Path(vdir) / "bands"))
        if meta.get("bands")
        else None
    )
    sets_df = (
        spark.read.parquet(str(_Path(vdir) / "sets"))
        if meta.get("has_sets")
        else None
    )
    if meta.get("has_tombstones"):
        # logical deletes (delete_from_corpus_index): anti-join the
        # pending delete-set out of every id-keyed frame — O(delete-set)
        # broadcast per read; `compact_version` later makes it physical
        id_col = meta["id_col"]
        tombs = spark.read.parquet(str(_Path(vdir) / "tombstones"))

        def _alive(df, key):
            return df.join(
                F.broadcast(tombs.select(F.col("_tomb_id").alias(key))),
                key,
                "left_anti",
            )

        fp = _alive(fp, "_exact_match_id")
        sh = _alive(sh, id_col)
        if band_df is not None:
            band_df = _alive(band_df, id_col)
        if sets_df is not None:
            sets_df = _alive(sets_df, id_col)
    return CorpusIndex(fp, sh, hot, meta, bands=band_df, sets=sets_df)


def incremental_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    corpus_index: tuple[DataFrame, DataFrame, DataFrame | None] | None = None,
) -> DataFrame:
    """Classify each NEW document against an EXISTING corpus: `exact_dup`
    (content fingerprint already present), `near_dup` (MinHash-LSH
    candidate verified by capped-shingle Jaccard ≥ threshold), or `novel`.

    The production shape for continuously-crawled corpora: the corpus side
    is the indexed state (fingerprints, stop-shingle table, signatures —
    at scale these are precomputed once and stored; here they are derived
    in-plan from `corpus`), and every join is DELTA-DRIVEN: band-bucket
    join delta-bands × corpus-bands, then Jaccard verification only over
    candidate doc pairs (semi-joined shingle frames) — never
    corpus × corpus. Cost is O(|delta| · bucket_width), independent of
    |corpus|² .

    The doc-frequency cap (`max_doc_freq`) is computed from the CORPUS
    only (the known-distribution side): shingles hot in the corpus are
    dropped from both sides; delta-only shingles always survive. This is
    what a streaming ingest can actually do — the delta's own df is not
    knowable ahead of time.

    Output: one row per delta doc — (id, status, match_id, jaccard).
    `match_id` = canonical (min) matching corpus id, −1 for novel;
    `jaccard` = 1.0 for exact, best (max) verified Jaccard for near-dup,
    0.0 for novel.
    """
    delta_ids = delta.select(F.col(id_col))

    # --- exact tier: one hash-agg on the corpus, hash join on fp ---
    # (shared index derivation — see corpus_shingle_index; or the STORED
    # triple from write_corpus_index/read_corpus_index, which skips the
    # corpus scan entirely: the production refresh shape)
    if corpus_index is not None:
        validate_corpus_index(
            corpus_index, consumer="incremental_dedup",
            k=k, max_doc_freq=max_doc_freq,
        )
    corpus_fp, c_sh, hot = (
        corpus_index
        if corpus_index is not None
        else corpus_shingle_index(
            corpus, id_col, text_col, k, max_doc_freq, wide=False
        )
    )
    corpus_fp = corpus_fp.withColumnRenamed(
        "_exact_match_id", "exact_match_id"
    )
    delta_fp = delta.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("fp")
    )
    exact = delta_fp.join(corpus_fp, "fp").select(id_col, "exact_match_id")

    # --- delta shingles, corpus-df cap applied to BOTH sides ---
    # wide=False on both sides here: see shingles() — the checkpointed
    # consumers pay stage dispatch, not tokenize serialization
    d_sh = shingles(delta, id_col, text_col, k, wide=False)
    if hot is not None:
        d_sh = d_sh.join(hot, "shingle", "left_anti")
    d_sh = d_sh.persist()

    # --- candidate tier: delta bands × corpus bands ---
    # stored band index at the exact requested geometry → skip the
    # shingle→minhash→band derivation (a full pass + wide aggregate
    # over the stored shingle table per query); banding is determined
    # by the shingles, so either path is bit-identical
    stored_bands = (
        corpus_index.bands_for(n_hashes, band_size)
        if isinstance(corpus_index, CorpusIndex)
        else None
    )
    if stored_bands is not None:
        c_band = stored_bands.select(
            F.col(id_col).alias("cid"), "band_idx", "band_hash"
        )
    else:
        c_band = minhash_signatures(c_sh, id_col, n_hashes).select(
            F.col(id_col).alias("cid"),
            F.posexplode(_band_hashes(n_hashes, band_size)).alias(
                "band_idx", "band_hash"
            ),
        )
    d_band = minhash_signatures(d_sh, id_col, n_hashes).select(
        F.col(id_col).alias("did"),
        F.posexplode(_band_hashes(n_hashes, band_size)).alias(
            "band_idx", "band_hash"
        ),
    )
    cand = (
        d_band.join(c_band, ["band_idx", "band_hash"])
        .select("did", "cid")
        .distinct()
        .persist()
    )

    # --- verify tier: Jaccard over candidate pairs only ---
    d_cand_sh = d_sh.join(
        cand.select(F.col("did").alias(id_col)).distinct(), id_col, "left_semi"
    )
    c_cand_sh = c_sh.join(
        cand.select(F.col("cid").alias(id_col)).distinct(), id_col, "left_semi"
    )
    inter = (
        d_cand_sh.select(F.col(id_col).alias("did"), "shingle")
        .join(c_cand_sh.select(F.col(id_col).alias("cid"), "shingle"), "shingle")
        .join(cand, ["did", "cid"], "left_semi")
        .groupBy("did", "cid")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    d_sizes = d_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("d_size"))
    c_sizes = c_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("c_size"))
    jac = F.col("n_inter").cast("double") / (
        F.col("d_size") + F.col("c_size") - F.col("n_inter")
    )
    verified = (
        inter.join(d_sizes.select(F.col(id_col).alias("did"), "d_size"), "did")
        .join(c_sizes.select(F.col(id_col).alias("cid"), "c_size"), "cid")
        .select("did", "cid", F.round(jac, 6).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    near = verified.groupBy("did").agg(
        F.min("cid").alias("near_match_id"),
        F.max("jac").alias("best_jac"),
    )

    # --- combine (exact wins over near) ---
    out = (
        delta_ids.join(exact, id_col, "left")
        .join(near.withColumnRenamed("did", id_col), id_col, "left")
    )
    status = (
        F.when(F.col("exact_match_id").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_match_id").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
    )
    jaccard_out = (
        F.when(F.col("exact_match_id").isNotNull(), F.lit(1.0))
        .when(F.col("near_match_id").isNotNull(), F.col("best_jac"))
        .otherwise(F.lit(0.0))
    )
    # Sentinel for "no match" follows the id dtype: -1 for numeric ids,
    # '' for strings — a hard bigint cast would silently NULL string
    # match ids.
    from pyspark.sql.types import NumericType

    id_type = delta.schema[id_col].dataType
    if isinstance(id_type, NumericType):
        no_match = F.lit(-1).cast(id_type)
    else:
        no_match = F.lit("").cast(id_type)
    return out.select(
        F.col(id_col),
        status.alias("status"),
        F.coalesce("exact_match_id", "near_match_id", no_match)
        .cast(id_type)
        .alias("match_id"),
        jaccard_out.cast("double").alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Asymmetric containment (quote / subset-duplicate detection)
# ---------------------------------------------------------------------------
def containment_pairs(
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directed near-containment pairs: C(A→B) = |A∩B| / |A| over the
    (id, shingle) sets of `sh` (a `shingles` frame) — "how much of A appears inside B". Catches
    subset duplicates (a doc quoted or embedded in a longer one) that
    symmetric Jaccard misses: a 50-shingle doc fully contained in a
    1000-shingle doc has Jaccard ≈ 0.05 but containment 1.0.

    Same shingle-keyed candidate join as `ngram_jaccard_pairs` (only docs
    sharing ≥1 surviving shingle are compared; `max_doc_freq` is the same
    skew lever), but emits DIRECTED pairs (id_a ≠ id_b) since containment
    is asymmetric. One extra output row per unordered pair, no extra
    shuffle (the intersection aggregate serves both directions).
    """
    sh = _capped(sh, id_col, max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    contain = F.col("n_inter").cast("double") / F.col("size_a")
    return (
        inter.join(sa, "id_a")
        .select("id_a", "id_b", F.round(contain, 6).alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def line_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 10,
) -> DataFrame:
    """Per-line corpus duplication profile: one row per distinct
    (trimmed) line that is at least `min_chars` long, with the number of
    documents it occurs in and its total occurrence count.

    The line/paragraph-granular exact-dedup family of CCNet (Wenzek et
    al. 2020, paragraph-hash dedup) and RefinedWeb: navigation chrome,
    cookie banners, and boilerplate headers repeat VERBATIM at line
    granularity across millions of pages while their documents stay
    unique at doc granularity, so doc-level fingerprints never catch
    them. Short lines are excluded — one-word lines ("Home", "Menu")
    duplicate naturally and carry no signal.

    Plan shape: split → explode → one hash-agg keyed by the line text
    (the line must appear in the output, so the string itself is the
    key here — partial aggregation means each distinct line crosses the
    network once per map task, not once per occurrence). The scrub twin
    `remove_dup_lines` keys by the 8-byte xxhash64 fingerprint instead,
    since it only needs membership.
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "\n")).alias("_raw"),
    ).select(
        F.col(id_col),
        # full \s strip, not F.trim (which strips only ASCII spaces and
        # would let CRLF/tab-padded copies of a line hash apart)
        F.regexp_replace(F.col("_raw"), r"^\s+|\s+$", "").alias("line"),
    ).filter(F.length("line") >= min_chars)
    return (
        lines.groupBy("line")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
    )


def remove_dup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 1,
    min_chars: int = 10,
) -> DataFrame:
    """Scrub corpus-repeated lines out of every document: any trimmed
    line of length ≥ `min_chars` occurring in more than `max_docs`
    distinct documents is dropped from ALL of them; everything else
    (including short lines) is kept verbatim, and line order is
    preserved. Returns (id, text) with the reassembled text.

    Drop-from-all matches the RefinedWeb policy (the boilerplate is
    noise wherever it appears), unlike doc-level canonical selection
    where one copy survives.

    Two shuffles: the line-frequency hash-agg (8-byte xxhash64 key)
    and the per-document reassembly agg. The frequency side joins back
    on the fingerprint — shingle-keyed, never broadcast (the repeated-
    line table is corpus-sized). A line repeated across half the corpus
    is a hot join key; the join is left_anti-shaped (keep = no match
    among over-limit lines), so only the over-limit subset — bounded by
    `max_docs` filtering AFTER the agg, typically tiny relative to the
    corpus — flows into the join's build side.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "_raw"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.col("_raw").alias("line"),
        # \s-strip (not F.trim): CRLF and tab padding must not make two
        # copies of a boilerplate line hash differently
        F.xxhash64(
            F.regexp_replace(F.col("_raw"), r"^\s+|\s+$", "")
        ).alias("_fp"),
        (
            F.length(F.regexp_replace(F.col("_raw"), r"^\s+|\s+$", ""))
            >= min_chars
        ).alias("_eligible"),
    )
    over_limit = (
        lines.filter(F.col("_eligible"))
        .groupBy("_fp")
        .agg(F.count_distinct(F.col(id_col)).alias("_n_docs"))
        .filter(F.col("_n_docs") > max_docs)
        .select("_fp")
    )
    kept = lines.join(
        over_limit.withColumn("_drop", F.lit(True)), "_fp", "left"
    ).filter(~(F.col("_eligible") & F.coalesce(F.col("_drop"), F.lit(False))))
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("line")))
            ).alias("_parts")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform(F.col("_parts"), lambda s: s["line"])
            ).alias(text_col),
        )
    )
    # a doc whose EVERY line was scrubbed must survive with empty text,
    # not vanish from the corpus (downstream joins key on the id) — but
    # a doc whose text was NULL stays NULL (never-had-text must remain
    # distinguishable from fully-scrubbed)
    return (
        df.select(
            F.col(id_col), F.col(text_col).isNull().alias("_was_null")
        )
        .join(reassembled, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("_was_null"), F.lit(None).cast("string"))
            .otherwise(F.coalesce(F.col(text_col), F.lit("")))
            .alias(text_col),
        )
    )


def cross_source_dup_matrix(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    src_pair_col: str = "id_a",
    dst_pair_col: str = "id_b",
) -> DataFrame:
    """Which sources duplicate each other: fold any near-dup pair frame
    (`ngram_jaccard_pairs`, `lsh_candidate_pairs`, `containment_pairs`,
    `embedding_near_dup_pairs` — anything with two id columns) into a
    source × source matrix of duplicate-pair counts, plus each side's
    corpus share of the pair volume.

    The curation question this answers comes up before any doc-level
    action: if crawl-B is 80 % near-dup against crawl-A, you drop or
    down-weight the SOURCE, not a million individual docs. Diagonal rows
    (source_a == source_b) are within-source duplication; off-diagonal
    are cross-source. `source_a <= source_b` is canonical (pair frames
    are unordered), so each unordered source pair appears once.

    `pair_share` is each cell's share of the TOTAL pair volume (the
    matrix sums to 1), so off-diagonal cells read directly as "this
    fraction of all duplication is cross-source". The id joins are
    INNER: pass the same `docs` frame the pair frame was generated
    from — a pre-filtered docs frame silently drops every pair touching
    a filtered id and renormalizes the shares over the survivors.

    Two equi-joins of the pair list against the 2-column (id, source)
    projection (shuffle joins keyed by id; the doc side is corpus-sized,
    never broadcast) and one hash-agg on the source pair. Pair volume is
    bounded by whatever cap the pair generator applied — inherit a
    capped generator (`max_doc_freq`) and this never sees an uncapped
    pair space.
    """
    src = docs.select(F.col(id_col), F.col(source_col))
    a = src.select(
        F.col(id_col).alias(src_pair_col), F.col(source_col).alias("_sa")
    )
    b = src.select(
        F.col(id_col).alias(dst_pair_col), F.col(source_col).alias("_sb")
    )
    labeled = (
        pairs.select(src_pair_col, dst_pair_col)
        .join(a, src_pair_col)
        .join(b, dst_pair_col)
        .select(
            F.least(F.col("_sa"), F.col("_sb")).alias("source_a"),
            F.greatest(F.col("_sa"), F.col("_sb")).alias("source_b"),
        )
    )
    counts = labeled.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_dup_pairs")
    )
    total = counts.agg(F.sum("n_dup_pairs").alias("_t"))
    return counts.crossJoin(F.broadcast(total)).select(
        "source_a",
        "source_b",
        "n_dup_pairs",
        F.round(
            F.col("n_dup_pairs").cast("double") / F.col("_t"), 6
        ).alias("pair_share"),
    )


def cdc_chunk_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mod: int = 8,
    salt: str = "cdc-v1",
) -> DataFrame:
    """Content-defined chunking (CDC) dedup: per-doc duplicated-content
    share, with chunk boundaries decided by CONTENT, not position.

    The token-level analog of FastCDC/Gear byte chunking (Xia et al.,
    USENIX ATC'16): a token is a cut point iff its salted hash bucket
    ≡ 0 (mod `mod`), so the expected chunk is `mod` tokens and — the
    property fixed-size chunking lacks — an insertion or deletion
    anywhere in a document only reshapes the chunks it touches; all
    other chunk boundaries (and therefore their dedup identities)
    survive. That makes chunk-level dup counts stable across document
    revisions, the precondition for "how much of this doc is copied
    from elsewhere" to mean anything on a crawl with boilerplate drift.

    Output: (id, n_chunks, n_dup_chunks, dup_ratio) where a chunk is a
    dup iff its exact text occurs in >1 distinct document.

    Plan: the cut predicate is a stateless hash (no rolling state, so
    it needs no sequential scan); chunk ids come from a per-document
    running sum (window partitioned by doc — bounded by doc length,
    never corpus-sized); chunk assembly groups on (doc, chunk_idx); the
    global frequency pass shuffles 16-byte md5 chunk keys, not chunk
    text — the same shape as the exact-dup fingerprint index, so the
    100 TB cost is one hash-agg over ~|corpus|/mod keys. Both engines
    hash with md5 over the single-space rejoin, so the oracle
    (ORACLE_CDC_CHUNK_DUPS) replays chunking bit-for-bit.
    """
    from pyspark.sql import Window

    from .sampling import sample_bucket

    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "w"),
    )
    cut = (sample_bucket(F.col("w"), salt) % mod == 0).cast("long")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_chunk = toks.withColumn(
        "chunk_idx", F.coalesce(F.sum(cut).over(w_prev), F.lit(0))
    )
    chunks = with_chunk.groupBy(id_col, "chunk_idx").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            )
        ).alias("chunk_key")
    )
    freq = chunks.groupBy("chunk_key").agg(
        F.count_distinct(F.col(id_col)).alias("_ndocs")
    )
    return (
        chunks.join(freq, "chunk_key")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("_ndocs") > 1).cast("long")).alias("n_dup_chunks"),
        )
        .select(
            F.col(id_col),
            "n_chunks",
            "n_dup_chunks",
            F.round(
                F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 6
            ).alias("dup_ratio"),
        )
    )
