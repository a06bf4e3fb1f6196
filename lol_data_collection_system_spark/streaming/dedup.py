"""Streaming exact deduplication — the online half of the corpus dedup
family (`operators/dedup.exact_dup_groups` is the batch half).

Reference analog: the collector's per-row get-or-create guards
(`utils.py` add-if-absent upserts) are a row-at-a-time dedup against the
database; the stream-native form keeps the seen-set as watermarked
operator state instead of a DB round-trip per row.

Scale posture: state is keyed by the 16-byte content fingerprint, so the
store holds one small row per distinct document seen within the
watermark horizon; eviction is watermark-driven (without a horizon the
seen-set grows unboundedly — exact forever-dedup at 100 TB belongs to
the batch pass, this operator dedups the live window). Works identically
on batch frames (no watermark, plain dropDuplicates) so tests can
cross-check stream vs batch output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.text import fingerprint


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Keep the first arrival of each distinct (normalized) content
    fingerprint within the watermark horizon; later copies are dropped.

    Streaming frames use `dropDuplicatesWithinWatermark` — state for a
    fingerprint is evictable once the watermark passes its first-seen
    event time, which bounds the store while still catching every
    duplicate whose arrival skew is within `watermark_delay`. Batch
    frames take the plain `dropDuplicates` path (same keep-first-by-
    fingerprint semantics, no horizon).
    """
    fp = docs.withColumn("fp", fingerprint(F.col(text_col)))
    if fp.isStreaming:
        return fp.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(["fp"])
    return fp.dropDuplicates(["fp"])


def row_shingles(text_col: str, k: int = 3):
    """Row-local distinct word k-gram shingles — the array form of
    `dedup.shingles` (same normalization, same short-doc whole-text
    shingle), for per-event latency where a shuffle per row is wrong."""
    from ..operators.text import normalized_text, tokens

    toks = tokens(normalized_text(F.col(text_col)))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
    # NULL text parity with the batch `dedup.shingles`: posexplode(NULL)
    # yields ZERO rows there, while the transform above would yield ['']
    # (greatest ignores the NULL size) — and a [''] set would
    # band-collide with genuinely-empty corpus docs, breaking the
    # stream==batch exact-status contract for NULL-text events.
    return F.when(toks.isNotNull(), grams).otherwise(
        F.array().cast("array<string>")
    )


def minhash_bands_local(
    text_col: str, k: int = 3, n_hashes: int = 16, band_size: int = 4
):
    """Row-local MinHash band hashes: array of `n_hashes // band_size`
    (band_idx, band_hash) structs, computed entirely with array
    higher-order functions — no explode, no shuffle, no stateful
    aggregation ahead of the dedup state. Permutations come from the
    batch path's `minhash_perm` and the band digest mirrors
    `dedup._band_hashes`' md5-over-"|"-joined-slice geometry, so stream
    buckets live in the SAME space as `lsh_candidate_pairs` buckets.

    Row-local vs the batch explode + partial-agg shape is the right
    trade for per-event latency; interpreted HOFs cost more CPU per row
    than the codegen'd batch shape (see `minhash_signatures`' history).
    """
    return bands_of_shingle_array(
        row_shingles(text_col, k), n_hashes, band_size
    )


def bands_of_shingle_array(
    sh, n_hashes: int = 16, band_size: int = 4
):
    """Row-local band structs from a precomputed shingle-array column —
    split out so callers that cap/filter the shingle set first (e.g.
    `classify_stream`'s corpus-df stop-list) band the SAME set the
    verify tier measures, exactly like the batch pipeline bands its
    capped shingle frame."""
    from ..operators.dedup import MINHASH_PRIME, minhash_perm

    hashes = F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        % MINHASH_PRIME,
    )

    def perm_fn(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % MINHASH_PRIME

    mins = []
    for i in range(n_hashes):
        a, b = minhash_perm(i)
        mins.append(F.array_min(F.transform(hashes, perm_fn(a, b))))
    n_bands = n_hashes // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            mins[b * band_size + r].cast("string")
                            for r in range(band_size)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def simhash128_local(text_col: str):
    """Row-local 128-bit SimHash as a ``struct(w0, w1)`` column — the
    per-event form of `dedup.simhash128` (identical output, pinned by
    pytest): distinct normalized tokens, md5-slice bit contributions,
    sign per bit, MIN_VALUE packing for bit 63 of each word. Built
    entirely with array higher-order functions: one md5 per token
    (bound once via the one-element-array trick), a 128-int ±1 fold,
    and the fold result bound ONCE before the 128 packing reads — no
    explode, no shuffle, no aggregation ahead of the dedup state.

    Sign test here is ``Σ(±1) > 0``; the batch op tests ``2·cnt > n``.
    They are the same predicate (Σ = 2·cnt − n), so stream buckets live
    in the SAME fingerprint space as `simhash_components`' banding.
    """
    from ..operators.text import normalized_text, tokens

    toks = F.array_distinct(tokens(normalized_text(F.col(text_col))))

    def contribs(t):
        slices = F.struct(
            *[
                F.conv(F.substring(F.md5(t), 1 + 8 * j, 8), 16, 10)
                .cast("bigint")
                .alias(f"s{j}")
                for j in range(4)
            ]
        )

        def bits(s):
            return F.transform(
                F.sequence(F.lit(0), F.lit(127)),
                lambda i: (
                    F.call_function(
                        "shiftright",
                        F.when(i < 32, s["s0"])
                        .when(i < 64, s["s1"])
                        .when(i < 96, s["s2"])
                        .otherwise(s["s3"]),
                        i % 32,
                    ).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("int"),
            )

        # bind the four md5 slices once; bits() reads them 128 times
        return F.element_at(F.transform(F.array(slices), bits), 1)

    sums = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), 128),
        lambda acc, t: F.zip_with(acc, contribs(t), lambda a, c: a + c),
    )

    def word(arr, w: int):
        sig = F.lit(0).cast("bigint")
        for i in range(63):
            sig = sig + F.when(
                F.element_at(arr, 64 * w + i + 1) > 0, F.lit(1 << i)
            ).otherwise(F.lit(0))
        # bit 63 as the MIN_VALUE literal (1 << 63 overflows a long)
        return sig + F.when(
            F.element_at(arr, 64 * w + 64) > 0, F.lit(-(1 << 63))
        ).otherwise(F.lit(0))

    # bind the fold result once; the 128 packing reads hit the lambda
    # variable, not 128 re-evaluations of the fold
    return F.element_at(
        F.transform(
            F.array(sums),
            lambda arr: F.struct(
                word(arr, 0).cast("bigint").alias("w0"),
                word(arr, 1).cast("bigint").alias("w1"),
            ),
        ),
        1,
    )


def simhash_near_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
    n_bands: int = 8,
    emit_window: str = "1 minute",
) -> DataFrame:
    """Streaming SimHash near-duplicate guard — the online half of
    `dedup.simhash_components` (same 128-bit fingerprint, same 8×16-bit
    band geometry): a document is kept iff it is the FIRST arrival in
    EVERY one of its band buckets, so a re-upload or light edit within
    ``n_bands − 1`` Hamming bits shares ≥1 band with the original
    (pigeonhole) and is dropped — the candidate rule the batch grouping
    joins on, evaluated conservatively online (candidate ⇒ drop, no
    Hamming verify tier; kept stream ⊆ the batch novel set).

    Why SimHash next to the MinHash guard (`near_dedup_stream`): the
    per-event signature work is a single token fold instead of n_hashes
    permutations over shingles, the bucket key is 16 BYTES of
    fingerprint, and the drop rule tracks weighted-token direction
    rather than shingle-set overlap — the classic crawl-ingest trade.

    Plan shape mirrors the MinHash/media guards: row-local signature →
    JVM band split → per-BUCKET `dropDuplicatesWithinWatermark` → the
    shared all-bands-won emit stage. Batch frames run the identical
    plan with (ts, id)-ordered bucket winners, so stream==batch twins
    compare kept-id sets. Output: (window, id, ts, sig, bands sorted)
    with ``sig`` = "w0:w1".
    """
    sig = simhash128_local(text_col)
    hashed = docs.select(
        F.col(id_col),
        F.col(ts_col),
        sig["w0"].alias("_w0"),
        sig["w1"].alias("_w1"),
    ).withColumn(
        "sig", F.concat_ws(":", F.col("_w0"), F.col("_w1"))
    )
    band_bits = 128 // n_bands
    bands_per_word = n_bands // 2
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftrightunsigned(
                    F.col("_w0") if b < bands_per_word else F.col("_w1"),
                    (b % bands_per_word) * band_bits,
                )
                .bitwiseAND(F.lit(mask))
                .cast("string")
                .alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = hashed.select(
        id_col, ts_col, "sig", F.explode(bands).alias("_b")
    ).select(id_col, ts_col, "sig", "_b.band_idx", "_b.band_hash")
    if docs.isStreaming:
        winners = exploded.withWatermark(
            ts_col, watermark_delay
        ).dropDuplicatesWithinWatermark(["band_idx", "band_hash"])
        return _all_bands_won(
            winners, n_bands, id_col, ts_col, "sig", emit_window, True
        )
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash").orderBy(ts_col, id_col)
    winners = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return _all_bands_won(
        winners, n_bands, id_col, ts_col, "sig", emit_window, True
    )


def _all_bands_won(
    rows: DataFrame,
    n_bands: int,
    id_col: str,
    ts_col: str,
    text_col: str,
    emit_window: str,
    collect_bands: bool,
) -> DataFrame:
    """Shared emit stage: windowed per-doc count over surviving
    (doc, band) rows, keeping only docs that won/missed ALL `n_bands`
    buckets. One definition for the streaming guard, its batch twin,
    and the corpus guard — the semantics live in exactly one place."""
    aggs = [
        F.count(F.lit(1)).alias("_n"),
        F.first(ts_col).alias(ts_col),
        F.first(text_col).alias(text_col),
    ]
    if collect_bands:
        aggs.append(F.sort_array(F.collect_list("band_hash")).alias("bands"))
    return (
        rows.groupBy(F.window(ts_col, emit_window), F.col(id_col))
        .agg(*aggs)
        .filter(F.col("_n") == n_bands)
        .drop("_n")
    )


def near_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    emit_window: str = "1 minute",
) -> DataFrame:
    """Streaming NEAR-duplicate guard with the batch banding scheme: a
    document is kept iff it is the FIRST arrival in EVERY one of its
    `n_hashes / band_size` MinHash band buckets — i.e. it agrees with no
    earlier document on any band, the same "matches on ≥1 band ⇒
    candidate duplicate" rule `lsh_candidate_pairs` applies offline.
    Recall for a pair with Jaccard s is the full banded 1-(1-s^r)^b
    curve, not the single-band s^r this operator shipped with first.

    Plan shape (streaming): explode the row-local band structs →
    `dropDuplicatesWithinWatermark([band_idx, band_hash])` (per-BUCKET
    state, one small row per bucket within the horizon) → windowed
    per-doc count with `count == n_bands` keeping only all-bucket
    winners. That second stage is a watermarked streaming aggregation —
    chained stateful operators in append mode — so kept rows emit when
    the watermark passes their `emit_window`; size it to the latency the
    guard is allowed, and note the batch twin uses event-time (min ts)
    bucket winners where the stream uses arrival order: identical
    whenever arrival respects event time, which the parity test pins.

    Batch frames run the same explode → per-bucket first (rank over ts,
    id) → all-winner filter, so stream==batch checks compare doc sets.
    Output: (window, id, ts, text, bands sorted) — one row per kept doc.
    """
    n_bands = n_hashes // band_size
    bands = minhash_bands_local(text_col, k, n_hashes, band_size)
    exploded = docs.select(
        F.col(id_col), F.col(ts_col), F.col(text_col),
        F.explode(bands).alias("_b"),
    ).select(
        id_col, ts_col, text_col, "_b.band_idx", "_b.band_hash"
    )
    if docs.isStreaming:
        winners = exploded.withWatermark(
            ts_col, watermark_delay
        ).dropDuplicatesWithinWatermark(["band_idx", "band_hash"])
        return _all_bands_won(
            winners, n_bands, id_col, ts_col, text_col, emit_window, True
        )
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash").orderBy(ts_col, id_col)
    winners = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return _all_bands_won(
        winners, n_bands, id_col, ts_col, text_col, emit_window, True
    )


def _payload_phash():
    """The shared payload→fingerprint Arrow pandas_udf (the justified
    codec exception), modality-dispatching on the BYTES (container
    magic, never a metadata column): 64-bit image dHash for decodable
    BMPs, the gain-invariant waveform `ahash64` for PCM16 WAVs (so a
    louder audio re-upload collides like a brighter image re-upload),
    and a deterministic md5-derived stand-in for anything else — the
    stream must not die on one bad blob, and a random-looking hash
    keeps unknown blobs effectively unique. Image and audio hashes
    cannot cross-collide semantically: they live in the same 64-bit
    band space but a collision there is exactly as likely as any other
    unrelated-hash collision."""
    from ..operators.multimodal import _signed64, ahash64, dhash64

    @F.pandas_udf("long")
    def _phash(payloads: pd.Series) -> pd.Series:
        import hashlib
        import struct

        def one(b) -> int:
            raw = bytes(b)
            try:
                return _signed64(dhash64(raw))
            except (ValueError, struct.error, IndexError):
                pass
            try:
                return ahash64(raw)
            except (ValueError, struct.error, IndexError):
                return _signed64(
                    int.from_bytes(hashlib.md5(raw).digest()[:8], "big")
                )

        return payloads.map(one)

    return _phash


def _phash_band_structs(col, n_bands: int, bits: int):
    """(band_idx, band_hash) struct array over a 64-bit fingerprint
    column — `hamming_candidate_edges`' contiguous-band geometry as a
    row-local expression, shared by every perceptual guard."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftrightunsigned(col, b * band_bits)
                .bitwiseAND(F.lit(mask))
                .cast("string")
                .alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def media_corpus_guard_stream(
    media: DataFrame,
    corpus_phash: DataFrame | None = None,
    id_col: str = "media_id",
    ts_col: str = "ts",
    payload_col: str = "payload",
    n_bands: int = 8,
    bits: int = 64,
    watermark_delay: str = "10 minutes",
    emit_window: str = "1 minute",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Guard an incoming media stream against a STATIC perceptual
    corpus: drop payloads whose dHash shares ≥1 Hamming band with ANY
    corpus fingerprint — the media analog of `corpus_guard_stream`,
    completing the vs-corpus symmetry (text had both the within-stream
    guard and the corpus guard; media only had the former). The
    candidate rule is `hamming_components`' banding, so everything this
    guard drops is a batch candidate pair with the corpus (conservative
    direction; exact re-uploads collide on ALL bands and always drop).

    ``corpus_phash``: a (phash) frame — `multimodal.phash_images`
    output or a stored fingerprint artifact; at 100 TB this is 8 bytes
    per corpus asset, derived once, never the payloads.

    ``corpus_bands``: the pre-split DISTINCT (band_idx, band_hash)
    frame, when the caller already holds it (a stored artifact, or a
    persisted derivation shared across guards). When only
    ``corpus_phash`` is given, the band split + distinct derive
    IN-PLAN — and in continuous-trigger mode the static side of a
    stream-static join re-evaluates per micro-batch, so a long-running
    guard should pass ``corpus_bands`` (or a cached/localCheckpointed
    ``corpus_phash``) rather than re-scanning the fingerprint table
    every trigger (ADVICE r8).

    Plan shape: payload→dHash (shared Arrow udf) → JVM band split →
    stateless stream-static LEFT-ANTI join against the corpus's
    DISTINCT band buckets → the shared all-bands-won windowed emit (the
    only stateful stage). Batch frames run the identical plan, so
    stream==batch twins compare kept-id sets. Output:
    (window, id, ts, phash, bands sorted).
    """
    hashed = media.select(
        F.col(id_col),
        F.col(ts_col),
        _payload_phash()(F.col(payload_col)).alias("phash"),
    )
    bands = _phash_band_structs(F.col("phash"), n_bands, bits)
    exploded = hashed.select(
        id_col, ts_col, "phash", F.explode(bands).alias("_b")
    ).select(id_col, ts_col, "phash", "_b.band_idx", "_b.band_hash")
    if corpus_bands is None:
        if corpus_phash is None:
            raise ValueError(
                "media_corpus_guard_stream needs corpus_phash (the "
                "fingerprint frame to band in-plan) or corpus_bands "
                "(the pre-derived distinct band buckets)"
            )
        corpus_bands = (
            corpus_phash.select(
                F.explode(
                    _phash_band_structs(F.col("phash"), n_bands, bits)
                ).alias("_b")
            )
            .select("_b.band_idx", "_b.band_hash")
            .distinct()
        )
    else:
        corpus_bands = corpus_bands.select("band_idx", "band_hash")
    survivors = exploded.join(
        corpus_bands, ["band_idx", "band_hash"], "left_anti"
    )
    if media.isStreaming:
        survivors = survivors.withWatermark(ts_col, watermark_delay)
    return _all_bands_won(
        survivors, n_bands, id_col, ts_col, "phash", emit_window, True
    )


def media_near_dedup_stream(
    media: DataFrame,
    id_col: str = "media_id",
    ts_col: str = "ts",
    payload_col: str = "payload",
    watermark_delay: str = "10 minutes",
    n_bands: int = 8,
    bits: int = 64,
    emit_window: str = "1 minute",
) -> DataFrame:
    """Streaming perceptual near-duplicate guard for image payloads —
    the online half of `dedup.hamming_components` (same banding
    geometry: the 64-bit dHash split into 8 contiguous 8-bit bands). A
    media row is kept iff it is the FIRST arrival in EVERY one of its
    band buckets: a brightness-shifted or lightly-edited re-upload
    shares ≥1 band with the original (pigeonhole, Hamming < n_bands)
    and is dropped, exactly the candidate rule the batch grouping joins
    on.

    Plan shape mirrors `near_dedup_stream`: the fingerprint is ONE
    Arrow pandas_udf over the payload bytes (the justified codec
    exception; modality-dispatching — image dHash, audio `ahash64`,
    md5 stand-in), the band split stays JVM-side, then per-BUCKET
    `dropDuplicatesWithinWatermark` state and the shared all-bands-won
    emit stage. State is one small row per occupied band bucket within
    the horizon — payload bytes never enter the state store. Batch
    frames run the same plan with (ts, id)-ordered bucket winners, so
    the stream==batch twin compares kept-id sets. Output:
    (window, id, ts, phash, bands sorted).

    Entropy caveat (both guards): banding is CANDIDATE-level — no
    Hamming verify runs online — which assumes near-full-entropy
    fingerprints. Degenerate payloads whose fingerprints are mostly
    zero (e.g. audio clips shorter than the 65-tap grid) share their
    zero bands with each other and over-drop; that regime belongs to
    the VERIFIED components path (`audio_near_dup`/`media_near_dup`),
    not the ingest guard.
    """
    hashed = media.select(
        F.col(id_col),
        F.col(ts_col),
        _payload_phash()(F.col(payload_col)).alias("phash"),
    )
    bands = _phash_band_structs(F.col("phash"), n_bands, bits)
    exploded = hashed.select(
        id_col, ts_col, "phash", F.explode(bands).alias("_b")
    ).select(id_col, ts_col, "phash", "_b.band_idx", "_b.band_hash")
    if media.isStreaming:
        winners = exploded.withWatermark(
            ts_col, watermark_delay
        ).dropDuplicatesWithinWatermark(["band_idx", "band_hash"])
        return _all_bands_won(
            winners, n_bands, id_col, ts_col, "phash", emit_window, True
        )
    from pyspark.sql import Window

    w = Window.partitionBy("band_idx", "band_hash").orderBy(ts_col, id_col)
    winners = (
        exploded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return _all_bands_won(
        winners, n_bands, id_col, ts_col, "phash", emit_window, True
    )


def corpus_guard_stream(
    docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    emit_window: str = "1 minute",
    corpus_index: tuple | None = None,
) -> DataFrame:
    """Guard an incoming stream against a STATIC indexed corpus: drop
    documents that exact-duplicate (fingerprint) or near-duplicate (any
    shared MinHash band bucket) something already in the corpus; pass
    everything else through. The online companion of
    `operators/dedup.incremental_dedup` — same fingerprint space, same
    signature scheme, same banding geometry, so a doc this guard drops is
    exactly a doc that pipeline would mark `exact_dup` or produce as an
    LSH candidate (kept stream ⊆ its `novel` set; candidates are a
    superset of the Jaccard-verified matches, which is the conservative
    direction for a guard).

    Plan shape: the corpus index (distinct fingerprints + distinct band
    buckets — at scale precomputed and stored, here derived in-plan) sits
    on the static side of two stream-static LEFT ANTI joins, which are
    STATELESS in Structured Streaming — no per-key store, no watermark
    eviction problem, unbounded corpus age. The only stateful operator is
    the final windowed all-bands-survived count (a doc is kept iff every
    one of its bands missed the corpus), identical to
    `near_dedup_stream`'s emit stage. Batch frames take the same plan
    minus the watermark, so stream==batch parity is testable.
    """
    from ..operators.dedup import _band_hashes, minhash_signatures, shingles

    n_bands = n_hashes // band_size
    stored_bands = None
    if corpus_index is not None:
        # STORED index (write_corpus_index/read_corpus_index triple):
        # the corpus never gets scanned at guard start. This guard bands
        # FULL shingle sets — a df-capped index (hot ≠ None) would band
        # shingle sets missing every hot shingle and silently weaken the
        # drop rule, so it is rejected loudly.
        from ..operators.dedup import validate_corpus_index

        # fresh docs are banded with THIS call's k (minhash_bands_local
        # below) — a k-mismatched index has a disjoint band space and
        # would silently disable the near-dup drop tier (ADVICE r7),
        # the same silent-weakening class as the hot-cap rejection.
        validate_corpus_index(
            corpus_index, consumer="corpus_guard_stream", k=k
        )
        fp_tbl, c_sh, _hot = corpus_index
        if _hot is not None:
            raise ValueError(
                "corpus_guard_stream requires an index written WITHOUT "
                "a df-cap (max_doc_freq=None): a capped index bands "
                "shingle sets missing the hot shingles and weakens the "
                "guard; write a dedicated uncapped index for the guard"
            )
        corpus_fp = fp_tbl.select("fp").distinct()
        if hasattr(corpus_index, "bands_for"):
            stored_bands = corpus_index.bands_for(n_hashes, band_size)
    else:
        corpus_fp = corpus.select(
            fingerprint(F.col(text_col)).alias("fp")
        ).distinct()
        c_sh = shingles(corpus, id_col, text_col, k)
    if stored_bands is not None:
        # band index persisted at this geometry: the guard starts with a
        # parquet read instead of re-banding the shingles
        corpus_bands = stored_bands.select("band_idx", "band_hash").distinct()
    else:
        corpus_bands = (
            minhash_signatures(c_sh, id_col, n_hashes)
            .select(
                F.posexplode(_band_hashes(n_hashes, band_size)).alias(
                    "band_idx", "band_hash"
                )
            )
            .distinct()
        )

    fresh = docs.withColumn("fp", fingerprint(F.col(text_col))).join(
        corpus_fp, "fp", "left_anti"
    )
    bands = minhash_bands_local(text_col, k, n_hashes, band_size)
    exploded = fresh.select(
        F.col(id_col), F.col(ts_col), F.col(text_col),
        F.explode(bands).alias("_b"),
    ).select(id_col, ts_col, text_col, "_b.band_idx", "_b.band_hash")
    survived = exploded.join(
        corpus_bands, ["band_idx", "band_hash"], "left_anti"
    )
    if docs.isStreaming:
        survived = survived.withWatermark(ts_col, watermark_delay)
    return _all_bands_won(
        survived, n_bands, id_col, ts_col, text_col, emit_window, False
    )


def classify_stream(
    docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark_delay: str = "10 minutes",
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    emit_window: str = "1 minute",
    max_stop_shingles: int = 100_000,
    stop_set: str = "auto",
    stop_bloom_bits: int | None = None,
    stop_bloom_hashes: int = 4,
    corpus_index: tuple | None = None,
) -> DataFrame:
    """Streaming twin of `operators/dedup.incremental_dedup` with EXACT
    status parity: every incoming document is classified `exact_dup`
    (corpus fingerprint hit), `near_dup` (MinHash-LSH candidate whose
    capped-shingle Jaccard rounds to ≥ threshold), or `novel`, with the
    same (status, match_id, jaccard) a batch run of `incremental_dedup`
    over the same delta would produce — not the candidate-superset drop
    set `corpus_guard_stream` uses (that guard stays the cheap tier:
    no shingle sets on its index, strictly smaller state).

    How the batch three-tier plan maps onto stateless stream ops:

    - exact tier: stream-static LEFT join against the corpus fingerprint
      table (fp → min corpus id). Stateless.
    - candidate tier: the doc's bands (computed row-locally over its
      CAPPED shingle set, mirroring the batch pipeline which bands the
      capped shingle frame) explode into a stream-static INNER join
      against the NARROW corpus band index (id, band_idx, band_hash —
      24 B rows, never a shingle set). Stateless; a doc with an empty
      capped set produces no band rows, exactly as it vanishes from the
      batch band frame.
    - pair dedup: candidates collapse to DISTINCT (delta observation,
      corpus doc) pairs before any verify operand attaches — duplicate
      band hits of one pair carry identical payloads, so this changes
      no output, but each pair now fetches its corpus set once instead
      of up-to-n_bands times (VERDICT r8 #3: the verify sets previously
      rode the band join n_bands× AND every duplicate hit re-paid the
      intersection). The dedup key is the full row identity
      (id, ts, payload digest, corpus id) — NOT just (id, corpus id) —
      so a doc id re-observed at a later event time inside the
      watermark horizon keeps its own verify rows and classifies in its
      own emit window (ADVICE r9). Watermark-scoped keyed state,
      bounded by the delta's candidate pairs in the horizon.
    - verify tier: ROW-LOCAL. Each deduped pair joins the corpus doc's
      stored capped shingle set by id, so Jaccard is `array_intersect`
      against the stream row's own set — no pairwise shuffle.
    - combine: union the verify rows with one per-doc base row (so docs
      with zero candidates still emit), then ONE watermarked windowed
      aggregation.

    The corpus-df cap (`max_doc_freq`) ships row-locally in one of two
    representations, chosen by `stop_set`:

    - ``"exact"``: the collected hot-shingle STOP-LIST (`array_except`) —
      what the batch side does with an anti-join, the per-event side does
      with a broadcast dictionary. Driver cost is O(hot); raises past
      `max_stop_shingles` (the ONLY raise path — the no-Bloom
      configuration).
    - ``"bloom"``: a Bloom word-table over the hot shingles
      (`operators/bloom.build_bloom`), embedded as a dense literal and
      probed per shingle with `bloom.member_expr` — driver cost is
      bounded by the FILTER GEOMETRY (m_bits/32 longs), independent of
      how many shingles are hot, so the guard starts at ANY corpus size.
      No false negatives: every truly-hot shingle is ALWAYS stopped, so
      the df-cap scale protection never degrades. False positives
      over-stop: a non-hot shingle can additionally be dropped from the
      doc's capped set (P ≈ (1-e^{-h·n/m})^h; ~0.2 % at the auto-derived
      geometry), shifting that doc's bands/Jaccard. The probe is
      md5-deterministic bit-for-bit, so the capped set is a pure
      function of (corpus, geometry): stream==batch parity stays EXACT
      in bloom mode, and any deviation vs the exact-list mode is
      confined to docs containing a Bloom-false-positive shingle
      (envelope pinned in tests/test_streaming.py). Exact row-local
      capping with driver memory independent of the hot count is not
      achievable (membership of an unbounded set cannot be decided
      row-locally in bounded space); this is the documented trade.
    - ``"auto"`` (default): exact while the hot list fits
      `max_stop_shingles`, Bloom beyond — the guard never refuses to
      start.

    `stop_bloom_bits` (None = auto: 16 bits/key, clamped to
    [2^16, 2^22]) and `stop_bloom_hashes` set the Bloom geometry.

    Index cost: the band join carries 24 B rows; the per-doc shingle
    SETS live in a separate (id, set) frame probed once per distinct
    candidate pair (r9 — previously each corpus set was materialized
    once per band row, an ×n_bands constant SCALING r8 A3 measured as
    the guard's dominant cost). At 100 TB both frames are precomputed
    + stored (`write_corpus_index(bands=, sets=True)`), not derived
    in-plan as here.

    Output: (window, id, status, match_id, jaccard) — one row per doc
    per emit window; batch frames run the identical plan minus the
    watermark, so stream==batch parity is testable (pinned in
    tests/test_streaming.py against `incremental_dedup` itself).
    """
    from pyspark.sql.types import NumericType

    from ..operators.dedup import (
        _band_hashes,
        corpus_shingle_index,
        fingerprint,
        minhash_signatures,
    )

    # ---- static corpus index ----
    # Shared derivation with batch incremental_dedup — the exact
    # stream==batch status parity depends on the cap logic being the
    # SAME code (operators/dedup.corpus_shingle_index). Pass
    # ``corpus_index`` (the read_corpus_index triple) to serve from the
    # STORED index instead of deriving in-plan — the production shape,
    # where the guard starts without ever scanning the corpus.
    if corpus_index is not None:
        from ..operators.dedup import validate_corpus_index

        # stream docs shingle with THIS call's k / cap — a mismatched
        # index silently disables the near-dup tier (ADVICE r7)
        validate_corpus_index(
            corpus_index, consumer="classify_stream",
            k=k, max_doc_freq=max_doc_freq,
        )
    corpus_fp, c_sh, hot_df = (
        corpus_index
        if corpus_index is not None
        else corpus_shingle_index(corpus, id_col, text_col, k, max_doc_freq)
    )
    corpus_fp = corpus_fp.withColumnRenamed("_exact_match_id", "_exact_mid")
    if stop_set not in ("auto", "exact", "bloom"):
        raise ValueError(
            f"stop_set must be 'auto', 'exact' or 'bloom', got {stop_set!r}"
        )
    stop_list: list[str] = []
    stop_probe = None
    if hot_df is not None:
        use_bloom = stop_set == "bloom"
        if not use_bloom:
            # bounded probe: never pull more than the cap + 1 rows to the
            # driver, even when the hot table is huge
            hot = hot_df.limit(max_stop_shingles + 1).collect()
            if len(hot) > max_stop_shingles:
                if stop_set == "exact":
                    raise ValueError(
                        f"corpus stop-shingle list exceeds "
                        f"max_stop_shingles={max_stop_shingles}; use "
                        f"stop_set='bloom'/'auto' for a geometry-bounded "
                        f"Bloom stop set"
                    )
                use_bloom = True  # auto: degrade to the Bloom, not a raise
            else:
                stop_list = sorted(r["shingle"] for r in hot)
        if use_bloom:
            from ..operators import bloom as bloom_ops

            if stop_bloom_bits is None:
                n_hot = hot_df.count()
                # 16 bits/key ≈ 0.24 % FP at 4 hashes; clamp so the word
                # literal stays plan-friendly (2^22 bits = 131k longs)
                stop_bloom_bits = 1 << max(
                    16, min(22, (16 * max(n_hot, 1) - 1).bit_length())
                )
            words = bloom_ops.dense_words(
                bloom_ops.build_bloom(
                    hot_df, "shingle", stop_bloom_bits, stop_bloom_hashes
                ),
                stop_bloom_bits,
            )
            m, h = stop_bloom_bits, stop_bloom_hashes

            def stop_probe(s):
                return bloom_ops.member_expr(s, words, m, h)
    stored_sets = getattr(corpus_index, "sets", None)
    if stored_sets is not None:
        # verify-tier sets persisted (write_corpus_index sets=True):
        # skip the per-start collect_set pass over the shingle table;
        # set contents are order-free downstream (intersection
        # cardinalities only), so the stored frame serves identically
        c_sets = stored_sets.select(id_col, "_c_set", "_c_size")
    else:
        c_sets = c_sh.groupBy(id_col).agg(
            F.collect_set("shingle").alias("_c_set"),
            F.count(F.lit(1)).alias("_c_size"),
        )
    stored_bands = (
        corpus_index.bands_for(n_hashes, band_size)
        if hasattr(corpus_index, "bands_for")
        else None
    )
    if stored_bands is not None:
        # band index persisted at this geometry (write_corpus_index
        # bands=): skip the per-start shingle→minhash→band derivation
        banded = stored_bands.select(id_col, "band_idx", "band_hash")
    else:
        banded = minhash_signatures(c_sh, id_col, n_hashes).select(
            F.col(id_col),
            F.posexplode(_band_hashes(n_hashes, band_size)).alias(
                "band_idx", "band_hash"
            ),
        )
    # candidate tier joins the NARROW band index (24 B rows); the heavy
    # verify operands (_c_set) attach ONLY to deduplicated candidate
    # pairs below — previously each corpus doc's shingle set rode the
    # static side n_bands (8) times and every duplicate band hit of the
    # same (doc, corpus) pair recomputed the intersection (SCALING r8
    # A3 measured the guard verify-heavy even fully stored; VERDICT r8
    # #3). Candidate dedup costs one keyed state store within the
    # watermark horizon, bounded by the DELTA's candidate pairs.
    band_index = banded.select(
        "band_idx", "band_hash", F.col(id_col).alias("_cid")
    )
    c_sets = c_sets.select(
        F.col(id_col).alias("_cid"), "_c_set", "_c_size"
    )

    # ---- stream side: everything row-local until the final aggregate ----
    if docs.isStreaming:
        # one upstream watermark serves the candidate dedup AND the
        # final windowed aggregate (chained stateful operators)
        docs = docs.withWatermark(ts_col, watermark_delay)
    d_set = row_shingles(text_col, k)
    if stop_probe is not None:
        d_set = F.filter(d_set, lambda s: ~stop_probe(s))
    elif stop_list:
        d_set = F.array_except(d_set, F.lit(stop_list))
    base = (
        docs.select(
            F.col(id_col),
            F.col(ts_col),
            fingerprint(F.col(text_col)).alias("fp"),
            d_set.alias("_d_set"),
        )
        .join(corpus_fp, "fp", "left")
    )
    cid_type = corpus.schema[id_col].dataType
    a_rows = base.select(
        id_col,
        ts_col,
        "_exact_mid",
        F.lit(None).cast(cid_type).alias("_cid"),
        F.lit(None).cast("double").alias("_jac"),
    )
    bands = F.when(
        F.size("_d_set") > 0,
        bands_of_shingle_array(F.col("_d_set"), n_hashes, band_size),
    )
    exploded = base.select(
        id_col, ts_col, "_exact_mid", "_d_set", F.explode(bands).alias("_b")
    ).select(
        id_col, ts_col, "_exact_mid", "_d_set", "_b.band_idx", "_b.band_hash"
    )
    n_inter = F.size(F.array_intersect(F.col("_d_set"), F.col("_c_set")))
    jac = F.round(
        n_inter.cast("double")
        / (F.size("_d_set") + F.col("_c_size") - n_inter),
        6,
    )
    cand = exploded.join(band_index, ["band_idx", "band_hash"]).select(
        id_col,
        ts_col,
        "_exact_mid",
        "_d_set",
        F.xxhash64("_exact_mid", "_d_set").alias("_dh"),
        "_cid",
    )
    # distinct (delta observation, corpus doc) pairs BEFORE the verify
    # sets attach: duplicate band hits of one (row, corpus-doc) pair
    # carry identical payloads, so dropping them changes no output — the
    # final aggregate absorbed them before; now they never fetch a set
    # or pay an intersection. The key carries the FULL row identity
    # (ts + a payload digest, not just the doc id): a doc id
    # re-observed at a later event time within the watermark horizon —
    # a re-crawl under the same id — is a distinct observation whose
    # verify rows must reach its own emit window; keying on
    # [id, _cid] alone silently dropped it, so the later window saw
    # only its base row and reported `novel` (ADVICE r9).
    cand = (
        cand.dropDuplicatesWithinWatermark([id_col, ts_col, "_dh", "_cid"])
        if docs.isStreaming
        else cand.dropDuplicates([id_col, ts_col, "_dh", "_cid"])
    )
    b_rows = cand.join(c_sets, "_cid").select(
        id_col, ts_col, "_exact_mid", "_cid", jac.alias("_jac")
    )
    unioned = a_rows.unionByName(b_rows)
    verified_cid = F.when(F.col("_jac") >= threshold, F.col("_cid"))
    verified_jac = F.when(F.col("_jac") >= threshold, F.col("_jac"))
    agg = unioned.groupBy(
        F.window(ts_col, emit_window), F.col(id_col)
    ).agg(
        F.max("_exact_mid").alias("_emid"),
        F.min(verified_cid).alias("_nmid"),
        F.max(verified_jac).alias("_bjac"),
    )
    status = (
        F.when(F.col("_emid").isNotNull(), F.lit("exact_dup"))
        .when(F.col("_nmid").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("novel"))
    )
    jaccard_out = (
        F.when(F.col("_emid").isNotNull(), F.lit(1.0))
        .when(F.col("_nmid").isNotNull(), F.col("_bjac"))
        .otherwise(F.lit(0.0))
    )
    id_type = docs.schema[id_col].dataType
    if isinstance(id_type, NumericType):
        no_match = F.lit(-1).cast(id_type)
    else:
        no_match = F.lit("").cast(id_type)
    return agg.select(
        "window",
        F.col(id_col),
        status.alias("status"),
        F.coalesce("_emid", "_nmid", no_match).cast(id_type).alias("match_id"),
        jaccard_out.cast("double").alias("jaccard"),
    )


def corpus_ingest_sink(
    index_path: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
    compact_files: int | None = 64,
    max_doc_freq: int | None = None,
    rebuild_docs=None,
):
    """foreachBatch body for a SELF-GROWING corpus ingest: classify each
    micro-batch against the stored corpus index (`incremental_dedup`'s
    exact/near/novel statuses), persist the statuses, then fold the
    batch's NOVEL documents into the index via `append_corpus_index` —
    so batch N+1 deduplicates against batch N's survivors, which the
    static-corpus guard (`corpus_guard_stream`) by construction cannot
    do. This is the continuous-crawl loop: classify → admit → index.

    Granularity: documents within ONE micro-batch classify against the
    index only, not each other (in-batch near-dups pass together; run
    `near_dedup_stream` upstream or batch `dedup_clusters` downstream
    when in-batch collisions matter).

    Replay correctness (crash between any write and the checkpoint
    commit): the batch's own ids are ANTI-JOINED OUT of the index
    frames before classifying, so a replayed batch — whose novel docs
    the crashed run may already have appended — reproduces its original
    statuses instead of suddenly seeing itself as exact_dup; the status
    sink overwrites only its own batch partition; the index append is
    content-idempotent. (A full fresh-checkpoint rerun reproduces
    statuses exactly when batches' novel sets don't cross-collide — the
    fold is order-defined, like any incremental classification.)

    Status-store caveat (ADVICE r8): the per-batch partition overwrite
    keys replay idempotency on ``_batch_id`` WITHIN one checkpoint
    lineage. A fresh-checkpoint rerun whose file→batch split differs
    (changed ``maxFilesPerTrigger``, new files landed) writes new
    partitions without clearing the old lineage's, so a doc can appear
    under two batch ids — and because in-batch docs never classify
    against each other, the two rows' statuses can legitimately
    disagree. Read the store through `read_ingest_statuses`, which
    collapses to each doc's LATEST row (the classification against the
    most-grown index), or point reruns at a fresh ``out_dir``.

    ``max_doc_freq`` + ``rebuild_docs`` enable a df-CAPPED ingest loop
    (VERDICT r9 #2 — wiring the drift audit to a maintenance action):
    capped indexes append under `append_corpus_index`'s bounded-drift
    rule, and a refusal (a delta would flip a cap decision — the drift
    signal itself) is the WRONG failure mode for an unattended loop,
    so the sink catches it and triggers the scheduled rebuild inline:
    ``rebuild_docs(spark)`` must return the index's PRE-BATCH document
    set (the caller's source-of-truth corpus store, read through its
    deletion filter); the sink unions the batch's novel rows and
    commits `write_corpus_index` over the whole logical corpus — the
    rebuilt index equals a from-scratch build, hot set re-derived.
    Undrifted batches never rebuild (the O(delta) append keeps
    serving). Both None = the uncapped r9 behavior, where every append
    is unconditionally legal. A cap WITHOUT ``rebuild_docs`` (or the
    reverse) raises at construction — a drift signal with no action is
    the unattended-crash mode this parameter pair exists to close.

    ``compact_files``: every append adds one part-file set per subdir;
    once any subdir of the committed index crosses this many data
    files the sink triggers `versioned.compact_version` — a
    content-identical coalesced rewrite in its own CAS-guarded commit
    — so the store self-heals without an external scheduler (VERDICT
    r8 #4). None disables.
    """
    from ..operators.dedup import (
        append_corpus_index,
        incremental_dedup,
        read_corpus_index,
        write_corpus_index,
    )
    from ..sources.versioned import current_version

    if (max_doc_freq is None) != (rebuild_docs is None):
        raise ValueError(
            "corpus_ingest_sink: max_doc_freq and rebuild_docs come "
            "together — a capped index WILL eventually refuse an append "
            "(that is the drift signal), and an unattended loop needs "
            "the rebuild action wired; a rebuild source without a cap "
            "is dead configuration"
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if current_version(index_path) is None:
            # first batch seeds an EMPTY index with this sink's params
            write_corpus_index(
                batch_df.limit(0), index_path, id_col, text_col, k,
                max_doc_freq=max_doc_freq,
            )
        idx = read_corpus_index(
            spark, index_path,
            expect={"k": k, "max_doc_freq": max_doc_freq},
        )
        idx_fp, idx_sh, idx_hot = idx
        # self-exclusion: a replayed batch must not classify against its
        # own (already-appended) rows
        own = F.broadcast(batch_df.select(F.col(id_col)).distinct())
        fp_f = idx_fp.join(
            own.withColumnRenamed(id_col, "_exact_match_id"),
            "_exact_match_id",
            "left_anti",
        )
        sh_f = idx_sh.join(own, id_col, "left_anti")
        statuses = incremental_dedup(
            None,  # unused: the index triple replaces the corpus scan
            batch_df,
            id_col,
            text_col,
            k,
            n_hashes,
            band_size,
            threshold,
            max_doc_freq=max_doc_freq,
            # the hot set is corpus-level state, never self-excluded:
            # bounded-drift appends can't flip it, so a replayed batch
            # sees the same hot set its first run did
            corpus_index=(fp_f, sh_f, idx_hot),
        ).localCheckpoint(eager=False)
        (
            statuses.withColumn("_batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_dir)
        )
        novel = batch_df.join(
            statuses.filter(F.col("status") == "novel").select(
                F.col(id_col)
            ),
            id_col,
        )
        try:
            append_corpus_index(spark, index_path, novel)
        except ValueError as exc:
            if rebuild_docs is None or "over the cap" not in str(exc):
                raise
            # the drift signal: this batch flips a cap decision, so the
            # O(delta) append is semantically impossible — rebuild from
            # the logical corpus (pre-batch docs ∪ this batch's novel
            # rows), hot set re-derived. write_corpus_index commits a
            # complete fresh version; a replayed batch then finds its
            # ids indexed and appends an empty delta. The rebuild keeps
            # the STORE's recorded extras (band/sets subdirs of an
            # externally-built index must survive a sink rebuild, or
            # serve-time consumers silently lose their stored tier).
            _vdir, cur_meta = current_version(index_path)
            full = (
                rebuild_docs(spark)
                .select(F.col(id_col), F.col(text_col))
                .unionByName(novel.select(F.col(id_col), F.col(text_col)))
            )
            write_corpus_index(
                full, index_path, id_col, text_col, k,
                max_doc_freq=max_doc_freq,
                bands=(
                    tuple(cur_meta["bands"])
                    if cur_meta.get("bands") else None
                ),
                sets=bool(cur_meta.get("has_sets")),
            )
        if compact_files is not None:
            from ..sources.versioned import compact_version

            compact_version(spark, index_path, compact_files)

    return sink


def read_ingest_statuses(
    spark, out_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """The ingest status store collapsed to ONE row per doc — the
    LATEST batch's classification wins (largest ``_batch_id``; within a
    healthy single-lineage run every doc has exactly one row and this
    is the identity). This is the batch-split-safe read (ADVICE r8): a
    fresh-checkpoint rerun under a different file→batch split leaves
    the prior lineage's partitions in place, so the raw store can hold
    a doc twice with disagreeing statuses — latest-wins picks the
    classification made against the most-grown index, the same row a
    single-lineage rerun at that split would have produced."""
    from pyspark.sql import Window

    raw = spark.read.parquet(out_dir)
    w = Window.partitionBy(id_col).orderBy(F.col("_batch_id").desc())
    return (
        raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch_id")
    )


def corpus_ingest_stream(
    docs_stream: DataFrame,
    index_path: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.8,
    compact_files: int | None = 64,
    max_doc_freq: int | None = None,
    rebuild_docs=None,
):
    """Wire a document stream into the self-growing corpus ingest loop;
    returns the StreamingQuery (availableNow — swap the trigger for
    continuous crawling)."""
    return (
        docs_stream.writeStream.foreachBatch(
            corpus_ingest_sink(
                index_path, out_dir, id_col, text_col, k,
                n_hashes, band_size, threshold, compact_files,
                max_doc_freq, rebuild_docs,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
