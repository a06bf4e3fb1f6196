"""Distributed BPE merge-table training (Sennrich et al. 2016) — the
tokenizer-training half of the token-counting surface in
``operators/text.py`` (`bpe_ish_piece_count` applies a fixed regex
scheme; this learns a merge table from the corpus).

Scale design
------------
The training state is WORD-level, not corpus-level: one row per distinct
normalized word with its corpus frequency, so state size is bounded by
vocabulary (millions) regardless of corpus bytes (100 TB). Each merge
round is:

1. pair counting — explode adjacent symbol pairs per word, weighted by
   word frequency; partial-aggregated groupBy (map-side combine shrinks
   the shuffle to one row per distinct pair per partition);
2. top-1 selection — ``orderBy().limit(1)`` → TakeOrderedAndProject
   (k=1 per partition, 1-row merge, never a global sort);
3. merge application — the winning pair crossJoins back as a broadcast
   1-row frame and a single codegen'd ``replace`` rewrites every word's
   symbol sequence. No driver-side collect anywhere in the loop.

Symbol sequences are strings of individually-wrapped symbols
("(h)(e)(l)(l)(o)") so the merge is one literal ``replace`` of
"(l)(l)" with "(ll)". The wrapping matters: adjacent matches share no
characters, so one leftmost non-overlapping ``replace`` pass merges a
whole run greedily left-to-right ("(a)(a)(a)(a)" → "(aa)(aa)") —
standard BPE semantics — where a shared-delimiter encoding ("|a|a|a|a|"
with pattern "|a|a|") consumes the boundary and under-merges. Replace
semantics are identical in Spark's UTF8String.replace and DuckDB's
replace, which makes the whole training loop oracle-checkable.
Rounds are bounded (`n_merges`), state is localCheckpoint'ed (which runs
jobs when called) per round to keep lineage flat, exactly like the Lloyd
loop in ``similarity.kmeans_assign``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import normalized_text, tokens


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over the current sequences, weighted
    by word frequency. Pair key is "left right" (space-joined) — a plain
    string so ordering/tie-break is engine-portable."""
    # Materialize `syms` as a column FIRST: embedding the split+filter
    # subtree inside the transform lambda would re-evaluate it per array
    # element in interpreted HOF execution (the antipattern the
    # shingles() history quantifies).
    with_syms = state.select(
        F.col("freq"),
        F.filter(F.split(F.col("seq"), r"[()]+"), lambda x: x != "").alias(
            "syms"
        ),
    )
    syms = F.col("syms")
    idx = F.when(
        F.size(syms) >= 2, F.sequence(F.lit(0), F.size(syms) - 2)
    ).otherwise(F.array().cast("array<int>"))
    pair = F.explode(
        F.transform(
            idx,
            lambda i: F.concat(
                F.element_at(syms, i + 1), F.lit(" "), F.element_at(syms, i + 2)
            ),
        )
    )
    return (
        with_syms.select(F.col("freq"), pair.alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_merges(
    docs: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Learn the first `n_merges` BPE merges over the corpus vocabulary.

    Returns one row per merge: (merge_rank, pair, merged, pair_count),
    rank 1 = first merge learned. Ties break on the pair string
    ascending, so the table is deterministic. A round with no remaining
    pairs (every word fully merged / single-symbol) emits no row.
    """
    words = (
        docs.select(
            F.explode(tokens(normalized_text(F.col(text_col)))).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        "freq",
        F.regexp_replace(F.col("word"), "(.)", r"($1)").alias("seq"),
    ).localCheckpoint(eager=False)

    merge_rows = []
    for r in range(1, n_merges + 1):
        top = (
            _pair_counts(state)
            .orderBy(F.col("cnt").desc(), F.col("pair").asc())
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merge_rows.append(
            top.select(
                F.lit(r).alias("merge_rank"),
                F.col("pair"),
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                F.col("cnt").cast("bigint").alias("pair_count"),
            )
        )
        target = F.concat(
            F.lit("("),
            F.replace(F.col("pair"), F.lit(" "), F.lit(")(")),
            F.lit(")"),
        )
        repl = F.concat(
            F.lit("("),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")),
            F.lit(")"),
        )
        state = (
            state.crossJoin(F.broadcast(top))
            .select(
                "freq",
                F.replace(F.col("seq"), target, repl).alias("seq"),
            )
            .localCheckpoint(eager=False)
        )

    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


def apply_merge_ranks(
    df: DataFrame,
    merges: DataFrame,
    n_merges: int,
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a learned merge table, rank by rank, to a parenthesized
    symbol-sequence column — the shared segmentation core of `apply_bpe`
    and the streaming fertility monitor. Each rank joins in as a
    broadcast 1-row frame (left join on TRUE, so a rank that learned no
    merge is a no-op instead of annihilating the corpus) and applies as
    one codegen'd ``replace`` — no driver collect, stream-static-join
    safe."""
    other = [c for c in df.columns if c != seq_col]
    for r in range(1, n_merges + 1):
        mr = merges.filter(F.col("merge_rank") == r).select(
            F.col("pair").alias("_pair")
        )
        # impossible-to-match default: symbols never contain \x00
        pair = F.coalesce(F.col("_pair"), F.lit("\x00 \x00"))
        target = F.concat(
            F.lit("("), F.replace(pair, F.lit(" "), F.lit(")(")), F.lit(")")
        )
        repl = F.concat(
            F.lit("("), F.replace(pair, F.lit(" "), F.lit("")), F.lit(")")
        )
        df = df.join(F.broadcast(mr), F.lit(True), "left").select(
            *other, F.replace(F.col(seq_col), target, repl).alias(seq_col)
        )
    return df


def piece_count(seq: Column) -> Column:
    """Number of pieces in a parenthesized symbol sequence."""
    return F.size(F.filter(F.split(seq, r"[()]+"), lambda x: x != ""))


def apply_bpe(
    docs: DataFrame,
    merges: DataFrame,
    n_merges: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Segment every document with a learned merge table: per-doc word
    and piece counts after applying the merges in rank order.

    No driver-side collect: each merge rank joins in as a broadcast
    1-row frame (left join on TRUE, so a rank that learned no merge is a
    no-op instead of annihilating the corpus) and applies as one
    codegen'd ``replace``. Tokenization itself stays a map-only
    projection over word instances — the shape a 100 TB tokenize pass
    needs; only the n_merges-row table moves.
    """
    toks = tokens(normalized_text(F.col(text_col)))
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("word"))
    cur = exploded.select(
        F.col(id_col),
        F.regexp_replace(F.col("word"), "(.)", r"($1)").alias("seq"),
    )
    cur = apply_merge_ranks(cur, merges, n_merges, "seq")
    pieces = piece_count(F.col("seq"))
    return (
        cur.select(F.col(id_col), pieces.alias("n_pieces"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
        )
    )
