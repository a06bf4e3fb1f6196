"""Text-op unit tests: PII scrubbing (the synthetic corpus contains no
PII-shaped strings, so these semantics are pinned here rather than by a
degenerate all-zeros oracle) and quality filter-chain flag logic."""

from __future__ import annotations

from lol_data_collection_system_spark.operators.text import (
    quality_filter_flags,
    scrub_patterns,
)


def _one(spark, text, **kw):
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    return scrub_patterns(df, **kw).collect()[0]


def test_scrub_email_phone_ip(spark):
    r = _one(
        spark,
        "mail a@b.com or c.d+x@e.org, call +1 (555) 123-4567, host 10.0.0.1",
    )
    assert r.n_email == 2 and r.n_phone == 1 and r.n_ipv4 == 1
    s = r.text_scrubbed
    assert "<email>" in s and "<phone>" in s and "<ipv4>" in s
    assert "a@b.com" not in s and "555" not in s and "10.0.0.1" not in s


def test_scrub_counts_on_original_text(spark):
    # the email's digits must not be double-counted by the phone rule,
    # and replacement tokens must not feed later patterns
    r = _one(spark, "reach 12345678901@example.com")
    assert r.n_email == 1
    assert r.text_scrubbed == "reach <email>"


def test_scrub_clean_text_untouched(spark):
    r = _one(spark, "plain text with no identifiers")
    assert (r.n_email, r.n_phone, r.n_ipv4) == (0, 0, 0)
    assert r.text_scrubbed == "plain text with no identifiers"


def test_scrub_custom_patterns(spark):
    r = _one(
        spark,
        "id ABC-1234 and ABC-9999",
        patterns={"ticket": r"ABC-\d{4}"},
        token="[{name}]",
    )
    assert r.n_ticket == 2
    assert r.text_scrubbed == "id [ticket] and [ticket]"


def test_quality_flags_fire_independently(spark):
    rows = [
        (1, "the " * 60),                       # repetitive: distinct ratio ~0
        (2, "a b c"),                           # too short
        (3, " ".join(f"w{i}" for i in range(60))),  # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in quality_filter_flags(
            df, min_tokens=50, min_distinct_ratio=0.3, min_stopword_ratio=0.02
        ).collect()
    }
    assert out[1].pass_length and not out[1].pass_repetition
    assert not out[2].pass_length
    assert out[3].pass_length and out[3].pass_repetition
    assert not out[3].pass_stopwords
    assert not any(out[i].keep for i in (1, 2, 3))


# ---------------------------------------------------------------------------
# Repetition signals / vocab heavy hitters / span-level dedup
# ---------------------------------------------------------------------------
def test_repetition_signals_counts(spark):
    from lol_data_collection_system_spark.operators.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z")], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in repetition_signals(df, "doc_id", "text", ns=(2, 3)).collect()
    }
    # doc 1: 3 bigrams, all "a a" (len 3) -> top2 = dup2 = 3*3 = 9; n_chars 7
    r1 = rows[1]
    assert (r1.n_chars, r1.top2_chars, r1.dup2_chars) == (7, 9, 9)
    # 2 trigrams "a a a" (len 5) -> top3 = dup3 = 10
    assert (r1.top3_chars, r1.dup3_chars) == (10, 10)
    assert r1.top2_frac == 9 / 7 and r1.dup3_frac == 10 / 7
    # doc 2: all bigrams distinct -> dup = 0, top2 = one bigram's chars (3)
    r2 = rows[2]
    assert (r2.top2_chars, r2.dup2_chars, r2.dup3_chars) == (3, 0, 0)


def test_repetition_signals_short_doc_absent(spark):
    from lol_data_collection_system_spark.operators.text import repetition_signals

    df = spark.createDataFrame([(1, "solo"), (2, "a b c")], ["doc_id", "text"])
    out = repetition_signals(df, "doc_id", "text", ns=(2, 3)).collect()
    ids = {r.doc_id for r in out}
    assert ids == {2}  # 1-token doc has no bigrams at all


def test_vocab_top_terms_order_and_cut(spark):
    from lol_data_collection_system_spark.operators.text import vocab_top_terms

    df = spark.createDataFrame(
        [(1, "B b a"), (2, "b c a")], ["doc_id", "text"]
    )
    out = vocab_top_terms(df, "doc_id", "text", k=2).collect()
    # lowercased: b:3(df 2), a:2(df 2), c:1 -> top2 = b, a
    assert [(r.term, r.tf, r.doc_freq) for r in out] == [("b", 3, 2), ("a", 2, 2)]


def test_vocab_top_terms_tie_breaks_on_term(spark):
    from lol_data_collection_system_spark.operators.text import vocab_top_terms

    df = spark.createDataFrame([(1, "z y x")], ["doc_id", "text"])
    out = vocab_top_terms(df, "doc_id", "text", k=2).collect()
    assert [r.term for r in out] == ["x", "y"]  # tf all 1 -> lexicographic


def test_span_dup_stats_cross_doc_only(spark):
    from lol_data_collection_system_spark.operators.dedup import span_dup_stats

    shared = "t1 t2 t3 t4"
    df = spark.createDataFrame(
        [
            (1, shared + " u1"),   # windows: [t1..t4], [t2..u1]
            (2, shared + " v9"),   # shares only the first window with doc 1
            (3, "q1 q2 q3 q4 q5"),  # unique
            (4, "short doc"),       # < width tokens -> absent
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r for r in span_dup_stats(df, "doc_id", "text", width=4).collect()
    }
    assert set(rows) == {1, 2, 3}
    assert (rows[1].n_windows, rows[1].dup_windows) == (2, 1)
    assert (rows[2].n_windows, rows[2].dup_windows) == (2, 1)
    assert (rows[3].n_windows, rows[3].dup_windows) == (2, 0)
    assert rows[1].dup_frac == 0.5 and rows[3].dup_frac == 0.0


def test_token_entropy_extremes(spark):
    from lol_data_collection_system_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in token_entropy(df, "doc_id", "text").collect()}
    assert rows[1].entropy == 0.0  # single repeated token
    assert rows[1].n_tok == 4
    assert abs(rows[2].entropy - 1.386294) < 1e-6  # ln(4), uniform


def test_tfidf_rare_term_outranks_common(spark):
    from lol_data_collection_system_spark.operators.retrieval import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "shared shared rare"), (2, "shared other")], ["doc_id", "text"]
    )
    out = tfidf_top_terms(df, "doc_id", "text", top_m=1).collect()
    top = {r.doc_id: r.term for r in out}
    # "shared" has idf ln(1)=0 in both docs; the doc-unique terms win
    assert top == {1: "rare", 2: "other"}


def test_bm25_ranks_matches_and_drops_nonmatches(spark):
    from lol_data_collection_system_spark.operators.retrieval import bm25_search

    df = spark.createDataFrame(
        [
            (1, "spark join window filter"),
            (2, "spark spark join join window window spark join window"),
            (3, "completely unrelated words here"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_search(df, ("spark", "join", "window"), k=10).collect()
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no query term -> absent
    assert ids[0] == 2  # more hits -> higher score
    assert all(r.bm25 > 0 for r in out)


def test_corpus_diff_statuses(spark):
    from lol_data_collection_system_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(1, "Same, TEXT!"), (2, "has changed"), (4, "brand new")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    # doc 1: normalization-invariant rewrite -> unchanged
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_chunk_documents_windows_and_tail(spark):
    from lol_data_collection_system_spark.operators.text import chunk_documents

    # 10 tokens, chunk=4, overlap=2 -> starts 1,3,5,7,9
    text = " ".join(f"t{i}" for i in range(1, 11))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [(r.chunk_idx, r.token_start, r.n_tokens) for r in rows] == [
        (0, 1, 4), (1, 3, 4), (2, 5, 4), (3, 7, 4), (4, 9, 2),
    ]
    assert rows[0].chunk_text == "t1 t2 t3 t4"
    assert rows[1].chunk_text == "t3 t4 t5 t6"
    assert rows[4].chunk_text == "t9 t10"


def test_chunk_documents_short_doc_single_chunk(spark):
    from lol_data_collection_system_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(7, "only three tokens")], ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=32, overlap=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.chunk_idx, r.token_start, r.n_tokens) == (0, 1, 3)
    assert r.chunk_text == "only three tokens"


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_unigram_lm_scores_rank_rare_docs_higher(spark):
    import math

    from lol_data_collection_system_spark.operators.retrieval import (
        unigram_lm_scores,
    )

    # "common common common" dominates the corpus; the rare-token doc
    # must be more surprising (higher avg negative log prob).
    df = spark.createDataFrame(
        [(i, "common common common") for i in range(9)] + [(9, "rare rare zzz")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in unigram_lm_scores(df).collect()}
    assert rows[0].n_tokens == 3 and rows[9].n_tokens == 3
    assert rows[9].avg_neg_logp > rows[0].avg_neg_logp
    # common doc: every token p = 27/30 -> avg = -ln(0.9)
    assert abs(rows[0].avg_neg_logp - round(-math.log(27 / 30), 6)) < 2e-6


def test_clean_control_chars_scrubs_encoding_damage(spark):
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.text import (
        clean_control_chars,
    )

    rows = [
        (1, "plain text stays"),
        (2, "tab\tand\nnewline"),
        (3, "nbsp glued"),
        (4, "bell\x07 and null\x00 gone"),
        (5, "  padded   runs   collapse  "),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r.id: r.c
        for r in df.select(
            "id", clean_control_chars(F.col("t")).alias("c")
        ).collect()
    }
    assert got[1] == "plain text stays"
    assert got[2] == "tab and newline"
    assert got[3] == "nbsp glued"
    assert got[4] == "bell and null gone"
    assert got[5] == "padded runs collapse"


def test_cross_doc_repeated_spans_merges_overlaps(spark):
    """A 10-token block shared by two docs yields one maximal merged span
    per doc (its 3 width-8 windows overlap), positioned correctly inside
    each host document; unique docs emit nothing."""
    from lol_data_collection_system_spark.operators.dedup import (
        cross_doc_repeated_spans,
    )

    block = "b0 b1 b2 b3 b4 b5 b6 b7 b8 b9"
    rows = [
        (1, "u1 u2 u3 " + block + " t1 t2"),          # block at pos 3..13
        (2, block + " v1 v2 v3 v4"),                   # block at pos 0..10
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"), # unique
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.span_start, r.span_end, r.span_tokens)
        for r in cross_doc_repeated_spans(df, width=8).collect()
    }
    assert got == {1: (3, 13, 10), 2: (0, 10, 10)}


def test_cross_doc_repeated_spans_within_doc_repeat_counts(spark):
    """Lee et al. semantics: a second occurrence INSIDE the same document
    also marks both occurrences (suffix-array dedup is position-based,
    not doc-pair-based)."""
    from lol_data_collection_system_spark.operators.dedup import (
        cross_doc_repeated_spans,
    )

    rep = "r0 r1 r2 r3"
    text = rep + " x1 x2 x3 " + rep  # repeat at pos 0..4 and 7..11
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = sorted(
        (r.span_start, r.span_end)
        for r in cross_doc_repeated_spans(df, width=4).collect()
    )
    assert got == [(0, 4), (7, 11)]


def test_cross_doc_repeated_spans_freq_cap_drops_pathological(spark):
    from lol_data_collection_system_spark.operators.dedup import (
        cross_doc_repeated_spans,
    )

    boiler = "p0 p1 p2 p3"
    df = spark.createDataFrame(
        [(i, boiler + f" u{i}a u{i}b") for i in range(5)], ["doc_id", "text"]
    )
    uncapped = cross_doc_repeated_spans(df, width=4)
    assert uncapped.count() == 5  # every doc flags the boilerplate
    capped = cross_doc_repeated_spans(df, width=4, max_span_freq=3)
    assert capped.count() == 0  # span freq 5 > cap -> dropped (documented)


def test_prepare_training_corpus_redacts_pii(spark):
    """The end-to-end prep composition includes the PII redaction stage:
    a PII-bearing doc that survives the funnel carries placeholder
    tokens in text_scrubbed, never the raw PII string."""
    from lol_data_collection_system_spark.plans.corpus_pipeline import (
        prepare_training_corpus,
    )

    base = (
        "the data table rows value parts small brisk keys column order group "
        "window filter stream batch merge sorts hash scan query lines and "
        "think quick zesty vital prime acute sound metal"
    )
    docs = spark.createDataFrame(
        [
            (1, base + " contact alice@corp.example.com please", "en", "s", 1),
            (2, base + " nothing sensitive in here at all", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in prepare_training_corpus(docs).collect()}
    assert 1 in out
    assert "alice@corp.example.com" not in out[1]["text_scrubbed"]
    # scrub_patterns lowercases downstream of the redaction
    assert "<email>" in out[1]["text_scrubbed"]


def test_line_dup_stats_counts_cross_doc_lines(spark):
    from lol_data_collection_system_spark.operators.dedup import line_dup_stats

    banner = "Accept all cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique alpha content here\nHome"),
            (2, f"{banner}\nunique beta content here\n{banner}"),
            (3, "totally unrelated document body"),
        ],
        "doc_id long, text string",
    )
    rows = {r["line"]: r for r in line_dup_stats(docs).collect()}
    assert rows[banner]["n_docs"] == 2
    assert rows[banner]["n_occurrences"] == 3  # doc 2 has it twice
    assert "Home" not in rows  # short line excluded (< min_chars)
    assert rows["unique alpha content here"]["n_docs"] == 1

    # CRLF / tab padding strips to the same key (full \s class, not
    # just ASCII spaces)
    crlf = spark.createDataFrame(
        [(1, f"{banner}\r\nrest of document"), (2, f"\t{banner}  ")],
        "doc_id long, text string",
    )
    crows = {r["line"]: r for r in line_dup_stats(crlf).collect()}
    assert crows[banner]["n_docs"] == 2


def test_remove_dup_lines_scrubs_from_all_docs(spark):
    from lol_data_collection_system_spark.operators.dedup import remove_dup_lines

    banner = "Accept all cookies to continue"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique alpha content here"),
            (2, f"  {banner}  \nunique beta content here"),  # trim-matched
            (3, banner),  # becomes empty, must survive
            (4, "ok\nshort lines stay\nok"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in remove_dup_lines(docs).collect()}
    assert out[1] == "unique alpha content here"
    # null text stays null (never-had-text != fully-scrubbed)
    nulldoc = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    nl = {r["doc_id"]: r["text"] for r in remove_dup_lines(nulldoc).collect()}
    assert nl[1] is None and nl[2] == "x"
    assert out[2] == "unique beta content here"
    assert out[3] == ""  # fully scrubbed doc kept with empty text
    assert out[4] == "ok\nshort lines stay\nok"  # short dup lines untouched
    # order preserved when a middle line is scrubbed
    docs2 = spark.createDataFrame(
        [(1, f"first line kept\n{banner}\nlast line kept"),
         (2, banner)],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r["text"] for r in remove_dup_lines(docs2).collect()}
    assert out2[1] == "first line kept\nlast line kept"


def test_unicode_normalize_nfc_merges_dup_groups(spark):
    import unicodedata

    from lol_data_collection_system_spark.operators.dedup import line_dup_stats
    from lol_data_collection_system_spark.operators.text import unicode_normalize

    composed = "café menu contents"          # é precomposed
    decomposed = "café menu contents"       # e + combining acute
    assert composed != decomposed
    assert unicodedata.normalize("NFC", decomposed) == composed

    docs = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, "plain ascii"), (4, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unicode_normalize(docs).collect()}
    assert out[1].text == composed and out[1].changed is False
    assert out[2].text == composed and out[2].changed is True
    assert out[3].changed is False
    assert out[4].text is None and out[4].changed is False

    # the point of the pass: raw-byte line hashing now sees the dup
    before = line_dup_stats(docs.na.drop())
    after = line_dup_stats(unicode_normalize(docs.na.drop()).drop("changed"))
    assert before.filter("n_docs > 1").count() == 0
    assert after.filter("n_docs > 1").count() == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        unicode_normalize(docs, form="NFX")


def test_cross_source_dup_matrix_counts_and_canonical_order(spark):
    from lol_data_collection_system_spark.operators.dedup import (
        cross_source_dup_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "crawl_a"),
            (2, "crawl_b"),
            (3, "crawl_b"),
            (4, "crawl_a"),
            (5, "wiki"),
        ],
        "doc_id long, source string",
    )
    # pair frame as any generator would emit it (id_a < id_b)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {
        (r.source_a, r.source_b): r
        for r in cross_source_dup_matrix(docs, pairs).collect()
    }
    # cross-source pairs fold into one canonical (a<=b) cell
    assert out[("crawl_a", "crawl_b")].n_dup_pairs == 2
    # diagonal = within-source duplication
    assert out[("crawl_b", "crawl_b")].n_dup_pairs == 1
    assert out[("crawl_a", "crawl_a")].n_dup_pairs == 1
    assert ("wiki", "wiki") not in out  # no pairs → no row
    assert abs(sum(r.pair_share for r in out.values()) - 1.0) < 1e-9


def test_bigram_lm_scores_order_sensitivity(spark):
    import math

    from lol_data_collection_system_spark.operators.retrieval import (
        bigram_lm_scores,
        unigram_lm_scores,
    )

    # Nine docs use the typical continuation (alpha -> beta); one doc
    # takes the rare branch (alpha -> gamma). Unigram LM can't tell the
    # docs apart; the bigram LM must.
    common = "alpha beta gamma"
    rare_branch = "alpha gamma beta"
    df = spark.createDataFrame(
        [(i, common) for i in range(9)] + [(9, rare_branch)],
        ["doc_id", "text"],
    )
    uni = {r.doc_id: r.avg_neg_logp for r in unigram_lm_scores(df).collect()}
    assert uni[0] == uni[9]  # unigram-identical
    bi = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert bi[0].n_tokens == 3
    assert bi[9].avg_neg_logp > bi[0].avg_neg_logp  # bigram sees the branch

    # closed form (lam=0.7). Corpus bigrams: (alpha,beta)=9,
    # (alpha,gamma)=1 -> alpha ctx 10; (beta,gamma)=9 -> beta ctx 9;
    # (gamma,beta)=1 -> gamma ctx 1. Unigram p = 10/30 for every token.
    lam, pu = 0.7, 10 / 30
    for doc, probs in (
        (0, [pu, lam * 0.9 + (1 - lam) * pu, lam * 1.0 + (1 - lam) * pu]),
        (9, [pu, lam * 0.1 + (1 - lam) * pu, lam * 1.0 + (1 - lam) * pu]),
    ):
        expect = round(sum(round(-math.log(p), 6) for p in probs) / 3, 6)
        assert abs(bi[doc].avg_neg_logp - expect) < 2e-6


def test_prepare_training_corpus_optin_prestages(spark):
    from lol_data_collection_system_spark.plans.corpus_pipeline import (
        prepare_training_corpus,
    )

    # bodies that pass the quality gates: ~33 tokens, mean word length
    # ~4.7, all distinct, >5% stopwords
    def body(tag):
        return " ".join(
            [f"{tag}{i:02d}a" for i in range(28)] + ["the", "of", "and", "to"]
        )

    banner = "Subscribe to our newsletter for updates"
    composed = "caf\u00e9x " + body("tk")       # café precomposed
    decomposed = "cafe\u0301x " + body("tk")    # cafe + combining acute
    # doc 2 carries no banner: at the pipeline's loose 0.05 Jaccard
    # threshold even a shared banner line would cluster it with 1/3
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\n{decomposed}", "s1"),
            (2, "plain " + body("qx"), "s1"),
            (3, f"{banner}\n{composed}", "s2"),
        ],
        "doc_id long, text string, source string",
    )

    # defaults: exact dedup is normalization-invariant (ascii-folding
    # fingerprint), so 3 already collapses into 1; banner is kept
    base = {
        r.doc_id: r for r in prepare_training_corpus(docs).collect()
    }
    assert set(base) == {1, 2}
    assert "newsletter" in base[1].text

    # line scrub: the banner (docs 1+3) is scrubbed from all; the body
    # lines differ BYTE-wise (composed vs decomposed) so they survive
    scrubbed = {
        r.doc_id: r
        for r in prepare_training_corpus(
            docs, scrub_repeated_lines=True
        ).collect()
    }
    assert set(scrubbed) == {1, 2}
    assert "newsletter" not in scrubbed[1].text
    assert "tk00a" in scrubbed[1].text  # body kept
    assert scrubbed[1].source == "s1"  # other columns survive the rejoin

    # NFC + line scrub: normalization makes doc 1's body line
    # byte-identical to doc 3's, the drop-from-all policy removes the
    # shared body from BOTH, they empty out and fail quality — the
    # normalize-before-line-hash ordering is what this pins
    both = {
        r.doc_id
        for r in prepare_training_corpus(
            docs, normalize_unicode=True, scrub_repeated_lines=True
        ).collect()
    }
    assert both == {2}


def test_unicode_normalize_changed_col_guard(spark):
    """An opt-in pre-stage must never silently destroy a user column
    named `changed`; changed_col=None skips the flag entirely."""
    import pytest

    from lol_data_collection_system_spark.operators.text import (
        unicode_normalize,
    )

    docs = spark.createDataFrame(
        [(1, "x", True)], "doc_id long, text string, changed boolean"
    )
    with pytest.raises(ValueError, match="changed"):
        unicode_normalize(docs)
    out = unicode_normalize(docs, changed_col=None)
    assert out.columns == ["doc_id", "text", "changed"]
    assert out.collect()[0].changed is True  # user column untouched
    renamed = unicode_normalize(docs, changed_col="nfc_changed")
    assert "nfc_changed" in renamed.columns


def _repeated_spans_python(docs, width, gap):
    """Same-definition twin of cross_doc_repeated_spans: repeated
    width-window anchors, islands merged across uncovered runs <= gap."""
    from collections import Counter

    toks = {d: t.split() for d, t in docs}
    counts = Counter(
        " ".join(t[i : i + width])
        for t in toks.values()
        for i in range(len(t) - width + 1)
    )
    out = []
    for d, t in toks.items():
        hits = [
            i
            for i in range(len(t) - width + 1)
            if counts[" ".join(t[i : i + width])] >= 2
        ]
        reach = None
        for pos in hits:
            if reach is None or pos > reach + gap:
                out.append([d, pos, pos + width])
            else:
                out[-1][2] = max(out[-1][2], pos + width)
            reach = max(reach if reach is not None else -1, pos + width)
        # reach in the operator is the running max over EARLIER hits only
    return {(d, a, b, b - a) for d, a, b in out}


def test_repeated_spans_bridge_gap_spans_edited_repeats(spark):
    """A long block repeated with one in-place token edit: the tight
    pass (gap 0) splits it at the edit; bridge_gap >= 1 reports ONE
    maximal span covering the whole block — the Lee et al. edited-repeat
    case. Both settings must match the pure-Python same-definition twin
    on a randomized fixture."""
    import random

    from lol_data_collection_system_spark.operators.dedup import (
        cross_doc_repeated_spans,
    )

    block = " ".join(f"b{i}" for i in range(30))
    edited = block.split()
    edited[15] = "EDIT"  # one in-place edit mid-block
    docs = [
        (1, "u1 u2 u3 " + block + " v1 v2 v3"),
        (2, "w1 w2 " + " ".join(edited) + " x1"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def spans(gap):
        return {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in cross_doc_repeated_spans(
                df, width=8, bridge_gap=gap
            ).collect()
        }

    tight, bridged = spans(0), spans(3)
    assert tight == _repeated_spans_python(docs, 8, 0)
    assert bridged == _repeated_spans_python(docs, 8, 3)
    # doc 2: tight splits at the edit (two spans), bridged merges to one
    d2_tight = sorted(s for s in tight if s[0] == 2)
    d2_bridged = sorted(s for s in bridged if s[0] == 2)
    assert len(d2_tight) == 2 and len(d2_bridged) == 1
    lo = min(s[1] for s in d2_tight)
    hi = max(s[2] for s in d2_tight)
    assert d2_bridged[0][1] == lo and d2_bridged[0][2] == hi

    # randomized cross-check vs the twin, both gaps
    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(40)]
    rdocs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 60))))
        for d in range(1, 9)
    ]
    rdf = spark.createDataFrame(rdocs, "doc_id long, text string")
    for gap in (0, 2):
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in cross_doc_repeated_spans(
                rdf, width=3, bridge_gap=gap
            ).collect()
        }
        assert got == _repeated_spans_python(rdocs, 3, gap), gap


def test_strip_html_blocks_tags_entities_and_decode_order(spark):
    """Script/style/comment blocks vanish wholesale (including a raw
    `<` inside the script), tags strip, entities decode exactly once:
    because &amp; decodes LAST, double-encoded `&amp;lt;` yields the
    literal text `&lt;` — never a second decode to `<`."""
    import pyspark.sql.functions as F

    from lol_data_collection_system_spark.operators.text import strip_html

    cases = [
        ("<p>a  b</p>", "a b"),
        ("<script>if (1 < 2) { x(); }</script>ok", "ok"),
        ("<style>p { a: b; }</style>ok", "ok"),
        ("a<!-- hidden -->b", "a b"),
        ("x &amp; y &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;!", "x & y <tag> \"q\" 's' !"),
        # double-encoded ampersand decodes ONCE: &amp;lt; -> &lt;
        ("&amp;lt;", "&lt;"),
        ('<a href="u">link</a> text', "link text"),
    ]
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(cases)], ["i", "s"])
    got = {r.i: r.o for r in df.select("i", strip_html(F.col("s")).alias("o")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_simhash128_word_packing_matches_python(spark):
    """Each 64-bit word reproduces the documented md5-slice convention,
    including the MIN_VALUE packing of bit 63, and the 16-bit `simhash`
    its md5-prefix convention — both widths read ONE `token_md5` frame
    and are checked against a pure Python reimplementation on small
    token sets."""
    import hashlib

    from lol_data_collection_system_spark.operators.dedup import (
        simhash,
        simhash128,
        token_md5,
    )

    docs = [
        (0, "alpha beta gamma delta"),
        (1, "alpha beta gamma delta"),  # identical -> identical words
        (2, "epsilon zeta eta theta iota kappa"),
        (3, "one"),  # single token: every bit sign = that token's bit
    ]

    def py_sig(text):
        toks = sorted(set(text.split()))
        sums = [[0] * 64 for _ in range(2)]
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            sl = [int(hx[8 * j: 8 * j + 8], 16) for j in range(4)]
            for w in range(2):
                for i in range(64):
                    bit = (sl[2 * w + i // 32] >> (i % 32)) & 1
                    sums[w][i] += bit * 2 - 1
        out = []
        for w in range(2):
            v = sum(1 << i for i in range(63) if sums[w][i] > 0)
            if sums[w][63] > 0:
                v += -(1 << 63)
            out.append(v)
        return tuple(out)

    def py_sig16(text):
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
            for t in set(text.split())
        ]
        return sum(
            1 << i
            for i in range(16)
            if sum(((h >> i) & 1) * 2 - 1 for h in hs) > 0
        )

    hashed = token_md5(
        spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text"
    )
    got = {
        r.doc_id: (r.simhash_w0, r.simhash_w1)
        for r in simhash128(hashed, "doc_id").collect()
    }
    got16 = {r.doc_id: r.simhash for r in simhash(hashed, "doc_id", 16).collect()}
    for i, text in docs:
        assert got[i] == py_sig(text), (i, got[i], py_sig(text))
        assert got16[i] == py_sig16(text), (i, got16[i], py_sig16(text))
    assert got[0] == got[1]


def test_simhash_components_match_bruteforce_union_find(spark):
    """The banded+CC composition equals a brute-force all-pairs Hamming
    union-find over the SAME signatures — pinning banding recall-1
    (threshold < n_bands) and min-id component labeling end to end."""
    from lol_data_collection_system_spark.operators.dedup import (
        simhash128,
        simhash_components,
        token_md5,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    docs = []
    for i in range(30):
        if i % 3 == 0:
            docs.append((i, base + f"variant{i // 3}"))
        elif i % 3 == 1:
            docs.append((i, base + f"variant{i // 3}"))  # exact dup of i-1
        else:
            docs.append((i, f"totally different text number {i} " * 3))
    hashed = token_md5(
        spark.createDataFrame(docs, ["doc_id", "text"]), "doc_id", "text"
    )

    sigs = {
        r.doc_id: ((r.simhash_w0 ^ 0) & ((1 << 64) - 1),
                   (r.simhash_w1 ^ 0) & ((1 << 64) - 1))
        for r in simhash128(hashed, "doc_id").collect()
    }
    ids = sorted(sigs)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in ids:
        for b in ids:
            if a < b:
                d = bin(sigs[a][0] ^ sigs[b][0]).count("1") + bin(
                    sigs[a][1] ^ sigs[b][1]
                ).count("1")
                if d <= 3:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in ids}

    got = {
        r.doc_id: r.component_id
        for r in simhash_components(hashed, threshold=3).collect()
    }
    assert got == want
    # the exact dups really did land together (fixture sanity)
    assert got[0] == got[1] and got[3] == got[4]


def test_simhash128_lane_overflow_guard_and_escape_hatch(spark):
    """The packed bit-count lanes raise LOUDLY when a document's
    distinct-token count reaches the lane capacity (never a silently
    wrong fingerprint), and wider lanes restore the old bound with
    bit-identical signatures (r11 lane repack contract)."""
    import pytest

    from lol_data_collection_system_spark.operators.dedup import (
        simhash128,
        token_md5,
    )

    big = " ".join(f"tok{i}" for i in range(300))  # 300 distinct tokens
    docs = token_md5(
        spark.createDataFrame(
            [(0, big), (1, "alpha beta gamma")], "doc_id long, text string"
        ),
        "doc_id", "text",
    )
    # 8-bit lanes cap at 128 distinct tokens (top lane borders the
    # sign bit): the 300-token doc raises — Spark's ANSI overflow or
    # the operator's own guard, loud either way
    with pytest.raises(Exception, match="(?i)overflow"):
        simhash128(docs, "doc_id", lane_bits=8).collect()
    # default 16-bit lanes and the 32-bit escape hatch agree exactly
    d16 = {
        r["doc_id"]: (r["simhash_w0"], r["simhash_w1"])
        for r in simhash128(docs, "doc_id").collect()
    }
    d32 = {
        r["doc_id"]: (r["simhash_w0"], r["simhash_w1"])
        for r in simhash128(docs, "doc_id", lane_bits=32).collect()
    }
    assert d16 == d32 and len(d16) == 2
    with pytest.raises(ValueError, match="lane_bits"):
        simhash128(docs, "doc_id", lane_bits=12)
