"""Property-based tests (hypothesis) for the operators whose correctness
is easiest to break silently: connected components vs a pure-Python
union-find, sequence packing invariants on random corpora, and
deterministic-split tiling. Few examples, small sizes — each example is
a full Spark job."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators.graph import connected_components
from lol_data_collection_system_spark.operators.packing import pack_sequences
from lol_data_collection_system_spark.operators.sampling import deterministic_split

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)),
    min_size=1,
    max_size=40,
)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node of the component
    comp: dict[int, int] = {}
    roots: dict[int, int] = {}
    for n in parent:
        r = find(n)
        roots[r] = min(roots.get(r, n), n)
    for n in parent:
        comp[n] = roots[find(n)]
    return comp


@_SETTINGS
@given(edges_strategy)
def test_cc_matches_union_find(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.component_id for r in connected_components(df).collect()}
    assert got == _union_find(edges)


docs_strategy = st.lists(
    st.integers(0, 12),  # token count per doc (0 = blank doc)
    min_size=1,
    max_size=25,
)


@_SETTINGS
@given(docs_strategy, st.integers(2, 9))
def test_packing_tiles_any_corpus(spark, tok_counts, seq_len):
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(n))) for i, n in enumerate(tok_counts)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pack_sequences(df, seq_len=seq_len).collect()
    total = sum(tok_counts)
    covered = sum(r.tok_end - r.tok_start for r in out)
    assert covered == total
    per_chunk: dict[int, int] = {}
    for r in out:
        assert 0 <= r.tok_start < r.tok_end <= tok_counts[r.doc_id]
        per_chunk[r.chunk_id] = per_chunk.get(r.chunk_id, 0) + (
            r.tok_end - r.tok_start
        )
    if per_chunk:
        last = max(per_chunk)
        for cid, n in per_chunk.items():
            assert n == seq_len or cid == last


@_SETTINGS
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True),
    st.sampled_from([(0.5, 0.5), (0.8, 0.1), (0.34, 0.33)]),
)
def test_split_assigns_each_key_once(spark, keys, fracs):
    df = spark.createDataFrame([(k,) for k in keys], ["id"])
    out = deterministic_split(
        df, "id", {"a": fracs[0], "b": fracs[1]}, salt="p"
    ).collect()
    assert len(out) == len(keys)
    for r in out:
        assert r.split in ("a", "b", None)
    # re-running yields the identical assignment
    again = deterministic_split(
        df, "id", {"a": fracs[0], "b": fracs[1]}, salt="p"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------------------
# Repetition signals / span dup stats / BM25 vs pure-Python references
# ---------------------------------------------------------------------------
_WORDS = ("a", "bb", "ccc", "dd", "e")

docs_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=0, max_size=18).map(" ".join),
    min_size=1,
    max_size=6,
)


def _py_repetition(text, ns=(2, 3)):
    from collections import Counter

    toks = text.split()
    out = {}
    for n in ns:
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        out[f"top{n}"] = max((f * len(g) for g, f in c.items()), default=0)
        out[f"dup{n}"] = sum(f * len(g) for g, f in c.items() if f > 1)
    return out


@_SETTINGS
@given(docs_strategy)
def test_repetition_signals_match_python(spark, texts):
    from lol_data_collection_system_spark.operators.text import repetition_signals

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = {
        r.doc_id: r
        for r in repetition_signals(df, "doc_id", "text", ns=(2, 3)).collect()
    }
    for i, text in enumerate(texts):
        ref = _py_repetition(text)
        if len(text.split()) < 2:
            assert i not in rows
            continue
        r = rows[i]
        assert (r.top2_chars, r.dup2_chars) == (ref["top2"], ref["dup2"])
        assert (r.top3_chars, r.dup3_chars) == (ref["top3"], ref["dup3"])


@_SETTINGS
@given(docs_strategy, st.integers(2, 4))
def test_span_dup_stats_match_bruteforce(spark, texts, width):
    from collections import defaultdict

    from lol_data_collection_system_spark.operators.dedup import span_dup_stats

    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = {
        r.doc_id: r
        for r in span_dup_stats(df, "doc_id", "text", width=width).collect()
    }
    windows = {}
    docs_of = defaultdict(set)
    for i, text in enumerate(texts):
        toks = text.split()
        ws = [
            " ".join(toks[j : j + width]) for j in range(len(toks) - width + 1)
        ]
        windows[i] = ws
        for s in ws:
            docs_of[s].add(i)
    for i, ws in windows.items():
        if not ws:
            assert i not in rows
            continue
        dup = sum(1 for s in ws if len(docs_of[s]) >= 2)
        assert (rows[i].n_windows, rows[i].dup_windows) == (len(ws), dup)


@_SETTINGS
@given(docs_strategy)
def test_bm25_matches_python(spark, texts):
    import math

    from lol_data_collection_system_spark.operators.retrieval import (
        BM25_B,
        BM25_K1,
        bm25_search,
    )

    query = ("a", "ccc")
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {
        r.doc_id: r.bm25
        for r in bm25_search(df, query, "doc_id", "text", k=50).collect()
    }
    # pure-Python twin (tolerance compare: Python round() is banker's,
    # Spark's is HALF_UP — exactness is the oracle's job, not this test's).
    # Tokenization mirrors the engines: regex-split of the trimmed text,
    # where '' yields [''] (ONE empty token) — not str.split()'s [].
    import re

    toks = {i: re.split(r"\s+", t.strip()) for i, t in enumerate(texts)}
    n_docs = len(texts)
    total_len = sum(len(v) for v in toks.values())
    avgdl = total_len / n_docs
    dfs = {t: sum(1 for v in toks.values() if t in v) for t in query}
    expected = {}
    for i, v in toks.items():
        score = 0.0
        for t in query:
            tf = v.count(t)
            idf = round(
                math.log((n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0), 6
            )
            denom = tf + BM25_K1 * ((1 - BM25_B) + BM25_B * (len(v) / avgdl))
            score += idf * (tf * (BM25_K1 + 1.0)) / denom
        if any(t in v for t in query):
            expected[i] = score
    assert set(got) == set(expected)
    for i in got:
        assert abs(got[i] - expected[i]) < 1e-5


# ---------------------------------------------------------------------------
# Chunking: coverage / reconstruction property
# ---------------------------------------------------------------------------
texts_strategy = st.lists(
    st.text(
        alphabet="ab c",  # space included -> multi-token strings
        min_size=0,
        max_size=40,
    ),
    min_size=1,
    max_size=8,
)


@_SETTINGS
@given(
    texts_strategy,
    st.integers(2, 6),
    st.integers(0, 4),
)
def test_chunking_covers_every_token(spark, texts, chunk, overlap):
    """Every token index lands in ≥1 chunk; stitching non-overlapped
    prefixes reconstructs the tokenized document exactly."""
    from hypothesis import assume

    from lol_data_collection_system_spark.operators.text import chunk_documents

    assume(overlap < chunk)
    step = chunk - overlap
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = chunk_documents(df, chunk, overlap).collect()
    for i, t in enumerate(texts):
        toks = t.strip().split()
        if not toks:
            toks = [""]  # split('') semantics: one empty token
        chunks = sorted(
            ((r.chunk_idx, r.token_start, r.n_tokens, r.chunk_text) for r in out if r.doc_id == i)
        )
        # starts tile [1, n] by step
        assert [c[1] for c in chunks] == list(range(1, len(toks) + 1, step))
        # every token covered, and stitched non-overlap prefixes rebuild the doc
        rebuilt: list[str] = []
        for _, start, n, text_chunk in chunks:
            ctoks = text_chunk.split(" ") if text_chunk != "" else [""]
            if text_chunk == "" and n == 1 and len(toks) == 1:
                ctoks = [""]
            take = ctoks[: step if start + len(ctoks) - 1 < len(toks) else len(ctoks)]
            rebuilt.extend(take[: len(toks) - len(rebuilt)])
        assert rebuilt == toks


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=12,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_containment_dominates_jaccard(spark, texts):
    """For every unordered pair, max(C(A→B), C(B→A)) ≥ Jaccard(A,B):
    containment's denominator is one set, Jaccard's is the union."""
    from lol_data_collection_system_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        shingles,
    )

    sh = shingles(
        spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        ),
        "doc_id", "text", 2,
    )
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh, "doc_id", 0.0).collect()
    }
    con = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(sh, "doc_id", 0.0).collect()
    }
    for (a, b), j in jac.items():
        assert max(con.get((a, b), 0.0), con.get((b, a), 0.0)) >= j - 1e-9


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("xx yy zz ww vv uu tt ss".split()),
            min_size=3,
            max_size=10,
        ).map(" ".join),
        min_size=4,
        max_size=10,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_incremental_statuses_partition_delta(spark, texts):
    """Every delta doc gets exactly one status; exact dups carry
    jaccard 1.0 and a real corpus match; novel docs carry (-1, 0.0)."""
    from lol_data_collection_system_spark.operators.dedup import incremental_dedup

    half = max(1, len(texts) // 2)
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts[:half])], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = incremental_dedup(
        corpus, delta, "doc_id", "text", k=2, band_size=2, threshold=0.3
    ).collect()
    assert len(rows) == len(texts)
    corpus_ids = set(range(half))
    for r in rows:
        assert r["status"] in ("exact_dup", "near_dup", "novel")
        if r["status"] == "exact_dup":
            assert r["jaccard"] == 1.0 and r["match_id"] in corpus_ids
        elif r["status"] == "near_dup":
            assert 0.0 < r["jaccard"] <= 1.0 and r["match_id"] in corpus_ids
        else:
            assert (r["match_id"], r["jaccard"]) == (-1, 0.0)
    # the first half of delta exactly duplicates the corpus
    for r in rows:
        if r["doc_id"] < 100 + half:
            assert r["status"] == "exact_dup"


def _bpe_python(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python BPE reference: leftmost non-overlapping merge of the
    most frequent adjacent pair (ties: lexicographically smallest)."""
    seqs = {w: tuple(w) for w in word_freqs}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in seqs.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), cnt = best
        merges.append((f"{a} {b}", a + b, cnt))
        new_seqs = {}
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_seqs[w] = tuple(out)
        seqs = new_seqs
    return merges, seqs


@given(
    words=st.lists(
        st.text(alphabet="abc", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(min_value=1, max_value=4),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_bpe_matches_python_reference(spark, words, n_merges):
    """The distributed trainer reproduces the classic in-memory BPE
    algorithm exactly: same merge table (pair, merged, count, order) and
    same per-word piece counts after application."""
    from lol_data_collection_system_spark.operators import bpe

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    expect_merges, expect_seqs = _bpe_python(freqs, n_merges)

    got = [
        (r["pair"], r["merged"], r["pair_count"])
        for r in bpe.bpe_merges(df, "text", n_merges)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == expect_merges

    seg = bpe.apply_bpe(df, bpe.bpe_merges(df, "text", n_merges), n_merges).collect()
    expect_pieces = sum(len(expect_seqs[w]) for w in words)
    assert seg[0]["n_words"] == len(words)
    assert seg[0]["n_pieces"] == expect_pieces


texts_lines_strategy = st.lists(
    st.lists(
        st.sampled_from(
            [
                "the quick brown fox jumps",
                "accept cookies to continue",
                "subscribe to the newsletter",
                "unique content sentence",
                "short",
                "",
                "  padded boilerplate line  ",
                "\taccept cookies to continue\r",
                "crlf terminated content line\r",
            ]
        ),
        min_size=0,
        max_size=6,
    ).map(lambda ls: "\n".join(ls)),
    min_size=1,
    max_size=10,
)


@given(texts=texts_lines_strategy, max_docs=st.integers(1, 3))
@_SETTINGS
def test_remove_dup_lines_python_twin_and_idempotent(spark, texts, max_docs):
    """remove_dup_lines matches a pure-Python reference on arbitrary
    corpora (conservation: kept lines are exactly the original lines
    minus over-limit ones, order preserved, no doc vanishes) and is
    idempotent: scrubbing an already-scrubbed corpus is a no-op."""
    from lol_data_collection_system_spark.operators.dedup import remove_dup_lines

    min_chars = 10
    docs = [(i, t) for i, t in enumerate(texts)]

    # python twin
    from collections import defaultdict

    ws = " \t\r\f\x0b"  # Java regex \s, minus the \n the split consumed
    doc_sets = defaultdict(set)
    for i, t in docs:
        for ln in t.split("\n"):
            s = ln.strip(ws)
            if len(s) >= min_chars:
                doc_sets[s].add(i)
    over = {ln for ln, ids in doc_sets.items() if len(ids) > max_docs}
    expect = {
        i: "\n".join(
            ln
            for ln in t.split("\n")
            if not (len(ln.strip(ws)) >= min_chars and ln.strip(ws) in over)
        )
        for i, t in docs
    }

    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {
        r.doc_id: r.text
        for r in remove_dup_lines(df, max_docs=max_docs).collect()
    }
    assert out == expect

    # idempotence
    again = {
        r.doc_id: r.text
        for r in remove_dup_lines(
            spark.createDataFrame(list(out.items()), "doc_id long, text string"),
            max_docs=max_docs,
        ).collect()
    }
    assert again == out


auc_rows_strategy = st.lists(
    st.tuples(
        st.integers(0, 1),
        # coarse score grid on dyadic rationals → plenty of exact ties,
        # both within and across classes
        st.integers(0, 8).map(lambda k: k / 8.0),
    ),
    min_size=2,
    max_size=30,
)


@_SETTINGS
@given(auc_rows_strategy)
def test_auc_matches_pairwise_definition(spark, rows):
    """binary_eval's grouped rank-sum AUC == the O(n²) pairwise
    definition (ties count half) on arbitrary tied score sets; degenerate
    single-class inputs yield NULL auc (0/0), never a wrong number."""
    from hypothesis import assume

    from lol_data_collection_system_spark.operators import classifier as clf

    df = spark.createDataFrame(rows, "label int, score double")
    got = clf.binary_eval(df, "label", "score").collect()[0]
    pos = [s for y, s in rows if y == 1]
    neg = [s for y, s in rows if y == 0]
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    if not pos or not neg:
        assert got["auc"] is None
        return
    assume(True)
    wins = sum(
        1.0 if p > q else (0.5 if p == q else 0.0)
        for p in pos
        for q in neg
    )
    assert abs(got["auc"] - wins / (len(pos) * len(neg))) < 1e-6


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 10)),
        min_size=4,
        max_size=30,
    ),
    st.integers(1, 3),
)
def test_logreg_train_matches_python_twin(spark, rows, iters):
    """The distributed GD loop == a pure-Python twin (same rational
    sigmoid, same update order) to the last bit — on arbitrary integer-
    ratio features and any iteration count."""
    from lol_data_collection_system_spark.operators import classifier as clf

    data = [
        (i, a / 13.0, b / 11.0, 1 if (a + b) % 2 == 0 else 0)
        for i, (a, b) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "id long, f1 double, f2 double, label int"
    ).repartition(3)
    got = clf.logreg_train(df, ["f1", "f2"], iters=iters, lr=0.5)

    # pure-Python twin with exact (Fraction-free) decimal-grid sums
    from decimal import ROUND_HALF_UP, Decimal

    w = [0.0, 0.0, 0.0]
    q = Decimal(1).scaleb(-10)
    for _ in range(iters):
        sums = [Decimal(0)] * 3
        for _id, f1, f2, y in data:
            z = w[0] + w[1] * f1 + w[2] * f2
            p = 0.5 * (1.0 + z / (1.0 + abs(z)))
            r = p - float(y)
            for j, x in enumerate((1.0, f1, f2)):
                sums[j] += Decimal(r * x).quantize(q, rounding=ROUND_HALF_UP)
        n = len(data)
        w = [wj - 0.5 * (float(s) / n) for wj, s in zip(w, sums)]
    assert got == w  # bit-exact


@_SETTINGS
@given(
    st.lists(st.integers(1, 10**7), min_size=1, max_size=6),
    st.integers(0, 10**7),
    st.sampled_from([0.25, 0.5, 1.0, 8.0, 40.0]),
)
def test_waterfilling_terminates_and_conserves(spark, sizes, budget, alpha):
    """capped_token_budget_plan must TERMINATE on any input (the floor-
    dust state where every share floors to 0 used to loop forever) and
    keep its invariants: planned ≤ cap per group, Σ planned ≤ budget.
    Extreme alpha drives the grid-quantized weights into the dust
    regime."""
    from lol_data_collection_system_spark.operators.sampling import (
        capped_token_budget_plan,
    )

    rows = [
        (f"s{i}", j, n)
        for i, n in enumerate(sizes)
        for j, n in [(0, n)]
    ]
    df = spark.createDataFrame(rows, "source string, j int, n_tokens long")
    plan = capped_token_budget_plan(
        df, "source", F.col("n_tokens"), budget, alpha=alpha, max_epochs=2.0
    ).collect()
    got = {r["source"]: r for r in plan}
    assert len(got) == len(sizes)
    total_planned = sum(r["planned_tokens"] for r in plan)
    assert total_planned <= budget
    for i, n in enumerate(sizes):
        assert got[f"s{i}"]["planned_tokens"] <= 2.0 * n


# ---------------------------------------------------------------------------
# Funnel vs a pure-Python simulator (strict order, first occurrence,
# per-step window) — randomized event streams incl. repeats/disorder.
# ---------------------------------------------------------------------------
events_strategy = st.lists(
    st.tuples(
        st.integers(0, 6),           # user
        st.sampled_from("ABC"),      # event type
        st.integers(0, 5000),        # ts seconds
    ),
    min_size=1,
    max_size=60,
)


def _py_funnel(rows, steps, within_s):
    reach = {}
    by_user: dict[int, list] = {}
    for u, e, t in rows:
        by_user.setdefault(u, []).append((e, t))
    counts = [0] * len(steps)
    for u, evs in by_user.items():
        prev = None
        for k, step in enumerate(steps):
            ts = sorted(
                t
                for e, t in evs
                if e == step
                and (k == 0 or (prev < t <= prev + within_s))
            )
            if not ts:
                break
            prev = ts[0]
            counts[k] += 1
    return counts


@_SETTINGS
@given(events_strategy, st.integers(1, 600))
def test_funnel_matches_python_simulator(spark, rows, within_s):
    from lol_data_collection_system_spark.operators import funnels

    df = spark.createDataFrame(
        [(u, e, t) for u, e, t in rows], "user_id long, event_type string, sec long"
    ).select(
        "user_id",
        "event_type",
        F.timestamp_seconds(F.col("sec")).alias("ts"),
    )
    steps = ["A", "B", "C"]
    got = {
        r["step"]: r["n_users"]
        for r in funnels.funnel(df, steps, within_seconds=within_s).collect()
    }
    want = _py_funnel(rows, steps, within_s)
    assert [got[k] for k in (1, 2, 3)] == want


# ---------------------------------------------------------------------------
# PSI vs a pure-Python twin (same bucketing, smoothing, rounding).
# ---------------------------------------------------------------------------
@_SETTINGS
@given(
    st.lists(
        st.tuples(st.sampled_from("xyz"), st.integers(-50, 150)),
        min_size=1,
        max_size=60,
    )
)
def test_psi_matches_python_twin(spark, rows):
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from lol_data_collection_system_spark.operators import drift as drift_ops

    lo, hi, nb, sm = 0.0, 100.0, 10, 0.5
    df = spark.createDataFrame(rows, "src string, v long")
    got = {
        r["src"]: (r["n_rows"], r["psi"])
        for r in drift_ops.psi_by_group(
            df, "src", "v", lo=lo, hi=hi, n_buckets=nb, smooth=sm
        ).collect()
    }

    def bucket(v):
        return min(nb - 1, max(0, int((v - lo) // ((hi - lo) / nb))))

    cells: dict[str, list[int]] = {}
    for s, v in rows:
        cells.setdefault(s, [0] * nb)[bucket(v)] += 1
    base = [sum(c[b] for c in cells.values()) for b in range(nb)]
    tot = sum(base)
    want = {}
    for s, c in cells.items():
        n = sum(c)
        acc = Decimal(0)
        for b in range(nb):
            p = (c[b] + sm) / (n + sm * nb)
            q = (base[b] + sm) / (float(tot) + sm * nb)
            term = Decimal((p - q) * math.log(p / q)).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP
            )
            acc += term
        psi = float(
            Decimal(float(acc)).quantize(
                Decimal("1e-6"), rounding=ROUND_HALF_UP
            )
        )
        want[s] = (n, psi)
    assert got == want


@given(
    names=st.lists(
        st.text(alphabet="abcd ", min_size=1, max_size=8),
        min_size=1,
        max_size=12,
    ),
    max_dist=st.integers(0, 2),
)
@_SETTINGS
def test_fuzzy_linkage_matches_python_blocking(spark, names, max_dist):
    """Spark linkage == pure-Python q-gram blocking + Levenshtein on
    arbitrary strings (uncapped), including the normalization dedupe."""
    import re

    from lol_data_collection_system_spark.operators.linkage import (
        fuzzy_link_names,
    )

    def norm(s):
        return re.sub(r"\s+", " ", s.strip().lower())

    def grams(s, q=3):
        return {s[i : i + q] for i in range(max(len(s) - q + 1, 1))}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    dirty = [n for n in names if norm(n)]
    clean = [n[::-1] for n in names if norm(n[::-1])]
    if not dirty or not clean:
        return
    dn = {}
    for s in dirty:
        dn[norm(s)] = dn.get(norm(s), 0) + 1
    cn = {}
    for s in clean:
        cn[norm(s)] = cn.get(norm(s), 0) + 1
    want = set()
    for a in dn:
        for b in cn:
            if grams(a) & grams(b) and lev(a, b) <= max_dist:
                want.add((a, b, lev(a, b), dn[a], cn[b]))

    d = spark.createDataFrame([(s,) for s in dirty], ["name"])
    c = spark.createDataFrame([(s,) for s in clean], ["name"])
    got = {
        (r.dirty_name, r.clean_name, r.edit_dist, r.n_dirty, r.n_clean)
        for r in fuzzy_link_names(
            d, c, "name", "name", max_dist=max_dist
        ).collect()
    }
    assert got == want


@given(
    series=st.lists(st.integers(0, 9), min_size=2, max_size=20),
    window=st.integers(1, 6),
)
@_SETTINGS
def test_ewma_scores_match_python(spark, series, window):
    """Batch EWMA on a dense single-group series == the Python
    recurrence (Horner numerator over the trailing window)."""
    import datetime as dt

    from lol_data_collection_system_spark.operators.windows import ewma_scores

    h0 = dt.datetime(2024, 5, 1)
    rows = []
    for h, n in enumerate(series):
        for i in range(n):
            rows.append(("g", h0 + dt.timedelta(hours=h, seconds=i)))
    if not rows:
        return
    # silent leading/trailing hours vanish from the grid (min..max of
    # observed data); compute the python twin on the observed span
    hours = [h for h, n in enumerate(series) if n > 0]
    lo, hi = min(hours), max(hours)
    span = series[lo : hi + 1]
    want = {}
    for t in range(len(span)):
        prev = span[max(0, t - window) : t]
        num = 0
        for x in reversed(prev):  # newest first -> largest weight
            num = num * 2 + x
        if num <= 0:
            continue
        den = (1 << len(prev)) - 1
        decayed = num / den
        ms = int(
            (h0 + dt.timedelta(hours=lo + t))
            .replace(tzinfo=dt.timezone.utc)
            .timestamp()
            * 1000
        )
        # HALF_UP on the double's exact decimal expansion — Spark's
        # F.round semantics. Python's bare round() is banker's, which
        # DIVERGES on exact 6-dp ties: EWMA's dyadic denominators make
        # them reachable (hypothesis found ratio = 93/128 = 0.7265625).
        import decimal as _dec

        def r6(x: float) -> float:
            return float(
                _dec.Decimal(x).quantize(
                    _dec.Decimal("1e-6"), rounding=_dec.ROUND_HALF_UP
                )
            )

        want[ms] = (span[t], r6(decayed), r6(span[t] / decayed))

    df = spark.createDataFrame(rows, ["g", "ts"])
    got = {
        r.bucket_ms: (r.cnt, r.decayed_prev, r.ratio)
        for r in ewma_scores(df, "g", "ts", window=window).collect()
    }
    assert got == want


@given(
    xy=st.lists(
        st.tuples(
            st.integers(0, 50),
            st.floats(-100, 100, allow_nan=False, width=32),
        ),
        min_size=2,
        max_size=25,
    )
)
@_SETTINGS
def test_linreg_matches_numpy_on_random_groups(spark, xy):
    """linreg_by_group == numpy polyfit on arbitrary (x, y) sets
    (6-dp inputs; degenerate x-variance -> NULL)."""
    import numpy as np

    from lol_data_collection_system_spark.operators.aggregates import (
        linreg_by_group,
    )

    pts = [(round(float(x), 6), round(float(y), 6)) for x, y in xy]
    df = spark.createDataFrame(
        [("g", x, y) for x, y in pts], ["g", "x", "y"]
    )
    got = linreg_by_group(df, ["g"], F.col("x"), F.col("y")).collect()[0]
    xs = np.array([p[0] for p in pts])
    ys = np.array([p[1] for p in pts])
    if np.all(xs == xs[0]):
        assert got.slope is None and got.intercept is None
        return
    slope, intercept = np.polyfit(xs, ys, 1)
    assert got.slope == pytest.approx(float(slope), abs=2e-5)
    assert got.intercept == pytest.approx(float(intercept), abs=2e-4)


@_SETTINGS
@given(
    hashes=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1).flatmap(
            lambda base: st.tuples(
                st.just(base),
                st.integers(0, 20),  # flip up to 20 random bits
                st.integers(0, 2**63 - 1),
            )
        ),
        min_size=1,
        max_size=16,
    ),
    threshold=st.integers(0, 7),
)
def test_hamming_components_match_bruteforce(spark, hashes, threshold):
    """The banded candidate generation must be EXACT for threshold <
    band width (pigeonhole): grouping via hamming_components equals the
    brute-force all-pairs union-find at every threshold 0..7, including
    duplicate hashes, sign-bit hashes, and singletons."""
    from lol_data_collection_system_spark.operators.dedup import (
        hamming_components,
    )

    rows = []
    for i, (base, n_flips, seed) in enumerate(hashes):
        h = base & (2**64 - 1)
        s = seed
        for _ in range(n_flips):
            h ^= 1 << (s % 64)
            s = (s * 1103515245 + 12345) % (2**63)
        rows.append((i, h - (1 << 64) if h >= (1 << 63) else h))

    # brute-force union-find over verified Hamming pairs
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, hi_ in rows:
        for j, hj in rows:
            if i < j and bin((hi_ ^ hj) & (2**64 - 1)).count("1") <= threshold:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    want = {i: find(i) for i, _ in rows}

    sigs = spark.createDataFrame(rows, ["media_id", "phash"])
    got = {
        r.media_id: r.component_id
        for r in hamming_components(sigs, threshold=threshold).collect()
    }
    assert got == want
