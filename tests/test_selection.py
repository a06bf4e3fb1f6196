"""Unit tests for the data-selection operators: DSIR importance
resampling, Bloom-filter membership, and JL random projection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators import bloom as bloom_ops
from lol_data_collection_system_spark.operators import importance as imp_ops
from lol_data_collection_system_spark.operators import projection as proj_ops
from lol_data_collection_system_spark.operators.similarity import (
    brute_force_topk,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # target-ish docs: repeated "alpha beta" vocabulary
        (1, "alpha beta gamma alpha beta", "en"),
        (2, "alpha beta delta alpha", "en"),
        (3, "alpha gamma beta beta", "en"),
        # off-target docs: disjoint vocabulary
        (4, "zu zo za zu zo", "xx"),
        (5, "qi qa qo qi", "xx"),
        (6, "alpha beta gamma beta", "xx"),  # looks like the target
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_dsir_weights_prefer_target_vocabulary(docs):
    w = imp_ops.dsir_log_weights(docs, F.col("lang") == "en")
    got = {r["doc_id"]: r["log_weight"] for r in w.collect()}
    assert len(got) == 6
    # Docs sharing the target's vocabulary must outscore the disjoint ones.
    target_like = min(got[1], got[2], got[3], got[6])
    off_target = max(got[4], got[5])
    assert target_like > off_target
    # n_grams = unigrams + bigrams = 2·len − 1.
    n = {r["doc_id"]: r["n_grams"] for r in w.collect()}
    assert n[1] == 9 and n[5] == 7


def test_gumbel_sample_is_deterministic_and_sized(docs):
    w = imp_ops.dsir_log_weights(docs, F.col("lang") == "en")
    s1 = imp_ops.gumbel_topk_sample(w, 3).select("doc_id").collect()
    s2 = imp_ops.gumbel_topk_sample(w, 3).select("doc_id").collect()
    assert [r.doc_id for r in s1] == [r.doc_id for r in s2]
    assert len(s1) == 3
    # Different salt → (almost surely) different draw keys.
    alt = imp_ops.gumbel_topk_sample(w, 3, salt="other").collect()
    assert {r.draw_key for r in alt} != {
        r.draw_key for r in imp_ops.gumbel_topk_sample(w, 3).collect()
    }


def test_bloom_has_no_false_negatives(spark):
    keys = spark.range(200).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    filt = bloom_ops.build_bloom(keys, "k", m_bits=1 << 12, n_hashes=4)
    probed = bloom_ops.might_contain(
        keys, filt, "k", m_bits=1 << 12, n_hashes=4
    )
    assert probed.filter(~F.col("might_match")).count() == 0


def test_bloom_word_table_is_bounded_and_fp_rate_sane(spark):
    m = 1 << 12
    members = spark.range(200).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    filt = bloom_ops.build_bloom(members, "k", m_bits=m, n_hashes=4)
    words = filt.collect()
    assert len(words) <= m // 32
    assert all(r.word_idx < m // 32 for r in words)
    others = spark.range(2000).select(
        F.concat(F.lit("other-"), F.col("id")).alias("k")
    )
    probed = bloom_ops.might_contain(others, filt, "k", m_bits=m, n_hashes=4)
    fp = probed.filter(F.col("might_match")).count()
    # (1 − e^{−kn/m})^k ≈ 0.1% here; allow a generous margin but require
    # the filter to actually prune.
    assert fp < 100


def test_rp_projection_shape_and_determinism(spark):
    emb = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 13) - 6.0 for d in range(64)])
         for i in range(30)],
        ["vec_id", "embedding"],
    )
    proj = emb.select(proj_ops.project("embedding").alias("p")).collect()
    assert all(len(r.p) == proj_ops.RP_OUT_DIM for r in proj)
    # Same seed twice → identical projections.
    again = emb.select(proj_ops.project("embedding").alias("p")).collect()
    assert [r.p for r in proj] == [r.p for r in again]


def test_rp_topk_recall_against_exact(spark):
    emb = spark.createDataFrame(
        [(i, [float(((i + 1) * (d + 3)) % 17) - 8.0 for d in range(64)])
         for i in range(50)],
        ["vec_id", "embedding"],
    )
    exact = brute_force_topk(emb, 0, 10)
    approx = proj_ops.rp_topk(emb, 0, 10)
    assert approx.count() == 10
    assert [r.rank for r in approx.orderBy("rank").collect()] == list(
        range(1, 11)
    )
    recall = proj_ops.rp_recall_at_k(exact, approx, 10).collect()[0][0]
    assert 0.0 <= recall <= 1.0


def test_token_budget_plan_sums_and_epochs(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        token_budget_plan,
    )
    from lol_data_collection_system_spark.operators.text import token_count

    rows = [(i, "tok " * (10 if i % 2 else 40), "a" if i % 2 else "b")
            for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    plan = token_budget_plan(
        df, "source", token_count(F.col("text")), budget_tokens=1000
    ).collect()
    by = {r.source: r for r in plan}
    assert set(by) == {"a", "b"}
    # temperature 0.5 flattens: the small source gets MORE than its
    # proportional share, the large one less
    tok_a, tok_b = by["a"].n_tokens, by["b"].n_tokens
    assert tok_a < tok_b
    assert by["a"].mix_weight > tok_a / (tok_a + tok_b)
    assert by["b"].mix_weight < tok_b / (tok_a + tok_b)
    # planned tokens ≤ budget; epochs = planned/n_tokens
    assert by["a"].planned_tokens + by["b"].planned_tokens <= 1000
    assert abs(by["a"].epochs - by["a"].planned_tokens / tok_a) < 1e-6


def test_minhash_calibration_bounds(spark):
    from lol_data_collection_system_spark.operators.dedup import (
        minhash_jaccard_calibration,
        shingles,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base),  # exact dup -> est = true = 1.0
        (3, base + " with a small tail change here"),
        (4, "completely different words everywhere nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_jaccard_calibration(
        shingles(df, "doc_id", "text"), "doc_id"
    ).collect()
    got = {(r.id_a, r.id_b): r for r in out}
    assert (1, 2) in got
    r12 = got[(1, 2)]
    assert r12.est_jaccard == 1.0 and r12.true_jaccard == 1.0
    assert r12.abs_err == 0.0
    for r in out:
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.true_jaccard <= 1.0
        assert r.abs_err >= 0.0


def test_remove_dup_spans_scrubs_shared_block(spark):
    from lol_data_collection_system_spark.operators.dedup import (
        remove_dup_spans,
    )

    boiler = "one two three four five six seven eight"  # exactly width=8
    rows = [
        (1, f"{boiler} unique tail for doc one"),
        (2, f"{boiler} another ending entirely different"),
        (3, "short doc"),  # < width -> untouched
        (4, boiler),  # fully boilerplate -> disappears
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in remove_dup_spans(df, width=8).collect()}
    assert out[1].cleaned_text == "unique tail for doc one"
    assert out[1].n_removed == 8
    assert out[2].cleaned_text == "another ending entirely different"
    assert out[3].cleaned_text == "short doc" and out[3].n_removed == 0
    assert 4 not in out


def test_bloom_decontamination_never_undercounts(spark):
    from lol_data_collection_system_spark.plans.selection_queries import (
        q_bloom_decontamination,
    )

    out = q_bloom_decontamination(spark, "/root/testdata/sf0.001").collect()
    assert out, "screen should flag at least one train doc"
    for r in out:
        # Bloom has no false negatives: every exact hit is also a might
        assert r.exact_hits <= r.might_hits
        assert r.might_hits >= 1


def test_bloom_gates_a_stream_identically_to_batch(spark, tmp_path):
    """might_contain is shuffle-free (k broadcast joins), so the same
    operator gates a streaming frame — stream-static join, no watermark,
    no stateful aggregation. availableNow over a file source must equal
    the batch twin row-for-row."""
    import pyspark.sql.types as T

    blocked = spark.range(50).select(
        F.concat(F.lit("blk-"), F.col("id")).alias("k")
    )
    filt = bloom_ops.build_bloom(blocked, "k", m_bits=1 << 12, n_hashes=4)

    rows = [(f"blk-{i}",) for i in range(0, 50, 5)] + [
        (f"ok-{i}",) for i in range(20)
    ]
    src = tmp_path / "keys"
    spark.createDataFrame(rows, ["k"]).coalesce(1).write.json(str(src))

    schema = T.StructType([T.StructField("k", T.StringType())])
    stream = spark.readStream.schema(schema).json(str(src))
    gated = bloom_ops.might_contain(
        stream, filt, "k", m_bits=1 << 12, n_hashes=4
    ).filter(~F.col("might_match"))

    out = []
    q = (
        gated.writeStream.foreachBatch(
            lambda df, _eid: out.extend(r.k for r in df.collect())
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow microbatch stalled"

    batch = bloom_ops.might_contain(
        spark.createDataFrame(rows, ["k"]), filt, "k",
        m_bits=1 << 12, n_hashes=4,
    ).filter(~F.col("might_match"))
    assert sorted(out) == sorted(r.k for r in batch.collect())
    # every blocked key is gated out in both modes (no false negatives)
    assert not any(k.startswith("blk-") for k in out)


def test_salted_skew_join_matches_plain_join(spark):
    from lol_data_collection_system_spark.operators.joins import (
        salted_skew_join,
    )

    # 10k rows where 90% share ONE key — the classic hot-key shape
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("id") % 7))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k3", 3), ("missing", 4)], ["k", "v"]
    )
    plain = big.join(small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    salted = salted_skew_join(big, small, "k", n_salts=8).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    # left join parity incl. unmatched rows
    pl = big.join(small, "k", "left").count()
    sl = salted_skew_join(big, small, "k", n_salts=8, how="left").count()
    assert pl == sl

    import pytest as _pytest

    with _pytest.raises(ValueError):
        salted_skew_join(big, small, "k", how="full")


def test_contrastive_negatives_deterministic_and_self_free(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        contrastive_negatives,
    )

    docs = spark.range(100).select(F.col("id").alias("doc_id"))
    a = contrastive_negatives(docs, "doc_id", 3, buckets=16).collect()
    b = contrastive_negatives(docs, "doc_id", 3, buckets=16).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # every anchor gets its 3 draws (buckets << corpus so none are empty)
    assert len(a) == 300
    for r in a:
        assert r.neg_id != r.doc_id
        assert 0 <= r.neg_idx < 3
    # a different salt redraws (almost surely) different partners
    c = contrastive_negatives(docs, "doc_id", 3, buckets=16, salt="other")
    assert sorted(map(tuple, c.collect())) != sorted(map(tuple, a))


def test_pq_topk_shape_and_code_behavior(spark):
    from lol_data_collection_system_spark.operators.similarity import pq_topk

    emb = spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(64)])
         for i in range(60)],
        ["vec_id", "embedding"],
    )
    out = pq_topk(emb, 0, 10, n_subspaces=2, sub_dim=32, n_centroids=8)
    rows = out.orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, 11))
    assert all(r.vec_id != 0 for r in rows)
    # approx scores are non-increasing with rank
    scores = [r.approx_ip for r in rows]
    assert scores == sorted(scores, reverse=True)
    # a centroid vector's own approx equals its exact subspace dots sum:
    # vec 3 (< n_centroids) quantizes to itself, so its ADC score is its
    # true inner product with the query, rounded per-subspace
    import math

    q = [float(((0 + 2) * (d + 5)) % 19) - 9.0 for d in range(64)]
    v3 = [float(((3 + 2) * (d + 5)) % 19) - 9.0 for d in range(64)]
    expect = round(
        round(sum(a * b for a, b in zip(q[:32], v3[:32])), 6)
        + round(sum(a * b for a, b in zip(q[32:], v3[32:])), 6),
        6,
    )
    got = {r.vec_id: r.approx_ip for r in rows}
    if 3 in got:
        assert math.isclose(got[3], expect, rel_tol=0, abs_tol=1e-9)


def _ivfpq_emb(spark):
    return spark.createDataFrame(
        [(i, [float(((i + 2) * (d + 5)) % 19) - 9.0 for d in range(64)])
         for i in range(60)],
        ["vec_id", "embedding"],
    )


def test_ivfpq_topk_shape_probe_containment_and_determinism(spark):
    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    out = sim.ivf_pq_topk(
        emb, 0, 10, n_cells=5, coarse_iters=2, nprobe=2,
        n_subspaces=2, sub_dim=32, n_codes=8,
    )
    rows = out.orderBy("rank").collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    assert all(r.vec_id != 0 for r in rows)
    scores = [r.approx_ip for r in rows]
    assert scores == sorted(scores, reverse=True)

    # candidates come ONLY from the nprobe cells nearest the query
    assign = {
        r.vec_id: r.cid
        for r in sim.kmeans_assign(emb, k=5, iters=2).collect()
    }
    cents = {
        r.cid: r.cvec
        for r in sim.kmeans_centroids(emb, k=5, iters=2).collect()
    }
    q = [float((2 * (d + 5)) % 19) - 9.0 for d in range(64)]
    qcd = sorted(
        ((round(sum(a * b for a, b in zip(cv, q)), 6), cid)
         for cid, cv in cents.items()),
        key=lambda t: (-t[0], t[1]),
    )
    probed = {cid for _, cid in qcd[:2]}
    assert {assign[r.vec_id] for r in rows} <= probed

    # layout invariance: same result after a repartition
    again = sim.ivf_pq_topk(
        emb.repartition(7), 0, 10, n_cells=5, coarse_iters=2, nprobe=2,
        n_subspaces=2, sub_dim=32, n_codes=8,
    ).orderBy("rank").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_ivfpq_stored_artifacts_serve_bit_identical(spark, tmp_path):
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    in_plan = sim.ivf_pq_topk(
        emb, 0, 10, n_cells=5, coarse_iters=2, nprobe=2,
        n_subspaces=2, sub_dim=32, n_codes=8,
    ).orderBy("rank").collect()

    assigned = sim.kmeans_assign(emb, k=5, iters=2, keep_vec=True)
    cents = sim.kmeans_centroids(emb, k=5, iters=2)
    res = assigned.join(F.broadcast(cents), "cid").select(
        "vec_id",
        F.zip_with(
            F.col("embedding"), F.col("cvec"),
            lambda a, b: a.cast("double") - b,
        ).alias("embedding"),
    )
    books = sim.pq_codebooks(res, 2, 32, 8)
    for name, df in (
        ("idx", assigned.select("vec_id", "cid")),
        ("cents", cents),
        ("books", books),
    ):
        df.write.parquet(str(tmp_path / name))
    stored = sim.ivf_pq_topk(
        emb, 0, 10, n_cells=5, coarse_iters=2, nprobe=2,
        n_subspaces=2, sub_dim=32, n_codes=8,
        index=spark.read.parquet(str(tmp_path / "idx")),
        centroids=spark.read.parquet(str(tmp_path / "cents")),
        codebooks=spark.read.parquet(str(tmp_path / "books")),
    ).orderBy("rank").collect()
    assert [tuple(r) for r in stored] == [tuple(r) for r in in_plan]


def test_ivfpq_partial_artifacts_raise(spark):
    import pytest as _pytest

    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    idx = sim.kmeans_assign(emb, k=5, iters=2)
    with _pytest.raises(ValueError, match="artifact pair"):
        sim.ivf_pq_topk(emb, 0, index=idx)
    books = sim.pq_codebooks(emb, 2, 32, 8)
    with _pytest.raises(ValueError, match="coarse quantizer"):
        sim.ivf_pq_topk(emb, 0, codebooks=books)


def test_might_contain_rejects_colliding_columns(spark):
    import pytest as _pytest

    from lol_data_collection_system_spark.operators import bloom as bloom_ops

    filt = bloom_ops.build_bloom(
        spark.createDataFrame([("a",)], ["k"]), "k", 1 << 10, 2
    )
    bad = spark.createDataFrame([("a", True)], ["k", "might_match"])
    with _pytest.raises(ValueError, match="might_match"):
        bloom_ops.might_contain(bad, filt, "k", 1 << 10, 2)
    # custom out_col sidesteps the clash
    out = bloom_ops.might_contain(
        bad, filt, "k", 1 << 10, 2, out_col="blocked"
    )
    assert {"k", "might_match", "blocked"} <= set(out.columns)
    assert out.collect()[0].blocked is True


def test_kcenter_matches_python_greedy_and_is_monotone(spark):
    """Farthest-first twin: the Spark selection must equal a pure-Python
    greedy with the same 6-dp-rounded cosine and (best_sim, id) tie-break,
    and the coverage curve (gap_sim) must be non-decreasing."""
    import math

    from lol_data_collection_system_spark.operators.similarity import (
        kcenter_select,
    )

    vecs = {
        1: [1.0, 0.0, 0.0],
        2: [0.9, 0.1, 0.0],       # near 1
        3: [-1.0, 0.05, 0.0],     # opposite pole
        4: [0.0, 1.0, 0.0],       # orthogonal
        5: [0.0, -1.0, 0.2],
        6: [0.57, 0.57, 0.59],
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    k = 4
    best = {i: -2.0 for i in vecs}
    picks, gaps = [min(vecs)], [None]
    for _ in range(1, k):
        p = picks[-1]
        for i in vecs:
            best[i] = 2.0 if i in picks else max(best[i], cos(vecs[i], vecs[p]))
        nxt = min((b, i) for i, b in best.items())
        picks.append(nxt[1])
        gaps.append(nxt[0])

    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["vec_id", "embedding"]
    )
    got = kcenter_select(df, k=k).orderBy("sel_round").collect()
    assert [r.vec_id for r in got] == picks
    assert got[0].gap_sim is None
    got_gaps = [r.gap_sim for r in got[1:]]
    assert got_gaps == pytest.approx(gaps[1:], abs=1e-9)
    assert all(a <= b + 1e-12 for a, b in zip(got_gaps, got_gaps[1:]))


def test_kcenter_k_exceeding_corpus_and_k1(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        kcenter_select,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    one = kcenter_select(df, k=1).collect()
    assert len(one) == 1 and one[0].vec_id == 1
    with pytest.raises(ValueError):
        kcenter_select(df, k=0)


def test_kcenter_k_beyond_corpus_emits_no_phantom_rounds(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        kcenter_select,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    got = kcenter_select(df, k=5).orderBy("sel_round").collect()
    assert [r.vec_id for r in got] == [1, 2]  # every point once, no dups


def test_interleave_alternates_sources_and_is_deterministic(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        interleave_sources,
    )

    rows = [(i, "a" if i < 6 else "b") for i in range(9)]  # 6 a's, 3 b's
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sorted(
        interleave_sources(df, "source", "doc_id", salt="t").collect(),
        key=lambda r: r.position,
    )
    # positions are unique and strictly increasing
    assert len({r.position for r in out}) == 9
    # while both sources have rows left, the schedule strictly
    # alternates: first 6 positions = a,b,a,b,a,b
    assert [r.source for r in out[:6]] == ["a", "b", "a", "b", "a", "b"]
    # then the exhausted source leaves gaps, remaining a's keep order
    assert all(r.source == "a" for r in out[6:])
    # deterministic under repartitioning
    again = sorted(
        interleave_sources(
            df.repartition(7), "source", "doc_id", salt="t"
        ).collect(),
        key=lambda r: r.position,
    )
    assert [(r.position, r.doc_id) for r in again] == [
        (r.position, r.doc_id) for r in out
    ]


def test_ivf_index_append_idempotent_and_frozen(spark):
    """Appending a delta routes by the stored centroids; replaying the
    same delta is a no-op; existing assignments never flip."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    index = sim.kmeans_assign(base, k=4, iters=2)
    cents = sim.kmeans_centroids(base, k=4, iters=2)

    merged = sim.ivf_index_append(index, delta, cents)
    rows = {r.vec_id: r.cid for r in merged.collect()}
    assert set(rows) == {r.vec_id for r in emb.collect()}
    # base assignments unchanged
    for r in index.collect():
        assert rows[r.vec_id] == r.cid
    # delta rows landed where the serving rule routes them
    routed = {
        r.vec_id: r.cid
        for r in sim.route_to_centroids(
            delta.select("vec_id", "embedding"), cents, "embedding"
        ).collect()
    }
    for vid, cid in routed.items():
        assert rows[vid] == cid
    # replay: appending the same delta again changes nothing
    again = {
        r.vec_id: r.cid
        for r in sim.ivf_index_append(merged, delta, cents).collect()
    }
    assert again == rows


def test_ivf_index_append_collapses_duplicate_delta_ids(spark):
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    base = emb.filter(F.col("vec_id") % 5 != 4)
    delta = emb.filter(F.col("vec_id") % 5 == 4)
    index = sim.kmeans_assign(base, k=4, iters=2)
    cents = sim.kmeans_centroids(base, k=4, iters=2)
    doubled = delta.unionByName(delta)  # retry glue: same ids twice
    merged = sim.ivf_index_append(index, doubled, cents).collect()
    ids = [r.vec_id for r in merged]
    assert len(ids) == len(set(ids))  # one assignment per id
    want = {
        r.vec_id: r.cid
        for r in sim.ivf_index_append(index, delta, cents).collect()
    }
    assert {r.vec_id: r.cid for r in merged} == want


def test_pq_encode_matches_inplan_code_choice(spark):
    """Stored codes = the argmax choice pq_topk/ivf_pq_topk make
    in-plan, including the smaller-cid tie; python twin on the seeded
    books."""
    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    books = sim.pq_codebooks(emb, 2, 32, 8)
    codes = {
        r.vec_id: list(r.codes)
        for r in sim.pq_encode(emb, books, 2, 32).collect()
    }
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    for vid, v in vecs.items():
        for mm in range(2):
            xs = v[mm * 32: (mm + 1) * 32]
            scored = sorted(
                (
                    (-round(sum(a * b for a, b in zip(
                        xs, vecs[c][mm * 32: (mm + 1) * 32])), 6), c)
                    for c in range(8)
                ),
            )
            assert codes[vid][mm] == scored[0][1], (vid, mm)


def test_ivfadc_refine_funnel_shape_and_exactness(spark, tmp_path):
    """The funnel returns exact cosine scores on a code-scanned
    shortlist: ranks contiguous, cos_sim matches brute recompute, and
    every returned candidate sits in the query's routed cell."""
    import math

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators import similarity as sim

    emb = _ivfpq_emb(spark)
    index = sim.kmeans_assign(emb, k=5, iters=2)
    cents = sim.kmeans_centroids(emb, k=5, iters=2)
    res = (
        sim.kmeans_assign(emb, k=5, iters=2, keep_vec=True)
        .join(F.broadcast(cents), "cid")
        .select(
            "vec_id",
            F.zip_with(
                F.col("embedding"), F.col("cvec"),
                lambda a, b: a.cast("double") - b,
            ).alias("embedding"),
        )
    )
    books = sim.pq_codebooks(res, 2, 32, 8)
    codes = sim.pq_encode(res, books, 2, 32)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ivfadc_refine_topk(
        queries, emb, index, cents, books, codes, k=3, refine=8,
        n_subspaces=2, sub_dim=32,
    ).collect()
    assert len({r.query_id for r in out}) == 2
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    assign = {r.vec_id: r.cid for r in index.collect()}
    routed = {
        r.query_id: r.cid
        for r in sim.route_to_centroids(
            queries.withColumnRenamed("embedding", "e"), cents, "e"
        ).collect()
    }
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
        # candidate in the routed cell
        assert assign[r.vec_id] == routed[r.query_id]
        # exact cosine really is exact
        q, v = vecs[r.query_id], vecs[r.vec_id]
        dq = math.sqrt(sum(a * a for a in q))
        dv = math.sqrt(sum(a * a for a in v))
        want = round(sum(a * b for a, b in zip(q, v)) / (dq * dv), 4)
        assert math.isclose(r.cos_sim, want, rel_tol=0, abs_tol=1e-9)
    for rows in by_q.values():
        assert sorted(x.rank for x in rows) == list(range(1, len(rows) + 1))


def test_lsh_plan_eval_scurve_properties(spark):
    """More bands at fixed n_hashes = more permissive: est_recall AND
    fp stickiness both rise monotonically with n_bands; exact-dup pairs
    (j=1) collide with probability 1 under every plan."""
    from lol_data_collection_system_spark.operators.dedup import (
        lsh_plan_eval,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 1.0), (3, 4, 0.8), (5, 6, 0.5), (7, 8, 0.2), (9, 10, 0.01)],
        ["id_a", "id_b", "true_jaccard"],
    )
    rows = {
        r.n_bands: r
        for r in lsh_plan_eval(pairs, n_hashes=16, threshold=0.4).collect()
    }
    assert set(rows) == {1, 2, 4, 8, 16}
    recalls = [rows[b].est_recall for b in (1, 2, 4, 8, 16)]
    fps = [rows[b].est_fp_stickiness for b in (1, 2, 4, 8, 16)]
    assert recalls == sorted(recalls)
    assert fps == sorted(fps)
    # with band_size=1, every pair with j>0 collides w.p. ~1-(1-j)^16
    import math
    j = 0.2
    want = round(1 - (1 - j) ** 16, 6)
    # fp side of b=16 averages p(0.2) and p(0.01)
    p001 = round(1 - (1 - 0.01) ** 16, 6)
    assert math.isclose(
        rows[16].est_fp_stickiness, round((want + p001) / 2, 6), abs_tol=1e-6
    )
    # n_true/n_sub counts split at the threshold
    assert rows[1].n_true_pairs == 3 and rows[1].n_sub_pairs == 2
