"""Sketch and embedding-summary ops against their exact twins: the
Misra-Gries heavy hitters, the Count-Min sketch, k-means, IVF/PQ search
and the semantic near-dup pair budget."""

from __future__ import annotations


# ---------------------------------------------------------------------------
# Misra-Gries frequent terms
# ---------------------------------------------------------------------------
def test_frequent_terms_exact_vs_groupby(spark):
    """The 2-pass MG+recount output must equal the exact HAVING filter
    (same threshold) — candidates are a superset, counts are exact."""
    import random

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.sketches import frequent_terms
    from lol_data_collection_system_spark.operators.text import tokens

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    # skewed: low ids much more frequent; forces MG eviction (k << 40)
    rows = [
        (i, " ".join(rng.choice(vocab[: 1 + rng.randrange(40)]) for _ in range(30)))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    k = 12
    got = {
        (r.term, r.tf) for r in frequent_terms(df, "doc_id", "text", k=k).collect()
    }
    terms = df.select(F.explode(tokens(F.lower(F.col("text")))).alias("term"))
    n = terms.count()
    exact = {
        (r.term, r.tf)
        for r in terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .filter(F.col("tf") * k > n)
        .collect()
    }
    assert got == exact and got  # equal and non-trivial


def test_frequent_terms_partition_invariant(spark):
    from lol_data_collection_system_spark.operators.sketches import frequent_terms

    df = spark.createDataFrame(
        [(i, "hot " * 5 + f"cold{i}") for i in range(50)], ["doc_id", "text"]
    )
    a = {(r.term, r.tf) for r in frequent_terms(df, k=4).collect()}
    b = {(r.term, r.tf) for r in frequent_terms(df.repartition(13), k=4).collect()}
    assert a == b == {("hot", 250)}


# ---------------------------------------------------------------------------
# Embedding cluster diagnostics
# ---------------------------------------------------------------------------
def test_cluster_stats_known_geometry(spark):
    from lol_data_collection_system_spark.operators.similarity import cluster_stats

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (0, [0.0, 1.0]),  # centroid (0.5, 0.5); each cos = 1/sqrt(2)
            (1, [1.0, 0.0]),
            (1, [1.0, 0.0]),  # identical members -> cohesion 1.0
        ],
        ["label", "embedding"],
    )
    rows = {r.label: r for r in cluster_stats(df).collect()}
    assert rows[0].n_vectors == 2 and rows[1].n_vectors == 2
    assert abs(rows[0].centroid_norm - 0.707107) < 1e-6
    assert abs(rows[0].mean_cos - 0.707107) < 1e-6
    assert rows[1].centroid_norm == 1.0 and rows[1].mean_cos == 1.0


def test_kmeans_separates_known_clusters(spark):
    from lol_data_collection_system_spark.operators.similarity import kmeans_assign

    # Two tight angular clusters; seeds (id 0, id 1) land one in each.
    near_x = [[1.0, 0.05 * i] for i in range(5)]
    near_y = [[0.05 * i, 1.0] for i in range(5)]
    rows = [(0, near_x[0]), (1, near_y[0])] + [
        (2 + i, near_x[1 + i // 2] if i % 2 == 0 else near_y[1 + i // 2])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.vec_id: r.cid for r in kmeans_assign(df, k=2, iters=3).collect()}
    x_ids = {0} | {i for i in range(2, 10) if (i - 2) % 2 == 0}
    y_ids = {1} | {i for i in range(2, 10) if (i - 2) % 2 == 1}
    assert {got[i] for i in x_ids} == {0}
    assert {got[i] for i in y_ids} == {1}


def test_kmeans_partition_invariant(spark):
    from lol_data_collection_system_spark.operators.similarity import kmeans_assign

    df = spark.range(40).selectExpr(
        "id as vec_id",
        "array(cast(pmod(id, 7) as double) / 8 + 0.125,"
        " cast(pmod(id, 5) as double) / 8, cast(id % 3 as double)) as embedding",
    )
    a = sorted((r.vec_id, r.cid) for r in kmeans_assign(df, k=3, iters=2).collect())
    b = sorted(
        (r.vec_id, r.cid)
        for r in kmeans_assign(df.repartition(17), k=3, iters=2).collect()
    )
    assert a == b


def test_ivf_trained_topk_searches_query_cluster(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        brute_force_topk,
        ivf_trained_topk,
    )

    # Same two-cluster geometry as the kmeans test; query id 0 sits in
    # the x-cluster, so trained-IVF (nprobe=1) must return only x-cluster
    # members, ordered exactly as the brute-force ranking restricted to
    # that cluster.
    near_x = [[1.0, 0.05 * i] for i in range(5)]
    near_y = [[0.05 * i, 1.0] for i in range(5)]
    rows = [(0, near_x[0]), (1, near_y[0])] + [
        (2 + i, near_x[1 + i // 2] if i % 2 == 0 else near_y[1 + i // 2])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = ivf_trained_topk(df, 0, k=4, n_centroids=2, iters=2).collect()
    x_ids = {0} | {i for i in range(2, 10) if (i - 2) % 2 == 0}
    assert all(r.vec_id in x_ids for r in got)
    brute = [
        r.vec_id
        for r in brute_force_topk(df, 0, k=9).collect()
        if r.vec_id in x_ids
    ]
    assert [r.vec_id for r in got] == brute[:4]


def test_ivf_stored_index_path_is_bit_identical(spark, tmp_path):
    """Train → persist the (vec_id, cid) assignment to parquet → reload
    → serve: the stored-index path must return the in-plan path's rows
    bit-for-bit (training is decimal-exact + seeded, parquet round-trips
    losslessly). The 'at scale the index is precomputed + stored'
    contract, as a test."""
    from lol_data_collection_system_spark.operators.similarity import (
        ivf_trained_topk,
        kmeans_assign,
    )

    df = spark.range(40).selectExpr(
        "id as vec_id",
        "array(cast(pmod(id, 7) as double) / 8 + 0.125,"
        " cast(pmod(id, 5) as double) / 8, cast(id % 3 as double)) as embedding",
    )
    in_plan = ivf_trained_topk(df, 0, k=5, n_centroids=3, iters=2).collect()

    p = str(tmp_path / "ivf_index.parquet")
    kmeans_assign(df, k=3, iters=2).write.parquet(p)
    stored = ivf_trained_topk(
        df, 0, k=5, index=spark.read.parquet(p)
    ).collect()
    assert stored == in_plan and len(in_plan) > 0


def test_pq_stored_codebook_path_is_bit_identical(spark, tmp_path):
    """Same contract for PQ: the persisted (subspace, cid, cvec)
    codebook frame reproduces the in-plan ADC scores exactly."""
    from lol_data_collection_system_spark.operators.similarity import (
        pq_codebooks,
        pq_topk,
    )

    df = spark.range(40).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 64), d ->"
        " cast(pmod(id * d, 11) as double) / 11) as embedding",
    )
    kw = dict(n_subspaces=2, sub_dim=32, n_centroids=8)
    in_plan = pq_topk(df, 0, 10, **kw).collect()

    p = str(tmp_path / "pq_codebook.parquet")
    pq_codebooks(df, **kw).write.parquet(p)
    stored = pq_topk(
        df, 0, 10, **kw, codebooks=spark.read.parquet(p)
    ).collect()
    assert stored == in_plan and len(in_plan) > 0


def test_quantize_embeddings_bounds_and_error(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [
            (0, [0.5, -1.0, 0.25, 0.0]),   # absmax 1.0 -> scale 1/127
            (1, [0.0, 0.0, 0.0]),          # zero vector -> all-zero qv
        ],
        ["vec_id", "embedding"],
    )
    rows = {r.vec_id: r for r in quantize_embeddings(df).collect()}
    q0 = [int(x) for x in rows[0].qvec.split(",")]
    # the max-magnitude element maps exactly to ±127
    assert min(q0) == -127 and all(abs(v) <= 127 for v in q0)
    # round-half-away: 0.5 * 127 / 1.0 = 63.5 -> 64
    assert q0[0] == 64
    # reconstruction error bounded by half a quantization step
    assert rows[0].max_abs_err <= rows[0].scale / 2 + 1e-12
    assert rows[1].qvec == "0,0,0" and rows[1].scale == 0.0


def test_semantic_near_dup_pairs_within_clusters_only(spark):
    from lol_data_collection_system_spark.operators.dedup import (
        semantic_near_dup_pairs,
    )

    near_x = [[1.0, 0.05 * i] for i in range(5)]
    near_y = [[0.05 * i, 1.0] for i in range(5)]
    rows = [(0, near_x[0]), (1, near_y[0])] + [
        (2 + i, near_x[1 + i // 2] if i % 2 == 0 else near_y[1 + i // 2])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = semantic_near_dup_pairs(
        df, threshold=0.99, n_clusters=2, iters=2
    ).collect()
    x_ids = {0} | {i for i in range(2, 10) if (i - 2) % 2 == 0}
    # every reported pair stays inside one cluster
    for r in got:
        assert (r.id_a in x_ids) == (r.id_b in x_ids)
    # the tight x-cluster pairs (cos > 0.99) are found
    x_pairs = {(r.id_a, r.id_b) for r in got if r.id_a in x_ids}
    assert (0, 2) in x_pairs and len(x_pairs) >= 6


def test_ivf_full_probe_equals_brute_force(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    df = spark.range(30).selectExpr(
        "id AS vec_id",
        "array(cast(pmod(id, 5) as double) / 4 + 0.25,"
        " cast(pmod(id, 3) as double) / 4,"
        " cast(pmod(id, 7) as double) / 8) AS embedding",
    )
    # probing every bucket makes IVF exact: results must equal brute force
    ivf = [(r.vec_id, r.rank) for r in ivf_topk(df, 2, k=5, n_centroids=4, nprobe=4).collect()]
    bf = [(r.vec_id, r.rank) for r in brute_force_topk(df, 2, k=5).collect()]
    assert ivf == bf
    # nprobe=1 returns a subset of the nprobe=2 candidate pool's result quality
    p1 = ivf_topk(df, 2, k=5, n_centroids=4, nprobe=1).collect()
    p2 = ivf_topk(df, 2, k=5, n_centroids=4, nprobe=2).collect()
    assert min(r.cos_sim for r in p2) >= min(r.cos_sim for r in p1) or len(p1) < 5


def test_semantic_near_dup_pair_budget_guard(spark):
    """Skewed fixture: every vector identical -> one giant cluster ->
    sum(|cluster|^2) = N^2 blows a small pair budget LOUDLY (no quadratic
    join is launched)."""
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        PairBudgetExceeded,
        semantic_near_dup_pairs,
    )

    n = 40
    df = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(n)], ["vec_id", "embedding"]
    )
    with _pytest.raises(PairBudgetExceeded, match="pair_budget"):
        semantic_near_dup_pairs(
            df, n_clusters=4, iters=1, pair_budget=n * n // 2
        ).collect()
    # generous budget: same frame passes and yields the all-pairs set
    got = semantic_near_dup_pairs(
        df, threshold=0.9, n_clusters=4, iters=1, pair_budget=10 * n * n
    )
    assert got.count() == n * (n - 1) // 2


def test_semantic_near_dup_derives_k_from_corpus_size(spark):
    """n_clusters=None scales k with N: ceil(N / target_cluster_size)."""
    from lol_data_collection_system_spark.operators.dedup import (
        semantic_near_dup_pairs,
    )

    df = spark.createDataFrame(
        [(i, [1.0 + float(i % 7), float(i % 3)]) for i in range(64)],
        ["vec_id", "embedding"],
    )
    got = semantic_near_dup_pairs(
        df,
        threshold=1.1,  # empty pair output; we only probe the k used
        n_clusters=None,
        iters=1,
        target_cluster_size=10,  # -> k = ceil(64/10) = 7
    )
    assert got.count() == 0
    # derived k is visible through the assignment stage: re-run the same
    # derivation the operator applies and check the bound
    assert max(2, -(-64 // 10)) == 7


def test_cms_overestimates_only_and_tight_when_sparse(spark):
    """Count-Min guarantee: estimate ≥ exact for EVERY key (min over
    rows of non-negative collision sums); with far fewer keys than
    cells the estimates are exact."""
    from lol_data_collection_system_spark.operators.sketches import (
        cms_estimates,
    )

    rows = [("a",)] * 50 + [("b",)] * 7 + [("c",)] * 1
    terms = spark.createDataFrame(rows, "term string")
    out = {r["term"]: r for r in cms_estimates(terms).collect()}
    assert {t: r["exact_freq"] for t, r in out.items()} == {
        "a": 50, "b": 7, "c": 1,
    }
    for r in out.values():
        assert r["overestimate"] >= 0
        assert r["cms_est"] >= r["exact_freq"]
    # 3 keys in 4x256 cells: collision-free -> exact
    assert all(r["overestimate"] == 0 for r in out.values())


def test_cms_forced_collisions_still_bounded(spark):
    """Squeeze many keys into a tiny sketch: estimates may overshoot
    but never undershoot, and the min-over-rows bound holds (est ≤
    exact + total stream length)."""
    from lol_data_collection_system_spark.operators.sketches import (
        cms_estimates,
    )

    rows = [(f"k{i}",) for i in range(200) for _ in range(i % 5 + 1)]
    terms = spark.createDataFrame(rows, "term string")
    total = len(rows)
    for r in cms_estimates(terms, width=8, depth=2).collect():
        assert r["cms_est"] >= r["exact_freq"]
        assert r["cms_est"] <= r["exact_freq"] + total


# ---------------------------------------------------------------------------
# k-means on degenerate inputs: no seed ids, no rows, non-finite seeds
# ---------------------------------------------------------------------------
def _vectors(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_kmeans_without_seed_ids_assigns_nothing(spark):
    """No row has id < k, so no centroid is seeded: every cid is NULL
    and the centroid frame is the single NULL group with its per-dim
    mean."""
    from lol_data_collection_system_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )

    df = _vectors(
        spark, [(10, [1.0, 2.0]), (11, [3.0, -2.0]), (12, [2.0, 0.5])]
    )
    got = sorted((r.vec_id, r.cid) for r in kmeans_assign(df, k=3).collect())
    assert got == [(10, None), (11, None), (12, None)]
    cents = kmeans_centroids(df, k=3)
    assert cents.dtypes == [("cid", "int"), ("cvec", "array<double>")]
    assert [(r.cid, list(r.cvec)) for r in cents.collect()] == [
        (None, [2.0, 0.5 / 3])
    ]


def test_kmeans_empty_input_gives_no_rows(spark):
    from lol_data_collection_system_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )

    df = _vectors(spark, [])
    assert kmeans_assign(df, k=3).collect() == []
    assert kmeans_centroids(df, k=3).collect() == []


def test_kmeans_non_finite_seeds_assign_exactly(spark):
    """Seed vectors holding inf, nan and a subnormal travel into the
    centroid literal unchanged. A non-finite seed scores NaN against
    every vector and Spark orders NaN above every number, so the
    smallest non-finite cid (2) takes every finite row; a non-finite
    row scores NaN everywhere and the cid tie-break sends it to 0."""
    from lol_data_collection_system_spark.operators.similarity import (
        kmeans_assign,
    )

    inf, nan = float("inf"), float("nan")
    df = _vectors(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [1e-320, 1.0]),
            (2, [inf, 1.0]),
            (3, [nan, 0.0]),
            (4, [0.0, 1.0]),
            (5, [-1.0, 2.0]),
            (6, [inf, -inf]),
            (7, [2.0, 2.0]),
        ],
    )
    got = sorted(
        (r.vec_id, r.cid) for r in kmeans_assign(df, k=4, iters=1).collect()
    )
    assert got == [
        (0, 2), (1, 2), (2, 0), (3, 0), (4, 2), (5, 2), (6, 0), (7, 2)
    ]
