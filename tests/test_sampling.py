"""Deterministic sampling/splitting: rate accuracy, stability under
repartitioning (the property seeded `sample` lacks), split tiling, and
per-stratum rates."""

from __future__ import annotations

from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators.sampling import (
    deterministic_split,
    hash_sample,
    stratified_hash_sample,
)


def _ids(df):
    return sorted(r[0] for r in df.select("id").collect())


def test_hash_sample_rate_and_determinism(spark):
    base = spark.range(10_000)
    kept = _ids(hash_sample(base, "id", 0.3, "s1"))
    assert 0.27 * 10_000 < len(kept) < 0.33 * 10_000
    # identical decision set regardless of partitioning or re-run
    assert _ids(hash_sample(base.repartition(17), "id", 0.3, "s1")) == kept
    # nested: sampling at a lower rate with the same salt gives a subset
    sub = _ids(hash_sample(base, "id", 0.1, "s1"))
    assert set(sub) < set(kept)
    # different salt draws an (essentially) independent subset
    other = _ids(hash_sample(base, "id", 0.3, "s2"))
    assert other != kept


def test_deterministic_split_tiles_exactly(spark):
    base = spark.range(5_000)
    out = deterministic_split(
        base, "id", {"train": 0.8, "valid": 0.1, "test": 0.1}, "s"
    )
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert None not in counts  # fractions sum to 1 → no unassigned rows
    assert sum(counts.values()) == 5_000
    assert counts["train"] > counts["valid"]
    # remainder goes to NULL when fractions sum below 1
    part = deterministic_split(base, "id", {"train": 0.5}, "s")
    n_null = part.filter(F.col("split").isNull()).count()
    assert 0.45 * 5_000 < n_null < 0.55 * 5_000


def test_split_disjoint_from_same_salt_sample(spark):
    """Split assignment and hash_sample share bucket space: train@0.8
    equals sample@0.8 with the same salt — one consistent decision."""
    base = spark.range(2_000)
    train = deterministic_split(base, "id", {"train": 0.8}, "x").filter(
        F.col("split") == "train"
    )
    assert _ids(train) == _ids(hash_sample(base, "id", 0.8, "x"))


def test_stratified_rates(spark):
    rows = [(i, "a" if i % 2 else "b") for i in range(8_000)]
    df = spark.createDataFrame(rows, ["id", "grp"])
    out = stratified_hash_sample(df, "grp", "id", {"a": 1.0, "b": 0.2})
    got = out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    counts = {r["grp"]: r["n"] for r in got}
    assert counts["a"] == 4_000  # rate 1.0 keeps everything
    assert 0.15 * 4_000 < counts["b"] < 0.25 * 4_000
    # default rate 0.0 drops unlisted strata entirely
    only_a = stratified_hash_sample(df, "grp", "id", {"a": 0.5})
    assert only_a.filter(F.col("grp") == "b").count() == 0


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling
# ---------------------------------------------------------------------------
def test_weighted_sample_layout_invariant_and_sized(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        weighted_sample_topk,
    )

    df = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(200)], ["k", "w"]
    )
    a = [r.k for r in weighted_sample_topk(df, "k", "w", 25, "s").collect()]
    b = [
        r.k
        for r in weighted_sample_topk(df.repartition(17), "k", "w", 25, "s").collect()
    ]
    assert a == b and len(a) == 25 and len(set(a)) == 25


def test_weighted_sample_skips_nonpositive_and_biases_heavy(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        weighted_sample_topk,
    )

    heavy = [(i, 1000) for i in range(100)]
    light = [(i + 100, 1) for i in range(100)]
    zero = [(i + 200, 0) for i in range(10)]
    df = spark.createDataFrame(heavy + light + zero, ["k", "w"])
    picked = [r.k for r in weighted_sample_topk(df, "k", "w", 50, "s").collect()]
    assert all(p < 210 for p in picked)
    assert not any(p >= 200 for p in picked)  # zero weight: probability 0
    n_heavy = sum(1 for p in picked if p < 100)
    assert n_heavy >= 45  # 1000:1 weights dominate the draw


def test_cluster_keyed_split_keeps_components_together(spark):
    """Leakage-safe split: every member of a near-dup component gets the
    SAME split assignment (key = component_id, not doc_id)."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.graph import dedup_clusters
    from lol_data_collection_system_spark.operators.sampling import (
        deterministic_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], ["doc_id", "text"]
    )
    # three clusters: {0..4}, {10,11}, singletons elsewhere
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    clusters = dedup_clusters(docs, edges)
    assigned = deterministic_split(
        clusters, "component_id", {"train": 0.5, "test": 0.5}, "leak-t"
    )
    per_comp = (
        assigned.groupBy("component_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .collect()
    )
    assert all(r.n_splits == 1 for r in per_comp)
    comp0_splits = {
        r.split for r in assigned.filter(F.col("doc_id") < 5).collect()
    }
    assert len(comp0_splits) == 1  # the 5-doc cluster moves as one unit


# ---------------------------------------------------------------------------
# Temperature-scaled mixture
# ---------------------------------------------------------------------------
def test_temperature_rates_flatten_toward_small_groups(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        temperature_mix_rates,
    )

    # 900 vs 100 docs: alpha=0.5 must give the small group a weight
    # share above its 10% row share, and the big group a higher absolute
    # rate-derived expected count than the small one (no inversion).
    df = spark.range(1000).selectExpr(
        "id AS doc_id", "CASE WHEN id < 900 THEN 'big' ELSE 'small' END AS src"
    )
    r = {x.src: x for x in temperature_mix_rates(df, "src", 300).collect()}
    assert abs(r["big"].mix_weight + r["small"].mix_weight - 1.0) < 1e-9
    assert 0.10 < r["small"].mix_weight < 0.5  # flattened, not inverted
    # expected kept rows ~= target when nothing clamps
    expected = (
        r["big"].accept_rate * 900 + r["small"].accept_rate * 100
    )
    assert abs(expected - 300) < 1.0
    # alpha=1 degenerates to a uniform rate (proportional sampling)
    u = {x.src: x for x in temperature_mix_rates(df, "src", 500, alpha=1.0).collect()}
    assert abs(u["big"].accept_rate - u["small"].accept_rate) < 1e-9


def test_temperature_sample_is_layout_independent(spark):
    from lol_data_collection_system_spark.operators.sampling import (
        temperature_mix_sample,
    )

    df = spark.range(400).selectExpr(
        "id AS doc_id", "CASE WHEN id % 4 = 0 THEN 'a' ELSE 'b' END AS src"
    )
    a = sorted(
        r.doc_id
        for r in temperature_mix_sample(df, "src", "doc_id", 120, salt="t").collect()
    )
    b = sorted(
        r.doc_id
        for r in temperature_mix_sample(
            df.repartition(13), "src", "doc_id", 120, salt="t"
        ).collect()
    )
    assert a == b and 0 < len(a) < 400


def test_capped_token_budget_waterfills(spark):
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.sampling import (
        capped_token_budget_plan,
    )

    # tiny source caps out; its unspent share must flow to the others
    docs = spark.createDataFrame(
        [("big", 1000), ("big", 1000), ("mid", 500), ("tiny", 10)],
        "source string, n_tok long",
    )
    out = {
        r.source: r
        for r in capped_token_budget_plan(
            docs, "source", F.col("n_tok"), budget_tokens=2000, max_epochs=2.0
        ).collect()
    }
    assert out["tiny"].capped and out["tiny"].planned_tokens == 20  # 2 epochs
    assert not out["big"].capped and not out["mid"].capped
    total_planned = sum(r.planned_tokens for r in out.values())
    assert 2000 - 3 <= total_planned <= 2000  # budget spent (floor dust)
    # big+mid absorbed tiny's unspendable share in weight proportion
    assert out["big"].planned_tokens > out["mid"].planned_tokens
    for r in out.values():
        assert r.epochs <= 2.0 + 1e-9

    # budget larger than every cap: all capped, Σ = Σ caps < budget
    allcap = {
        r.source: r
        for r in capped_token_budget_plan(
            docs, "source", F.col("n_tok"), budget_tokens=10**9, max_epochs=1.5
        ).collect()
    }
    assert all(r.capped for r in allcap.values())
    assert sum(r.planned_tokens for r in allcap.values()) == int(
        1.5 * 2000 + 1.5 * 500 + 1.5 * 10
    )


def test_capped_token_budget_extreme_skew_and_degenerate(spark):
    """Regression: extreme source-size skew used to round the light
    source's weight to 0 and divide by zero once the heavy source
    capped; zero-token corpora and zero-token groups must also plan 0."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.sampling import (
        capped_token_budget_plan,
    )

    skew = spark.createDataFrame(
        [("big", 10_000_000_000_000), ("tiny", 2)], "source string, n_tok long"
    )
    out = {
        r.source: r
        for r in capped_token_budget_plan(
            skew, "source", F.col("n_tok"), budget_tokens=50_000_000_000_000
        ).collect()
    }
    assert out["big"].capped and out["big"].planned_tokens == 4 * 10**13
    assert out["tiny"].capped and out["tiny"].planned_tokens == 8

    empty_tokens = spark.createDataFrame(
        [("a", 0), ("b", 0)], "source string, n_tok long"
    )
    z = capped_token_budget_plan(
        empty_tokens, "source", F.col("n_tok"), budget_tokens=100
    ).collect()
    assert all(r.planned_tokens == 0 for r in z)


def test_bootstrap_ci_brackets_mean_and_is_layout_invariant(spark):
    import pyspark.sql.functions as F  # noqa: F401

    from lol_data_collection_system_spark.operators.sampling import (
        bootstrap_mean_ci,
    )

    rows = [(i, float(50 + (i * 13) % 25)) for i in range(400)]
    df = spark.createDataFrame(rows, ["rid", "x"])
    one = bootstrap_mean_ci(df.coalesce(1), "rid", "x", 16).collect()[0]
    many = bootstrap_mean_ci(df.repartition(11), "rid", "x", 16).collect()[0]
    assert one == many  # resamples are a pure function of (salt, id)
    assert one.ci_low <= one.mean <= one.ci_high
    # CI is tight for 400 iid-ish values but not degenerate
    assert 0 < one.ci_high - one.ci_low < 5.0
    assert one.n_rows == 400 and one.n_replicates == 16


def test_join_cardinality_profile_exact(spark):
    from lol_data_collection_system_spark.operators.joins import (
        join_cardinality_profile,
    )

    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], ["k"])
    b = spark.createDataFrame([(1,), (1,), (1,), (2,), (9,)], ["j"])
    got = join_cardinality_profile(a, b, "k", "j").collect()[0]
    assert got.est_rows == 2 * 3 + 1 * 1  # keys 1 and 2 match
    assert got.n_matching_keys == 2
    assert got.max_key == "1" and got.max_key_rows == 6
    assert got.skew_share == round(6 / 7, 6)
    # ground truth: the actual join
    assert a.join(b, a.k == b.j).count() == got.est_rows
