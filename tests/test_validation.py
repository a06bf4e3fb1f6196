"""Semantics of operators/validation.py: the declarative constraint
suite and the k-anonymity risk profile (SURVEY §2.11 data-quality
family). Cross-engine value checks live in test_oracle_parity
(`orders_constraint_report`, `customer_k_anonymity`); this file pins
the operator-level edge semantics the oracles can't isolate: NULL
handling per constraint kind, FK null-reference exclusion, the
excess-rows uniqueness metric, and the one-pass plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators.validation import (
    constraint_report,
    k_anonymity_profile,
)


@pytest.fixture(scope="module")
def facts(spark):
    # id 4 duplicates id 3's key; id 5 has a NULL fk (legal reference);
    # id 6 is an orphan (fk 99 not in dim); price -1 on id 2 violates
    # positivity; NULL price on id 5 is NOT a positivity violation
    # (three-valued semantics) but IS a not-null violation.
    return spark.createDataFrame(
        [
            (1, 10, 5.0),
            (2, 20, -1.0),
            (3, 30, 7.0),
            (4, 30, 8.0),
            (5, None, None),
            (6, 99, 2.0),
        ],
        "id bigint, fk bigint, price double",
    )


@pytest.fixture(scope="module")
def dim(spark):
    # duplicate dim row for key 30: the distinct-projection must keep
    # the fact row count unchanged (no join fan-out)
    return spark.createDataFrame(
        [(10,), (20,), (30,), (30,), (40,)], "k bigint"
    )


def test_constraint_report_counts(facts, dim):
    rows = {
        r["constraint"]: r
        for r in constraint_report(
            facts,
            row_checks=[
                ("price_not_null", F.col("price").isNull()),
                ("price_positive", F.col("price") <= 0),
            ],
            unique=[("id_unique", ["id"]), ("fk_unique", ["fk"])],
            fks=[("fk_dim", "fk", dim, "k")],
        ).collect()
    }
    assert len(rows) == 5
    # NULL price: counted by the isNull check, NOT by the predicate
    # check (NULL <= 0 is NULL -> non-violation)
    assert rows["price_not_null"]["n_violations"] == 1
    assert not rows["price_not_null"]["passed"]
    assert rows["price_positive"]["n_violations"] == 1
    # uniqueness = excess rows: ids all distinct; fk has 6 rows but
    # countDistinct drops the NULL -> 6 - 4 distinct = 2 "excess"
    # (one real dup + the null row) — pair with a not-null check for
    # PK semantics, exactly as documented
    assert rows["id_unique"]["n_violations"] == 0
    assert rows["id_unique"]["passed"]
    assert rows["fk_unique"]["n_violations"] == 2
    # FK: n_checked counts only non-null references (5 of 6 rows);
    # the NULL reference is legal; the orphan is fk=99 only — and the
    # duplicated dim row for key 30 must not fan out the fact side
    assert rows["fk_dim"]["n_checked"] == 5
    assert rows["fk_dim"]["n_violations"] == 1
    for r in rows.values():
        assert r["n_checked"] == 6 or r["constraint"] == "fk_dim"
        assert r["passed"] == (r["n_violations"] == 0)


def test_constraint_report_single_pass_plan(facts, dim):
    df = constraint_report(
        facts,
        row_checks=[("p", F.col("price") < 0)],
        unique=[("u", ["id"])],
        fks=[("f", "fk", dim, "k")],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the FK marker join broadcasts the distinct-projected dim
    assert "BroadcastHashJoin" in plan
    # one scan of the fact table feeds every constraint
    assert plan.count("Scan ExistingRDD") <= 2  # fact + broadcast dim


def test_constraint_report_validation(facts, dim):
    with pytest.raises(ValueError, match="unique"):
        constraint_report(
            facts,
            row_checks=[("dup", F.col("price") < 0)],
            unique=[("dup", ["id"])],
        )
    with pytest.raises(ValueError, match="no constraints"):
        constraint_report(facts)


def test_k_anonymity_profile(spark):
    # groups: a×1 -> 3 rows, a×2 -> 1, b×1 -> 1, NULL×1 -> 2
    df = spark.createDataFrame(
        [
            ("a", 1), ("a", 1), ("a", 1),
            ("a", 2),
            ("b", 1),
            (None, 1), (None, 1),
        ],
        "qa string, qb int",
    )
    out = {
        r["k"]: r
        for r in k_anonymity_profile(df, ["qa", "qb"], ks=(2, 3, 5))
        .collect()
    }
    assert set(out) == {2, 3, 5}
    for r in out.values():
        assert r["n_rows"] == 7 and r["n_groups"] == 4
    # k=2: singletons only (a×2, b×1) -> 2 groups, 2 rows; the NULL
    # quasi pair is its OWN group of size 2, not merged or dropped
    assert out[2]["groups_below"] == 2 and out[2]["rows_below"] == 2
    assert out[2]["risk_share"] == pytest.approx(2 / 7, abs=1e-6)
    # k=3: adds the NULL group (size 2)
    assert out[3]["groups_below"] == 3 and out[3]["rows_below"] == 4
    # k=5: every group is below -> all rows at risk
    assert out[5]["groups_below"] == 4 and out[5]["rows_below"] == 7
    assert out[5]["risk_share"] == 1.0


def test_k_anonymity_validation(spark):
    df = spark.createDataFrame([("a",)], "qa string")
    with pytest.raises(ValueError, match="ks must be"):
        k_anonymity_profile(df, ["qa"], ks=(1,))
    with pytest.raises(ValueError, match="no quasi"):
        k_anonymity_profile(df, [])


def test_delete_propagation_statuses_and_purge(spark):
    """Direct deletes, one-hop component expansion, kept rows untouched;
    purge_deleted removes exactly the non-kept set."""
    from lol_data_collection_system_spark.operators.validation import (
        delete_propagation,
        purge_deleted,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5), (6, 5), (7, 7)],
        ["doc_id", "component_id"],
    )
    dels = spark.createDataFrame([(2,), (6,), (99,)], ["doc_id"])
    got = {
        r.doc_id: r.status
        for r in delete_propagation(labels, dels).collect()
    }
    assert got == {
        1: "deleted_via_dup",
        2: "deleted_direct",
        3: "deleted_via_dup",
        4: "kept",
        5: "deleted_via_dup",
        6: "deleted_direct",
        7: "kept",
    }
    docs = labels.select("doc_id")
    kept = purge_deleted(docs, delete_propagation(labels, dels))
    assert sorted(r.doc_id for r in kept.collect()) == [4, 7]


def test_delete_propagation_empty_request_keeps_everything(spark):
    from lol_data_collection_system_spark.operators.validation import (
        delete_propagation,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], ["doc_id", "component_id"]
    )
    empty = spark.createDataFrame([], "doc_id bigint")
    got = delete_propagation(labels, empty).collect()
    assert {r.status for r in got} == {"kept"} and len(got) == 2


def test_l_diversity_profile_homogeneity_and_nulls(spark):
    """Distinct l-diversity counts groups by DISTINCT sensitive values:
    a large homogeneous group is flagged at l=2 (the attack k-anonymity
    misses), a NULL sensitive value counts as a value, and NULL quasi
    values form their own group."""
    from lol_data_collection_system_spark.operators.validation import (
        l_diversity_profile,
    )

    df = spark.createDataFrame(
        [
            # group A: 3 rows, all same sensitive -> d=1 (homogeneous)
            (1, "x"), (1, "x"), (1, "x"),
            # group B: 2 rows, sensitive {y, NULL} -> d=2
            (2, "y"), (2, None),
            # group NULL-quasi: 2 rows, {x, y} -> d=2
            (None, "x"), (None, "y"),
        ],
        "q int, s string",
    )
    out = {r["l"]: r for r in l_diversity_profile(df, ["q"], "s", ls=(2, 3)).collect()}
    assert out[2]["n_rows"] == 7 and out[2]["n_groups"] == 3
    # only the homogeneous group is below l=2
    assert out[2]["groups_below"] == 1 and out[2]["rows_below"] == 3
    assert out[2]["risk_share"] == round(3 / 7, 6)  # 6-dp contract
    # at l=3 every group is below (max distinct = 2)
    assert out[3]["groups_below"] == 3 and out[3]["rows_below"] == 7

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ls must be"):
        l_diversity_profile(df, ["q"], "s", ls=(1,))
    with _pytest.raises(ValueError, match="no quasi"):
        l_diversity_profile(df, [], "s")


def test_pq_distortion_report_exact_codewords_have_zero_mse(spark):
    """Vectors that ARE codewords reconstruct exactly (mse 0); a vector
    off every codeword contributes its true squared error; stored codes
    drive the lookup (cid gaps included)."""
    from lol_data_collection_system_spark.operators.similarity import (
        pq_distortion_report,
    )

    # 2 subspaces x 2 dims; books: subspace 0 has cids {0, 2} (gap!)
    books = spark.createDataFrame(
        [
            (0, 0, [1.0, 0.0]), (0, 2, [0.0, 1.0]),
            (1, 0, [2.0, 0.0]), (1, 1, [0.0, 2.0]),
        ],
        "subspace int, cid int, cvec array<double>",
    )
    vecs = spark.createDataFrame(
        [
            # exact codewords: se = 0 in both subspaces
            (10, [1.0, 0.0, 2.0, 0.0]),
            # off by (0,1) in subspace 0 (vs cid 0), exact in subspace 1
            (11, [1.0, 1.0, 0.0, 2.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    codes = spark.createDataFrame(
        [(10, [0, 0]), (11, [0, 1])], "vec_id long, codes array<int>"
    )
    out = {
        r["subspace"]: r
        for r in pq_distortion_report(
            vecs, books, codes, n_subspaces=2, sub_dim=2
        ).collect()
    }
    assert out[0]["n_vectors"] == 2 and out[1]["n_vectors"] == 2
    assert out[0]["n_unmatched"] == 0 and out[1]["n_unmatched"] == 0
    assert out[0]["mse"] == 0.5 and out[0]["max_se"] == 1.0  # (0 + 1)/2
    assert out[1]["mse"] == 0.0 and out[1]["max_se"] == 0.0


def test_pq_distortion_report_unmatched_codes_are_loud(spark):
    """ADVICE r9 regression: a stored code with no matching cid in the
    codebook must surface as n_unmatched (and stay OUT of mse/max_se),
    not silently read as lower distortion."""
    from lol_data_collection_system_spark.operators.similarity import (
        pq_distortion_report,
    )

    books = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (1, 0, [2.0, 0.0])],
        "subspace int, cid int, cvec array<double>",
    )
    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0, 2.0, 0.0]), (11, [1.0, 1.0, 2.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # doc 11's subspace-0 code points at cid 9 — absent from the book
    codes = spark.createDataFrame(
        [(10, [0, 0]), (11, [9, 0])], "vec_id long, codes array<int>"
    )
    out = {
        r["subspace"]: r
        for r in pq_distortion_report(
            vecs, books, codes, n_subspaces=2, sub_dim=2
        ).collect()
    }
    assert out[0]["n_vectors"] == 1 and out[0]["n_unmatched"] == 1
    assert out[0]["mse"] == 0.0  # only the matched row counts
    assert out[1]["n_vectors"] == 2 and out[1]["n_unmatched"] == 0


def test_t_closeness_flags_skewed_groups_exactly(spark):
    """Equal-distance EMD == total variation, computed on exact
    integers: a group distributed like the table passes tight t; a
    skewed group is flagged exactly when TVD crosses t."""
    from lol_data_collection_system_spark.operators.validation import (
        t_closeness_profile,
    )

    # global: 4×a, 4×b (p = 0.5/0.5)
    # group 1: 2×a, 2×b  -> TVD 0
    # group 2: 2×a, 1×b  -> TVD = ½(|2/3−½| + |1/3−½|) = 1/6
    # group 3: 1×b       -> TVD = ½(½ + ½) = ½
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (1, "b"),
         (2, "a"), (2, "a"), (2, "b"),
         (3, "b")],
        "q int, s string",
    )
    out = {
        r["t"]: r
        for r in t_closeness_profile(
            df, ["q"], "s", ts=(0.1, 0.2, 0.6)
        ).collect()
    }
    assert out[0.1]["n_rows"] == 8 and out[0.1]["n_groups"] == 3
    # t=0.1: groups 2 (1/6) and 3 (1/2) exceed
    assert out[0.1]["groups_above"] == 2 and out[0.1]["rows_above"] == 4
    # t=0.2: only group 3
    assert out[0.2]["groups_above"] == 1 and out[0.2]["rows_above"] == 1
    assert out[0.2]["risk_share"] == 0.125
    # t=0.6: none
    assert out[0.6]["groups_above"] == 0 and out[0.6]["rows_above"] == 0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="ts must be"):
        t_closeness_profile(df, ["q"], "s", ts=(0.0,))
    with _pytest.raises(ValueError, match="no quasi"):
        t_closeness_profile(df, [], "s")


def test_t_closeness_null_sensitive_is_a_category(spark):
    """ADVICE r9 regression: NULL sensitive values are a real category
    (null-safe histogram join), not silently dropped — a plain
    equi-join excluded them from n_rows AND every group's TVD, so the
    4-row table below used to report n_rows=2, understating risk.

    global: 2×a, 2×NULL (p = 0.5/0.5)
    group 1: 1×a, 1×NULL -> TVD 0
    group 2: 1×a         -> TVD = ½(½ + ½) = ½ (all-a vs the table)
    group 3: 1×NULL      -> TVD ½ likewise
    """
    from lol_data_collection_system_spark.operators.validation import (
        t_closeness_profile,
    )

    df = spark.createDataFrame(
        [(1, "a"), (1, None), (2, "a"), (3, None)],
        "q int, s string",
    )
    out = {
        r["t"]: r
        for r in t_closeness_profile(df, ["q"], "s", ts=(0.3, 0.6)).collect()
    }
    assert out[0.3]["n_rows"] == 4 and out[0.3]["n_groups"] == 3
    assert out[0.3]["groups_above"] == 2 and out[0.3]["rows_above"] == 2
    assert out[0.6]["groups_above"] == 0 and out[0.6]["rows_above"] == 0


def test_k_anon_release_gate_stream_equals_batch_filter(spark, tmp_path):
    """Streaming k-anonymous release: rows publish exactly when their
    cumulative quasi group reaches k (quarantined backlog released with
    the crossing batch); the final published set equals the batch
    filter 'groups of total size >= k' regardless of batch boundaries;
    replays are no-ops; quarantined rows never leak."""
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )
    from lol_data_collection_system_spark.streaming.privacy import (
        k_anon_release_sink,
        read_released,
    )

    rows = [
        # group ('a', 1): one row per batch -> crosses k=3 at batch 2
        (1, "a", 1), (2, "b", 1), (3, "b", 1), (4, "b", 1),
        (5, "a", 1), (6, "c", 2),
        (7, "a", 1), (8, "c", 2),
    ]
    batches = [rows[:4], rows[4:6], rows[6:]]
    store = str(tmp_path / "gate")
    sink = k_anon_release_sink(store, ["seg", "band"], k=3, id_col="row_id")

    def frame(rs):
        return spark.createDataFrame(
            rs, "row_id long, seg string, band int"
        )

    sink(frame(batches[0]), 0)
    # batch 0: b-group has 3 rows -> published; a-group 1 row -> held
    assert {r["row_id"] for r in read_released(spark, store).collect()} \
        == {2, 3, 4}
    sink(frame(batches[1]), 1)
    assert {r["row_id"] for r in read_released(spark, store).collect()} \
        == {2, 3, 4}  # a at 2, c at 1: still held
    sink(frame(batches[2]), 2)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    # a crossed 3: ALL its rows (incl. batches 0/1 backlog) release;
    # c stays at 2: quarantined
    assert got == {1, 2, 3, 4, 5, 7}

    # == the batch filter over the full input
    full = frame(rows)
    sizes = full.groupBy("seg", "band").count().filter("count >= 3")
    want = {
        r["row_id"]
        for r in full.join(sizes.select("seg", "band"), ["seg", "band"])
        .collect()
    }
    assert got == want

    # replayed batch: content-keyed no-op (pointer untouched)
    before = current_version(store)[0]
    sink(frame(batches[2]), 2)
    assert current_version(store)[0] == before

    # published rows hardlink forward; gsizes (every seen row, the
    # held c group included) folds under compaction
    from lol_data_collection_system_spark.sources.versioned import (
        compact_version,
    )

    assert compact_version(spark, store, max_files=1) is True
    import pathlib as _pl

    vdir, _ = current_version(store)
    gs = spark.read.parquet(str(_pl.Path(vdir) / "gsizes")).collect()
    assert {(r["seg"], r["band"], r["n"]) for r in gs} == {
        ("b", 1, 3), ("a", 1, 3), ("c", 2, 2)
    }
    assert {r["row_id"] for r in read_released(spark, store).collect()} \
        == want  # compaction content-neutral


def test_k_anon_release_gate_null_quasi_group_releases(spark, tmp_path):
    """NULL quasi values form their own group (the audit operator's
    documented semantics) and must RELEASE once that group reaches k —
    a plain equi-join on the quasi columns would quarantine NULL-keyed
    rows forever (ADVICE r10, fixed via a null-safe struct group key)."""
    from lol_data_collection_system_spark.streaming.privacy import (
        k_anon_release_sink,
        read_released,
    )

    store = str(tmp_path / "gate_null")
    sink = k_anon_release_sink(store, ["seg", "band"], k=3, id_col="row_id")

    def frame(rs):
        return spark.createDataFrame(
            rs, "row_id long, seg string, band int"
        )

    # the (NULL, NULL) group accumulates across batches and crosses k=3
    sink(frame([(1, None, None), (2, "a", 1)]), 0)
    assert read_released(spark, store).count() == 0
    sink(frame([(3, None, None), (4, None, 7)]), 1)
    assert read_released(spark, store).count() == 0
    sink(frame([(5, None, None), (6, None, None)]), 2)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 3, 5, 6}  # (NULL,NULL) released; (a,1),(NULL,7) held
    # a later batch's rows of the already-crossed NULL group release too
    # (the gsizes probe must match the NULL key null-safely)
    sink(frame([(7, None, None)]), 3)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 3, 5, 6, 7}


@pytest.mark.parametrize("gate", ["k", "l", "t"])
def test_release_gate_dedups_within_batch_ids(spark, tmp_path, gate):
    """A micro-batch carrying the same id more than once publishes the
    row at most once and counts it ONCE toward the criterion (ADVICE
    r10): duplicate delivery glue must not inflate a group past the
    privacy threshold. The three gates share one skeleton, so each is
    pinned; a replayed batch commits nothing."""
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )
    from lol_data_collection_system_spark.streaming.privacy import (
        k_anon_release_sink,
        l_div_release_sink,
        read_released,
        t_close_release_sink,
    )

    store = str(tmp_path / f"gate_dup_{gate}")
    sink = {
        "k": lambda: k_anon_release_sink(store, ["seg"], k=3),
        "l": lambda: l_div_release_sink(
            store, ["seg"], l=3, sensitive_col="s"
        ),
        "t": lambda: t_close_release_sink(
            store, ["seg"], t=0.3, sensitive_col="s"
        ),
    }[gate]()

    def frame(rs):
        return spark.createDataFrame(rs, "row_id long, seg string, s string")

    def released():
        ids = [r["row_id"] for r in read_released(spark, store).collect()]
        assert len(ids) == len(set(ids))  # no id published twice
        return set(ids)

    # id 1 three times with two sensitive values: counted as delivered,
    # group a would reach 3 rows (k) or 3 values (l) in this batch
    sink(frame([(1, "a", "x"), (1, "a", "y"), (1, "a", "x"),
                (2, "a", "z")]), 0)
    # one group is the whole population, so t passes at once
    assert released() == ({1, 2} if gate == "t" else set())
    sink(frame([(3, "a", "w")]), 1)
    assert released() == {1, 2, 3}

    before = current_version(store)[0]
    sink(frame([(3, "a", "w")]), 1)  # replay: content-keyed no-op
    assert current_version(store)[0] == before


def test_l_div_release_gate_stream_equals_batch_filter(spark, tmp_path):
    """Streaming distinct-l-diversity gate (VERDICT r10 #9): a group's
    pooled rows publish exactly when its cumulative distinct sensitive
    count reaches l (NULL counts as a value, mirroring the audit);
    the final published set equals the batch filter over the full
    input; replays are no-ops."""
    from lol_data_collection_system_spark.streaming.privacy import (
        l_div_release_sink,
        read_released,
    )
    from lol_data_collection_system_spark.sources.versioned import (
        current_version,
    )

    store = str(tmp_path / "ldiv")
    sink = l_div_release_sink(store, ["seg"], l=3, sensitive_col="s")

    def frame(rs):
        return spark.createDataFrame(rs, "row_id long, seg string, s int")

    sink(frame([(1, "a", 1), (2, "a", 2),
                (3, "b", 1), (4, "b", 1), (5, "b", 1)]), 0)
    assert read_released(spark, store).count() == 0  # a:2, b:1 distinct
    sink(frame([(6, "a", None), (7, "b", 2)]), 1)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    # a reached {1, 2, NULL} = 3 (NULL is a value): backlog released
    assert got == {1, 2, 6}
    sink(frame([(8, "b", 3)]), 2)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 2, 3, 4, 5, 6, 7, 8}  # b crossed: full backlog

    # == batch filter over the full input (both groups >= 3 distinct)
    before = current_version(store)[0]
    sink(frame([(8, "b", 3)]), 2)  # replay: content-keyed no-op
    assert current_version(store)[0] == before


def test_t_close_release_gate_release_time_soundness(spark, tmp_path):
    """Streaming t-closeness gate (VERDICT r10 #9): a group publishes
    once its cumulative sensitive histogram is within t (total
    variation) of the cumulative global histogram; backlog releases at
    the crossing; on this drift-stationary fixture the final published
    set equals the batch filter. Expected distances hand-computed:
    batch 1 global is 50/50, so the balanced group publishes (tvd 0)
    and both one-sided groups hold (tvd 0.5); batch 2 moves group b to
    (2,1) vs global 4/7 -> tvd 0.096 <= 0.3: b's backlog releases; c
    stays one-sided (tvd 0.571) and quarantines."""
    from lol_data_collection_system_spark.streaming.privacy import (
        read_released,
        t_close_release_sink,
    )

    store = str(tmp_path / "tclose")
    sink = t_close_release_sink(store, ["seg"], t=0.3, sensitive_col="s")

    def frame(rs):
        return spark.createDataFrame(
            rs, "row_id long, seg string, s string"
        )

    sink(frame([(1, "a", "x"), (2, "a", "y"),
                (3, "b", "x"), (4, "b", "x"),
                (5, "c", "y"), (6, "c", "y")]), 0)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 2}  # a tvd=0; b and c tvd=0.5 held
    sink(frame([(7, "b", "y")]), 1)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 2, 3, 4, 7}  # b tvd -> 2/21 <= 0.3: backlog out

    # == the batch filter over the full 7 rows (global x=4/7):
    # a tvd=1/14 ok, b tvd=2/21 ok, c tvd=4/7 held
    import itertools

    rows = [(1, "a", "x"), (2, "a", "y"), (3, "b", "x"), (4, "b", "x"),
            (5, "c", "y"), (6, "c", "y"), (7, "b", "y")]
    from fractions import Fraction

    glob = {"x": Fraction(4, 7), "y": Fraction(3, 7)}
    want = set()
    for seg, grp in itertools.groupby(
        sorted(rows, key=lambda r: r[1]), key=lambda r: r[1]
    ):
        grp = list(grp)
        n = len(grp)
        hist = {
            s: Fraction(sum(1 for r in grp if r[2] == s), n)
            for s in glob
        }
        tvd = sum(abs(hist[s] - glob[s]) for s in glob) / 2
        if tvd <= Fraction(3, 10):
            want |= {r[0] for r in grp}
    assert got == want


def test_k_anon_release_stream_wiring(spark, tmp_path):
    """The availableNow wiring drains a file-source stream through the
    gate: same final published set as the sink-by-hand run."""
    from lol_data_collection_system_spark.streaming.privacy import (
        k_anon_release_stream,
        read_released,
    )

    src = tmp_path / "rows"
    src.mkdir()
    spark.createDataFrame(
        [(1, "a", 1), (2, "a", 1)], "row_id long, seg string, band int"
    ).coalesce(1).write.json(str(src / "b1"))
    spark.createDataFrame(
        [(3, "a", 1), (4, "z", 9)], "row_id long, seg string, band int"
    ).coalesce(1).write.json(str(src / "b2"))

    stream = (
        spark.readStream.schema("row_id long, seg string, band int")
        .option("maxFilesPerTrigger", 1)
        .json(str(src) + "/*")
    )
    store = str(tmp_path / "gate_stream")
    q = k_anon_release_stream(
        stream, store, str(tmp_path / "ckpt"), ["seg", "band"], k=3
    )
    q.awaitTermination(120)
    got = {r["row_id"] for r in read_released(spark, store).collect()}
    assert got == {1, 2, 3}  # group a crossed 3; singleton z held
