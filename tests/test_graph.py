"""Connected components / dedup clustering: exact semantics on hand-built
graphs, convergence on chains, and the full-corpus singleton mapping."""

from __future__ import annotations

import pytest

from lol_data_collection_system_spark.operators import graph
from lol_data_collection_system_spark.operators.graph import (
    connected_components,
    dedup_clusters,
)


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, ["id_a", "id_b"])
    out = connected_components(edges, **kw)
    return sorted(map(tuple, out.collect()))


def test_components_basic(spark):
    # chain 1-2-3, pair 10-11 (reversed order), triangle 20-21-22
    got = _cc(
        spark,
        [(1, 2), (2, 3), (11, 10), (20, 21), (21, 22), (20, 22)],
    )
    assert got == [
        (1, 1), (2, 1), (3, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    ]


def test_components_chain_diameter(spark):
    # a 12-node path exercises multi-round propagation
    got = _cc(spark, [(i, i + 1) for i in range(12)])
    assert got == [(i, 0) for i in range(13)]


def test_components_self_loops_and_dups(spark):
    got = _cc(spark, [(5, 5), (5, 6), (6, 5), (5, 6)])
    assert got == [(5, 5), (6, 5)]


def test_components_nonconvergence_raises(spark, monkeypatch):
    # the distributed loop (driver fast path disabled) must still raise
    # when max_iter rounds don't reach the fixed point
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_BOUND", 0)
    with pytest.raises(RuntimeError):
        _cc(spark, [(i, i + 1) for i in range(12)], max_iter=2)


def test_components_driver_path_matches_distributed(spark, monkeypatch):
    # the r11 bounded union-find fast path must agree exactly with the
    # distributed label-propagation loop on every graph shape the suite
    # relies on (chains, triangles, dups, self-loops, singleton pairs)
    pairs = (
        [(i, i + 1) for i in range(12)]
        + [(20, 21), (21, 22), (20, 22), (30, 30), (40, 41), (41, 40)]
    )
    fast = _cc(spark, pairs)
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_BOUND", 0)
    slow = _cc(spark, pairs)
    assert fast == slow


def test_components_string_ids(spark):
    """Non-numeric ids exercise the join-based convergence fallback."""
    got = _cc(spark, [("b", "a"), ("b", "c"), ("x", "y")])
    assert got == [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")]


def test_dedup_clusters_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame([(3, 1), (4, 3)], ["id_a", "id_b"])
    got = sorted(map(tuple, dedup_clusters(docs, edges).collect()))
    assert got == [(0, 0), (1, 1), (2, 2), (3, 1), (4, 1), (5, 5)]
    # the dedup filter keeps exactly one canonical doc per cluster
    keep = [d for d, c in got if d == c]
    assert keep == [0, 1, 2, 5]


def test_dedup_clusters_empty_edges(spark):
    docs = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    edges = spark.createDataFrame([], "id_a long, id_b long")
    got = sorted(map(tuple, dedup_clusters(docs, edges).collect()))
    assert got == [(i, i) for i in range(4)]


def test_soft_dedup_weights_unit_mass_per_component(spark):
    """SoftDeDup reweighting: every doc keeps a row, each near-dup
    component carries total weight ~1 (1/n per member), singletons
    keep weight 1.0."""
    from lol_data_collection_system_spark.operators.graph import (
        soft_dedup_weights,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    edges = spark.createDataFrame([(3, 1), (4, 3)], ["id_a", "id_b"])
    labels = dedup_clusters(docs, edges)
    got = {
        r["doc_id"]: (r["component_id"], r["n_members"], r["weight"])
        for r in soft_dedup_weights(labels).collect()
    }
    assert len(got) == 6  # nothing dropped
    assert got[1] == (1, 3, 0.333333)
    assert got[3] == (1, 3, 0.333333) and got[4] == (1, 3, 0.333333)
    for singleton in (0, 2, 5):
        assert got[singleton] == (singleton, 1, 1.0)


def test_quality_canonicals_prefers_quality_over_min_id(spark):
    from lol_data_collection_system_spark.operators.graph import (
        quality_canonicals,
    )

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (7, 5)],
        ["doc_id", "n_chars"],
    )
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7)],
        ["doc_id", "component_id"],
    )
    out = {r.component_id: r for r in
           quality_canonicals(docs, labels, "n_chars").collect()}
    # min-id policy would pick 1; quality policy picks the longest (2)
    assert out[1].canonical_id == 2
    assert out[1].n_members == 3
    assert out[1].canonical_quality == 99
    assert out[7].canonical_id == 7 and out[7].n_members == 1


def test_quality_canonicals_ties_break_to_smaller_id(spark):
    from lol_data_collection_system_spark.operators.graph import (
        quality_canonicals,
    )

    docs = spark.createDataFrame(
        [(5, 40), (9, 40)], ["doc_id", "n_chars"]
    )
    labels = spark.createDataFrame(
        [(5, 5), (9, 5)], ["doc_id", "component_id"]
    )
    out = quality_canonicals(docs, labels, "n_chars").collect()[0]
    assert out.canonical_id == 5


def test_quality_canonicals_string_ids(spark):
    """The canonical pick is generic over id type: string ids still get
    max-quality, ties -> lexicographically-smallest-id semantics."""
    from lol_data_collection_system_spark.operators.graph import (
        quality_canonicals,
    )

    docs = spark.createDataFrame(
        [("d-a", 10), ("d-b", 30), ("d-c", 30), ("d-z", 5)],
        ["doc_id", "n_chars"],
    )
    labels = spark.createDataFrame(
        [("d-a", "d-a"), ("d-b", "d-a"), ("d-c", "d-a"), ("d-z", "d-z")],
        ["doc_id", "component_id"],
    )
    got = {
        r.component_id: (r.canonical_id, r.n_members, r.canonical_quality)
        for r in quality_canonicals(docs, labels, "n_chars").collect()
    }
    assert got["d-a"] == ("d-b", 3, 30)  # quality wins, tie -> smaller id
    assert got["d-z"] == ("d-z", 1, 5)


def test_quality_canonicals_all_null_quality_keeps_component(spark):
    from pyspark.sql import types as T

    from lol_data_collection_system_spark.operators.graph import (
        quality_canonicals,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    docs = spark.createDataFrame([(1, None), (2, None)], schema)
    labels = spark.createDataFrame([(1, 1), (2, 1)], ["doc_id", "component_id"])
    out = quality_canonicals(docs, labels, "n_chars").collect()
    assert len(out) == 1
    assert out[0].canonical_id == 1 and out[0].n_members == 2


def test_semantic_auto_budget_fires_on_cluster_collapse(spark):
    """pair_budget='auto' (margin x N^2/k) must trip when every vector
    lands in one cluster — the flat-constant budget it replaces could
    never fire at shipped scale factors."""
    import pytest as _pytest

    from lol_data_collection_system_spark.operators.dedup import (
        PairBudgetExceeded,
        semantic_near_dup_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [1.0, 1.0, 1.0, 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(PairBudgetExceeded):
        semantic_near_dup_pairs(
            emb, n_clusters=6, pair_budget="auto"
        ).collect()


def _pagerank_python(edge_list, damping=0.85, iters=10, directed=False):
    """Float power-iteration twin with the operator's update order."""
    edges = set()
    for u, v in edge_list:
        edges.add((u, v))
        if not directed:
            edges.add((v, u))
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    out = {x: 0 for x in nodes}
    for u, _ in edges:
        out[u] += 1
    rank = {x: 1.0 / n for x in nodes}
    for _ in range(iters):
        dangling = sum(rank[x] for x in nodes if out[x] == 0)
        inflow = {x: 0.0 for x in nodes}
        for u, v in edges:
            inflow[v] += rank[u] / out[u]
        rank = {
            x: (1 - damping) / n
            + damping * dangling / n
            + damping * inflow[x]
            for x in nodes
        }
    return rank


def test_pagerank_matches_python_twin_and_sums_to_one(spark):
    from lol_data_collection_system_spark.operators.graph import pagerank

    # hub-and-spoke plus a chain and a disconnected pair — includes a
    # dangling sink in the directed case
    edge_list = [(1, 2), (1, 3), (1, 4), (4, 5), (6, 7)]
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")

    for directed in (False, True):
        got = {
            r.node: r.rank
            for r in pagerank(edges, directed=directed).collect()
        }
        want = _pagerank_python(edge_list, directed=directed)
        assert set(got) == set(want)
        for x in want:
            assert abs(got[x] - want[x]) < 1e-9, (directed, x)
        assert abs(sum(got.values()) - 1.0) < 1e-9
    # undirected similarity graph: the hub out-ranks its spokes
    und = {r.node: r.rank for r in pagerank(edges).collect()}
    assert und[1] > max(und[2], und[3], und[5])


def test_pagerank_partition_invariant(spark):
    from lol_data_collection_system_spark.operators.graph import pagerank

    edge_list = [(i, (i * 7) % 23) for i in range(40)]
    e1 = spark.createDataFrame(edge_list, "id_a long, id_b long")
    r1 = {r.node: r.rank for r in pagerank(e1, iters=5).collect()}
    r2 = {
        r.node: r.rank
        for r in pagerank(e1.repartition(13), iters=5).collect()
    }
    assert r1 == r2  # decimal sums: bit-identical across layouts


def test_pagerank_empty_edges(spark):
    """Regression: an empty pair frame (routine for similarity graphs on
    a clean corpus) must yield an empty rank frame, not DIVIDE_BY_ZERO."""
    from lol_data_collection_system_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank(empty)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pagerank_no_driver_collect_in_rounds(spark, monkeypatch):
    """The dangling-mass scalar must ride the round's own dataflow as a
    broadcast 1-row aggregate, not a driver collect: pagerank may call
    DataFrame.collect ZERO times and DataFrame.count exactly once (the
    node count), for any iters and either directedness. The old shape
    collected the dangling sum every round. (Job-count pins are
    AQE-noisy — each lazy checkpoint materializes its shuffle stages as
    separate jobs — so the pin instruments the driver actions
    themselves.)"""
    # pyspark 4 splits the API: classic sessions return
    # pyspark.sql.classic.dataframe.DataFrame, which OVERRIDES the
    # abstract base's methods — patching the base would intercept
    # nothing (and pass vacuously)
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame

    from lol_data_collection_system_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 3) % 11) for i in range(30)], "id_a long, id_b long"
    )
    calls = {"collect": 0, "count": 0}
    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    monkeypatch.setattr(
        DataFrame,
        "collect",
        lambda self: (calls.__setitem__("collect", calls["collect"] + 1),
                      orig_collect(self))[1],
    )
    monkeypatch.setattr(
        DataFrame,
        "count",
        lambda self: (calls.__setitem__("count", calls["count"] + 1),
                      orig_count(self))[1],
    )
    for directed in (False, True):
        calls["collect"] = calls["count"] = 0
        ranks = pagerank(edges, iters=10, directed=directed)
        assert calls["collect"] == 0, (directed, calls)
        assert calls["count"] == 1, (directed, calls)
        assert ranks.columns == ["node", "rank"]


def test_triangle_stats_known_graph(spark):
    """K3 plus a pendant node: triangle corners have coeff 1.0 (their
    2 neighbors are connected... except the corner carrying the
    pendant), the pendant has degree 1 → coeff 0."""
    from lol_data_collection_system_spark.operators.graph import triangle_stats

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {r["node"]: r for r in triangle_stats(edges).collect()}
    assert {n: r["n_triangles"] for n, r in out.items()} == {
        1: 1, 2: 1, 3: 1, 4: 0,
    }
    assert out[1]["clustering_coeff"] == 1.0
    assert out[2]["clustering_coeff"] == 1.0
    # node 3 has degree 3 (1,2,4): one closed pair of three → 1/3
    assert out[3]["degree"] == 3
    assert abs(out[3]["clustering_coeff"] - round(1 / 3, 6)) < 1e-9
    assert out[4]["clustering_coeff"] == 0.0


def test_triangle_stats_direction_and_duplicate_invariance(spark):
    """Reversed / duplicated directed edges describe the SAME undirected
    graph and must not change any count."""
    from lol_data_collection_system_spark.operators.graph import triangle_stats

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    noisy = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 2), (1, 3), (3, 1), (1, 3)],
        "id_a long, id_b long",
    )
    a = sorted(tuple(r) for r in triangle_stats(base).collect())
    b = sorted(tuple(r) for r in triangle_stats(noisy).collect())
    assert a == b


def test_label_propagation_majority_ties_and_reach(spark):
    """Hard-label propagation twin: majority vote per round, ties to the
    smaller label, seeds immutable, unreached nodes NULL, reach bounded
    by iters hops."""
    from lol_data_collection_system_spark.operators.graph import (
        label_propagation,
    )

    # chain 1-2-3-4-5 plus hub 10 connected to two seeds with labels
    # 7 and 3 (one vote each -> tie -> smaller label 3 wins)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (20, 10), (30, 10)],
        ["id_a", "id_b"],
    )
    seeds = spark.createDataFrame(
        [(1, 7), (20, 7), (30, 3)], ["node", "label"]
    )
    got = {
        r.node: (r.label, r.src)
        for r in label_propagation(edges, seeds, iters=2).collect()
    }
    assert got[1] == (7, "seed")
    assert got[2] == (7, "propagated")   # 1 hop
    assert got[3] == (7, "propagated")   # 2 hops
    assert got[4][0] is None             # 3 hops > iters
    assert got[5][0] is None and got[5][1] is None
    assert got[10] == (3, "propagated")  # tie 7-vs-3 -> smaller label


def test_label_propagation_seed_never_flips(spark):
    from lol_data_collection_system_spark.operators.graph import (
        label_propagation,
    )

    # seed 1 (label 9) surrounded by three label-2 seeds: stays 9
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    seeds = spark.createDataFrame(
        [(1, 9), (2, 2), (3, 2), (4, 2)], ["node", "label"]
    )
    got = {
        r.node: (r.label, r.src)
        for r in label_propagation(edges, seeds, iters=3).collect()
    }
    assert got[1] == (9, "seed")
    assert got[2] == (2, "seed")


def test_random_walks_step_validity_and_determinism(spark):
    """Every consecutive (node, next) in a walk must be a graph edge;
    every node starts one walk; dead ends stop early; re-running (and
    repartitioning) gives identical walks."""
    from lol_data_collection_system_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (5, 5)], ["id_a", "id_b"]
    )
    sym = {(a, b) for a, b in [(1, 2), (2, 3), (3, 1), (4, 1), (5, 5)]}
    sym |= {(b, a) for a, b in sym}
    out = random_walks(edges, walk_len=3, salt="t").collect()
    walks = {}
    for r in out:
        walks.setdefault(r.walk_id, {})[r.step] = r.node
    assert set(walks) == {1, 2, 3, 4, 5}
    for wid, steps in walks.items():
        assert steps[0] == wid
        for s in range(1, max(steps) + 1):
            assert (steps[s - 1], steps[s]) in sym
    # node 5 only self-loops: its walk stays at 5
    assert all(n == 5 for n in walks[5].values())
    again = random_walks(
        spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 1), (5, 5)], ["id_a", "id_b"]
        ).repartition(7),
        walk_len=3,
        salt="t",
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
