"""Connected components over near-duplicate pairs — the cluster step of
corpus deduplication (pairs → components → one canonical doc per
component). The reference has no graph step (its dedup is per-row ORM
get-or-create); this is part of the LLM-training-pipeline surface the
engine adds on top.

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round every node takes the minimum label in its closed
neighborhood; converged when no label changes. Rounds = graph diameter,
and near-dup graphs are piles of tiny dense clusters (diameter 2-4 in
practice), so the loop runs 2-5 rounds of one shuffle-join + one
hash-aggregate each — the right shape for this workload at corpus scale.
(For adversarially long chains the round count grows with the diameter;
the two-phase star algorithms of Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC 2014, cut that to O(log n) rounds — same
join/agg building blocks, more of them per round. Not needed for
near-dup clustering.)

Scale notes
-----------
- Per round: one join of labels onto the symmetrized edge list (shuffle
  keyed by node id, partial-agg'd min) — no driver-side graph state;
  the only driver action is the convergence count.
- `localCheckpoint` after each round truncates lineage: without it the
  plan doubles per iteration and Catalyst analysis time explodes by
  round ~10. `eager=False` is NOT lazy on PySpark 4.1.2: the call runs
  the frame's stages before it returns, so each checkpoint costs jobs at
  construction (measured 1.34 s -> 1.09 s warm for the 6-round sf0.1
  loop when `eager=False` went in).
- Labels are monotonically non-increasing, so convergence is guaranteed
  and checkable by counting strict decreases (0 = fixed point).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Edge sets at or under this size run union-find on the driver (one
#: bounded limit+collect, ~16 B/edge → a few MB) instead of the
#: iterative label-propagation loop, whose per-round driver actions
#: dominate at small graph sizes. Larger edge sets keep the
#: distributed loop — the 100 TB path is unchanged.
CC_DRIVER_EDGE_BOUND = 200_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component_id) for every node that appears in `edges`;
    component_id = the minimum node id in the component.

    Edges are undirected (symmetrized internally); self-loops and
    duplicate edges are harmless. Raises if `max_iter` rounds don't
    reach the fixed point — near-dup graphs converge in single digits,
    so hitting the cap means the input isn't the expected workload.

    Bounded-graph fast path (r11, guide §1.2 — fewer sequential
    actions): for INTEGRAL or STRING node ids, the edge frame is pulled
    with ``limit(bound + 1)``; if it fits, exact union-find runs on the
    driver (component = min member id, identical by definition to the
    propagation fixed point — Python int comparison equals Spark's
    integral ordering, and Python str comparison is codepoint order,
    which equals Spark's UTF-8 binary string ordering) and the result
    returns as a local relation. One driver action replaces the
    seed-sum + per-round convergence actions. Edge sets past
    `CC_DRIVER_EDGE_BOUND` (read at call time; 0 disables the fast
    path) — the at-scale regime — fall through to the distributed loop
    unchanged."""
    from pyspark.sql.types import IntegralType, NumericType, StringType

    id_type = edges.schema[src].dataType
    if (
        CC_DRIVER_EDGE_BOUND
        and isinstance(id_type, (IntegralType, StringType))
        and isinstance(
            edges.schema[dst].dataType, (IntegralType, StringType)
        )
        and type(edges.schema[dst].dataType) is type(id_type)
    ):
        rows = (
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .limit(CC_DRIVER_EDGE_BOUND + 1)
            .collect()
        )
        has_null = any(r["u"] is None or r["v"] is None for r in rows)
        if len(rows) <= CC_DRIVER_EDGE_BOUND and not has_null:
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for r in rows:
                u, v = r["u"], r["v"]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    parent[max(ru, rv)] = min(ru, rv)
            out = [(node, find(node)) for node in parent]
            spark = edges.sparkSession
            from pyspark.sql.types import StructField, StructType

            schema = StructType(
                [
                    StructField("node", id_type, True),
                    StructField("component_id", id_type, True),
                ]
            )
            return spark.createDataFrame(out, schema)

    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Seed with the closed-neighborhood min — identical to running one
    # propagation round over identity labels, but as a single aggregate:
    # saves one full join+agg+checkpoint round on every input.
    labels = (
        sym.groupBy(F.col("u").alias("node"))
        .agg(F.least(F.min("v"), F.first("u")).alias("comp"))
        .localCheckpoint(eager=False)
    )

    # Labels only ever decrease, so for numeric ids the fixed point is
    # detectable from sum(comp) alone — one tiny aggregate per round
    # instead of an old-vs-new join. Non-numeric ids fall back to the
    # join-based strict-decrease count.
    numeric = isinstance(labels.schema["comp"].dataType, NumericType)
    # decimal(38,0) sum: exact for any id width (a bigint sum of 60-bit
    # ids overflows — wraps silently or errors under ANSI)
    _sum = lambda df: df.agg(  # noqa: E731
        F.sum(F.col("comp").cast("decimal(38,0)"))
    ).collect()[0][0]
    prev_sum = _sum(labels) if numeric else None

    def one_round(cur: DataFrame) -> DataFrame:
        neighbor_min = (
            sym.join(cur, sym["v"] == cur["node"])
            .select(F.col("u").alias("node"), F.col("comp"))
        )
        return (
            cur.union(neighbor_min)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )

    # TWO propagation rounds per convergence check (r11): each check is
    # a driver-blocking action, and at small per-round cost the action
    # count dominates the loop (guide §1.2 — fewer sequential jobs).
    # Labels only ever DECREASE, so the doubled check stays exact: the
    # sum (or the strict-decrease count) is unchanged across a double
    # round iff neither inner round changed a label, and extra rounds
    # past the fixed point are no-ops — the returned labels are
    # identical to the check-every-round loop's.
    rounds_done = 0
    while rounds_done < max_iter:
        new_labels = one_round(labels)
        rounds_done += 1
        if rounds_done < max_iter:
            new_labels = one_round(new_labels)
            rounds_done += 1
        if numeric:
            new_sum = _sum(new_labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") < F.col("o.comp"))
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            return labels.select(
                F.col("node"), F.col("comp").alias("component_id")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    docs: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full-corpus (doc_id, component_id) map: docs touched by an edge get
    their component's min id, untouched docs are their own singleton
    component. This is the table a dedup pass filters on
    (`component_id = doc_id` keeps one canonical doc per cluster)."""
    comp = connected_components(edges, src, dst)
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "doc_id").alias("component_id"),
        )
    )


def quality_canonicals(
    docs: DataFrame,
    labels: DataFrame,
    quality_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection per near-dup component: keep the
    HIGHEST-quality member (ties → smallest id), not the smallest id —
    the policy real corpus prep uses (RefinedWeb keeps the longest
    member of a dup cluster; any monotone quality score slots in).

    `labels` is `dedup_clusters`' (doc_id, component_id) map. Returns
    one row per component: (component_id, canonical_id, n_members,
    canonical_quality) — filter `n_members > 1` for the clusters where
    the policy actually changed anything.

    Generic over id type (numeric, string, binary ids all work): pass 1
    partial-aggs (max quality, member count) per component; pass 2 keeps
    only max-quality members and min()s their ids. Both aggregations and
    the rejoin are keyed by component_id, so the second pass reuses the
    first's shuffle partitioning instead of adding a differently-keyed
    exchange.
    """
    joined = labels.join(
        docs.select(F.col(id_col), F.col(quality_col).alias("_q")), id_col
    )
    per_comp = joined.groupBy("component_id").agg(
        F.max("_q").alias("canonical_quality"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return (
        joined.join(per_comp, "component_id")
        # null-safe: a component whose every quality is NULL still keeps
        # a canonical (min id) instead of vanishing from the output.
        .where(F.col("_q").eqNullSafe(F.col("canonical_quality")))
        .groupBy("component_id", "n_members", "canonical_quality")
        .agg(F.min(id_col).alias("canonical_id"))
        .select(
            "component_id", "canonical_id", "n_members", "canonical_quality"
        )
    )


def soft_dedup_weights(
    labels: DataFrame,
    id_col: str = "doc_id",
    component_col: str = "component_id",
) -> DataFrame:
    """SoftDeDup-style loss reweighting (He et al. 2024, "SoftDedup":
    keep every document but down-weight duplicated CONTENT so the
    training loss sees each near-dup cluster roughly once): one row per
    labeled document — ``(id, component_id, n_members, weight)`` with
    ``weight = 1 / n_members`` rounded to 6 dp. Unique documents keep
    weight 1.0; a 10-copy cluster contributes total weight ~1 instead
    of 10. The soft alternative to `quality_canonicals`' hard drop —
    used when duplicated text still carries signal (popularity prior)
    but must not dominate the mixture.

    Plan: one keyed count over the (id, component) label frame + a
    component-keyed rejoin — both partial-agg'd, no window, no driver
    state; at 100 TB this is two shuffles on the component key."""
    sizes = labels.groupBy(component_col).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        labels.select(F.col(id_col), F.col(component_col))
        .join(sizes, component_col)
        .select(
            F.col(id_col),
            F.col(component_col),
            F.col("n_members").cast("bigint").alias("n_members"),
            F.round(F.lit(1.0) / F.col("n_members"), 6).alias("weight"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    damping: float = 0.85,
    iters: int = 10,
    directed: bool = False,
) -> DataFrame:
    """Deterministic PageRank over a doc-similarity graph (kNN edges,
    near-dup pairs): (node, rank), ranks summing to 1. Centrality over
    the `knn_graph` edge list is the graph half of representativeness-
    based coreset selection — a doc its neighborhood keeps pointing at
    is a cluster exemplar; combined with `quality_canonicals` it picks
    "keep" docs by structure rather than by score alone.

    Fixed `iters` power-iteration rounds (no convergence action — rank
    deltas after 10 rounds are far below any selection threshold at
    damping 0.85). Per round: one join of ranks onto the edge list
    (keyed by node) and one DECIMAL(38,12)-summed aggregate per
    destination. Every per-edge contribution is quantized onto a 1e-12
    grid (as exact BIGINT micro-units — see the inline comment for why
    integers beat a DECIMAL sum cross-engine), so the sum is exact and
    order-free: ranks are bit-identical across partitionings (pinned in
    tests) AND expressible verbatim in the DuckDB oracle
    (`plans/corpus_queries.py` unrolls the rounds as CTEs, the same
    technique as the Lloyd k-means oracle). Ranks themselves stay
    FULL-PRECISION doubles — the affine update is plain IEEE arithmetic
    on inputs both engines hold bit-identically, so it needs no
    rounding; quantizing ranks onto the same 1e-12 grid the round()
    uses was measured to put ~8% of values exactly on engine-dependent
    rounding boundaries, while rounding the generic-valued
    contributions collides with a boundary with probability ~1e-7.
    The 1e-12 contribution quantization is damped geometrically,
    keeping ranks within ~1e-11 of the unquantized power iteration.
    Dangling mass (nodes without out-edges redistribute uniformly) is
    provably zero when `directed=False` — symmetrization gives every
    node an out-edge — so the undirected path skips it entirely; the
    directed path folds the dangling sum into the SAME round as a
    broadcast 1-row aggregate joined into the rank update, so either
    way a round is ONE job, not a dangling-collect job plus a rank job.
    Lineage is truncated per round with a localCheckpoint (which runs
    jobs when called), same loop discipline as `connected_components`.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not directed:
        e = e.union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
    e = e.distinct().localCheckpoint(eager=False)

    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        # empty edge frame (clean corpus / high threshold): empty ranks,
        # not a divide-by-zero at plan time
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        )
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    ranks = nodes.join(outdeg, "node", "left").select(
        "node",
        "outdeg",
        (F.lit(1.0) / F.lit(float(n))).alias("rank"),
    ).localCheckpoint(eager=False)

    base = (1.0 - damping) / n
    # Undirected graphs have no dangling nodes by construction (every
    # node in `nodes` appears in the symmetrized edge list as u or v,
    # hence as u) — so only the directed path carries the dangling term,
    # as a broadcast 1-row aggregate inside the round's own dataflow.
    has_dangling = directed
    for _ in range(iters):
        # Contributions quantized onto the 1e-12 grid as INTEGER
        # micro-units: the bigint sum is exact/order-free like a decimal
        # sum, but converts back to double with ONE correctly-rounded
        # division in every engine (a DECIMAL(30,12)->DOUBLE cast is
        # int128->double THEN /1e12 in DuckDB — two roundings, measured
        # 1-ulp off Java's BigDecimal.doubleValue on ~25% of sums).
        contrib = (
            e.join(ranks, e["u"] == ranks["node"])
            .select(
                F.col("v").alias("node"),
                F.round(F.col("rank") / F.col("outdeg") * F.lit(1.0e12))
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        if has_dangling:
            # ranks of sink nodes spread uniformly; 1-row frame broadcast
            # into every partition — no driver collect, one job per round
            dangling_share = ranks.filter(F.col("outdeg").isNull()).agg(
                F.round(
                    F.coalesce(
                        F.sum(F.col("rank").cast("decimal(30,12)")),
                        F.lit(0).cast("decimal(30,12)"),
                    ).cast("double")
                    / F.lit(float(n)),
                    12,
                ).alias("_dangling_share")
            )
            extra = F.lit(damping) * F.col("_dangling_share")
        else:
            dangling_share = None
            extra = F.lit(0.0)
        updated = ranks.select("node", "outdeg").join(contrib, "node", "left")
        if dangling_share is not None:
            updated = updated.crossJoin(F.broadcast(dangling_share))
        ranks = (
            updated.select(
                "node",
                "outdeg",
                (
                    F.lit(base)
                    + extra
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0)).cast("double")
                        / F.lit(1.0e12)
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("rank").alias("rank"))


def triangle_stats(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph: (node, degree, n_triangles, clustering_coeff).

    The neighborhood-density companion to `pagerank` (global
    centrality) and `connected_components` (reachability): a node whose
    neighbors also neighbor each other sits inside a tight semantic
    cluster (redundant — a dedup/coreset candidate), while a
    low-coefficient node bridges regions (informative — keep it).

    Plan: canonical orientation (u < v, each undirected edge once)
    kills the 3!-fold duplicate enumeration, then triangles are ONE
    wedge self-join closed by ONE edge join — the standard distributed
    triangle plan. Pair volume is Σ deg(v)²-bounded on the oriented
    frame; on a kNN graph degree ≤ 2k, so wedges are O(nodes·k²),
    never all-pairs. Every join is an equi-join on edge keys (shuffle
    or broadcast as the optimizer sizes them).
    """
    u, v = F.col(src_col), F.col(dst_col)
    und = (
        edges.select(u.alias("u"), v.alias("v"))
        .union(edges.select(v.alias("u"), u.alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    o = und.filter(F.col("u") < F.col("v"))
    a = o.select(F.col("u").alias("x"), F.col("v").alias("y"))
    b = o.select(F.col("u").alias("y"), F.col("v").alias("z"))
    wedge = a.join(b, "y")
    c = o.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = wedge.join(c, ["x", "z"])
    corners = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
    )
    ntri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))
    out = deg.withColumnRenamed("u", "node").join(ntri, "node", "left")
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    d = F.col("degree")
    coeff = F.when(
        d >= 2,
        F.round(
            F.lit(2.0) * t / (d * (d - F.lit(1.0))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return out.select(
        "node",
        d.cast("bigint").alias("degree"),
        t.alias("n_triangles"),
        coeff.alias("clustering_coeff"),
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation over an undirected graph
    (Zhu & Ghahramani 2002's hard-label variant): seed nodes keep their
    labels; every other node takes, each synchronous round, the
    MAJORITY label of its labeled neighbors (integer counts; ties break
    toward the smaller label — deterministic across partitionings and
    engines). Nodes no labeled neighbor has reached yet stay NULL; on a
    kNN similarity graph this auto-labels the unlabeled corpus from a
    small labeled subset — the cheap pseudo-labeling pass before
    training a quality/domain classifier.

    Scale shape (the `pagerank`/`connected_components` discipline):
    per round ONE edge⋈label join + ONE (node, label)-keyed count agg +
    ONE argmax struct-max agg — everything keyed and partial-agg'd;
    state is (node, label) pairs only; rounds are localCheckpoint'd
    (jobs at call time) so the plan stays linear in `iters`. Labels
    propagate at one hop per round (`iters` bounds the reach radius,
    matching the CC short-diameter argument for near-dup graphs).

    Returns (node, label, src) with src = 'seed' | 'propagated' and
    NULL-labeled rows kept as src = NULL (unreached).
    """
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .distinct()
    )
    seed = seeds.select(
        F.col(node_col).alias("n"),
        F.col(label_col).cast("bigint").alias("seed_label"),
    )
    # `sym` and `universe` feed EVERY round: without truncating
    # their lineage each round's plan re-derives the upstream edge
    # construction (for kNN edges, the bucketed self-join — the
    # expensive part) once per round. Bench: 6.9 s → this is the
    # difference between k and 2k+1 edge builds.
    sym = sym.localCheckpoint(eager=False)
    universe = (
        sym.select(F.col("u").alias("n"))
        .unionByName(seed.select("n"))
        .distinct()
        .join(seed, "n", "left")
        .localCheckpoint(eager=False)
    )
    cur = universe.select(
        "n", "seed_label", F.col("seed_label").alias("cur_label")
    )
    for _ in range(iters):
        labeled = cur.filter(F.col("cur_label").isNotNull()).select(
            F.col("n").alias("u"), F.col("cur_label").alias("nbr_label")
        )
        votes = (
            sym.join(labeled, "u")
            .groupBy(F.col("v").alias("n"), "nbr_label")
            .agg(F.count(F.lit(1)).alias("n_votes"))
        )
        best = votes.groupBy("n").agg(
            F.max(
                F.struct(
                    F.col("n_votes"), (-F.col("nbr_label")).alias("neg"),
                    F.col("nbr_label"),
                )
            )["nbr_label"].alias("maj_label")
        )
        cur = (
            universe.join(best, "n", "left")
            .select(
                "n",
                "seed_label",
                F.coalesce(F.col("seed_label"), F.col("maj_label")).alias(
                    "cur_label"
                ),
            )
            .localCheckpoint(eager=False)
        )
    return cur.select(
        F.col("n").alias(node_col),
        F.col("cur_label").alias(label_col),
        F.when(F.col("seed_label").isNotNull(), F.lit("seed"))
        .when(F.col("cur_label").isNotNull(), F.lit("propagated"))
        .alias("src"),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    salt: str = "",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Deterministic 'random'-walk sampling over an undirected graph —
    the DeepWalk/node2vec corpus generator: one walk starts at every
    node that appears in the symmetrized edge list (isolated /
    degree-0 nodes contribute no edges and therefore get no walk —
    pre-union a self-loop-free nodes frame into `edges` if every node
    must emit a length-0 walk) and takes `walk_len` steps; at each
    step the walker moves to
    the neighbor minimizing ``md5(salt, walk_id, step, neighbor)``
    (the repo's seeded-hash replacement for a random draw — uniform
    over neighbors, reproducible across runs, partitionings, and
    engines). Dead-end nodes (no neighbors) end their walk early.

    Per step: ONE frontier⋈edges equi-join + ONE per-walk struct-min
    aggregate — frontier stays one row per walk, so step cost is
    O(edges touched), state O(nodes). Steps are localCheckpoint'd, with
    jobs at call time (the `pagerank` discipline: the plan would
    otherwise double per step, and every step reuses the edge frame).

    Returns (walk_id, step, node): step 0 is the start node.
    """
    sym = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = sym.select(F.col("u").alias("walk_id")).distinct().select(
        "walk_id", F.col("walk_id").alias("cur")
    )
    out = frontier.select(
        "walk_id", F.lit(0).cast("int").alias("step"), F.col("cur").alias("node")
    )
    for step in range(1, walk_len + 1):
        draw = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.lit(salt),
                        F.col("walk_id").cast("string"),
                        F.lit(str(step)),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        frontier = (
            frontier.join(sym, frontier.cur == sym.u)
            .select("walk_id", "v", draw.alias("h"))
            .groupBy("walk_id")
            .agg(F.min(F.struct("h", "v")).alias("s"))
            .select("walk_id", F.col("s.v").alias("cur"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            frontier.select(
                "walk_id",
                F.lit(step).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    return out
