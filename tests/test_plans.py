"""Plan-stability checks (SURVEY.md §7 Phase 7): the physical plans must
keep the properties the 100 TB design depends on — filter pushdown to the
parquet scan, column pruning, broadcast joins for dims, partial
aggregation, and whole-stage codegen. A refactor that silently loses one
of these passes value checks but regresses at scale; these tests pin the
plan shape."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = entry_mod.queries()[name](spark, SF_DIR)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "order_flags")
    assert "PushedFilters:" in plan
    # the disjunction is pushed, not evaluated post-scan only
    assert "Or(EqualTo(o_orderpriority,1-URGENT)" in plan.replace("\n", "")


def test_point_lookup_pushes_equality(spark):
    plan = _plan(spark, "point_lookup")
    assert "EqualTo(l_orderkey,1)" in plan


def test_column_pruning(spark):
    plan = _plan(spark, "promo_parts_by_brand")
    # scan reads only the two referenced columns
    assert "p_brand" in plan and "p_type" in plan
    assert "p_retailprice" not in plan
    assert "p_comment" not in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "region_priority_pivot")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never sort-merge


def test_partial_aggregation(spark):
    plan = _plan(spark, "pricing_summary")
    # map-side combine: HashAggregate appears in partial + final modes
    assert plan.count("HashAggregate") >= 2
    # whole-stage codegen covers the agg pipeline (codegen-mode explain,
    # since AQE's pre-execution formatted plan omits codegen annotations)
    codegen = _plan(spark, "pricing_summary", "codegen")
    assert "WholeStageCodegen" in codegen


def test_interval_join_keeps_equality_key(spark):
    """The ±15 s self-join must join on the user equality key (hash
    join / shuffle by key), never degenerate into a pure cross join with
    a range predicate."""
    plan = _plan(spark, "events_near_errors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_single_shuffle_window(spark):
    """As-of join = union + window (one shuffle), not a range join that
    explodes candidate pairs."""
    plan = _plan(spark, "purchase_last_click")
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_session_window_native(spark):
    plan = _plan(spark, "session_window_stats")
    assert "session_window" in plan.lower()


def test_minhash_partial_aggregation(spark):
    """MinHash signatures must partial-aggregate (map-side min) so the
    shuffle carries n_hashes longs per doc, not raw shingles."""
    plan = _plan(spark, "minhash_lsh_pairs")
    assert plan.count("HashAggregate") >= 2


def test_media_near_dup_joins_on_bands(spark):
    """The perceptual near-dup candidate join must key on
    (band_idx, band_val) — a banded bucket join over DISTINCT hashes,
    never an all-pairs product — and the band split must stay JVM-side
    (shift/mask expressions, no extra Python stage). Pinned on the
    candidate-edge stage directly: the registered query's final plan
    hides it behind connected_components' checkpoints."""
    from lol_data_collection_system_spark.operators import dedup as dd
    from lol_data_collection_system_spark.operators import multimodal as mm
    from lol_data_collection_system_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    sigs = mm.phash_images(
        mm.media_from_documents(docs).filter(F.col("modality") == "image")
    )
    reps = sigs.groupBy("phash").agg(F.min("media_id").alias("rep_id"))
    edges = dd.hamming_candidate_edges(reps, "rep_id", "phash")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    flat = edges._jdf.queryExecution().explainString(jmode).replace("\n", " ")
    assert "band_idx" in flat and "band_val" in flat
    assert "CartesianProduct" not in flat
    assert "shiftrightunsigned" in flat.lower()


def test_registry_contract_is_pinned():
    """The behaviour contract, pinned without Spark: the md5 of the
    sorted query names and of the sorted ``(name, SQL)`` pairs of the
    SQL-text oracles (``_ORACLES``, every oracle but the two fixture
    ones). A deliberate oracle edit or a new query updates these pins,
    with a CHANGES.md line that says which and why."""

    def digest(value) -> str:
        return hashlib.md5(json.dumps(value).encode()).hexdigest()

    assert digest(sorted(entry_mod.queries())) == "e47bd7bf8e734d304bf6f7351a3f8495"
    assert digest(sorted(entry_mod._ORACLES.items())) == (
        "0b7dbf26b065b982ed9c43ea8fc66af6"
    )


def test_entry_queries_all_plannable(spark):
    """Every declared query must at least produce an optimized plan
    (catches analysis regressions without executing)."""
    qs = entry_mod.queries()
    for name, fn in qs.items():
        df = fn(spark, SF_DIR)
        assert df.schema is not None and len(df.schema.fields) > 0, name


def test_wide_feature_matrix_plans_as_single_projection(spark):
    """U2 width hazard (§4 item 3): hundreds of one-hot columns must form
    ONE Project node via a single select — a withColumn loop would build
    a deep plan that blows analysis time at 10^5 columns."""
    import time

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.features import feature_matrix
    from lol_data_collection_system_spark.sources import load_table

    orders = load_table(spark, SF_DIR, "orders")
    # synthesize a 600-value categorical space (3 cols × 200 values)
    cats = {
        "o_orderstatus": [f"V{i}" for i in range(200)],
        "o_orderpriority": [f"P{i}" for i in range(200)],
        "o_orderdate_s": [f"D{i}" for i in range(200)],
    }
    wide_src = orders.withColumn("o_orderdate_s", F.col("o_orderdate").cast("string"))
    t0 = time.perf_counter()
    fm = feature_matrix(wide_src, ["o_orderkey"], cats, [])
    n_fields = len(fm.schema.fields)  # forces analysis
    elapsed = time.perf_counter() - t0
    assert n_fields == 601
    assert elapsed < 20.0, f"analysis took {elapsed:.1f}s — plan too deep"
    # plan shape: one Project over the scan, not 600 nested Projects
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = fm._jdf.queryExecution().explainString(jmode)
    # formatted explain names each node twice (tree + detail): ≤3 nodes
    assert plan.count("Project") <= 6


@pytest.mark.parametrize("qname", ["embedding_topk", "embedding_ann_topk"])
def test_topk_is_take_ordered_not_global_window(spark, qname):
    """Corpus-wide top-k must compile to TakeOrderedAndProject (parallel
    per-partition local top-k, k-row merge) — never a global Window.orderBy,
    which funnels EVERY scored row through one partition. The rank window
    is allowed only above the limit, where it sees at most k rows."""
    plan = _plan(spark, qname)
    tree = plan.split("\n\n")[0]
    take = tree.find("TakeOrderedAndProject")
    assert take != -1
    # rank window rides directly on the (already single-partition, ≤k-row)
    # ordered-take output — above it in the top-down tree print
    win = tree.find("Window")
    assert win != -1 and win < take
    # and NO shuffle-to-one-partition anywhere: a global rank window over
    # the scored corpus would reintroduce `Exchange SinglePartition`
    assert "SinglePartition" not in plan


def test_ivf_topk_plan_shape(spark):
    """IVF variant: corpus assignment must be map-side (broadcast centroid
    array, no corpus shuffle) and the final top-k a TakeOrderedAndProject.
    The only single-partition exchange allowed is the n_centroids-row
    aggregate under its BroadcastExchange."""
    plan = _plan(spark, "embedding_ivf_topk")
    tree = plan.split("\n\n")[0]
    take = tree.find("TakeOrderedAndProject")
    win = tree.find("Window")
    assert take != -1
    assert win != -1 and win < take  # rank window above the ≤k-row take
    # corpus side never sort-merges or cartesians
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_shingles_explode_before_window(spark):
    """Shingle generation must be the explode + lead() formulation: one
    Generate (posexplode) feeding ONE exchange, with the k-gram assembly
    in codegen'd Window/Project operators. The per-doc array formulation
    (transform over sequence + slice) re-evaluates the tokenization tree
    per element inside interpreted higher-order functions — ~10x the
    suite's dedup cost at sf0.1 (see BASELINE.md)."""
    from lol_data_collection_system_spark.operators.dedup import shingles
    from lol_data_collection_system_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    df = shingles(docs, "doc_id", "text", 3)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "Generate" in plan  # posexplode of tokens
    assert "Window" in plan  # lead()-based k-gram assembly
    # no interpreted higher-order shingle assembly left in the plan
    assert "transform(" not in plan
    # distinct partial-aggregates map-side
    assert plan.count("HashAggregate") >= 2


def test_sampling_is_pure_projection(spark):
    """Deterministic sampling/splitting must stay shuffle-free: one scan,
    one codegen'd filter/projection, no Exchange of any kind — the
    property that makes it free at 100 TB."""
    for name in ("corpus_train_split", "stratified_doc_sample"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name


def test_pack_sequences_no_single_partition(spark):
    """The packing offsets must come from the two-phase distributed
    prefix sum: range partition + per-partition window + broadcast
    offsets — never a global single-partition window. The default path
    pins phase 1 behind persist() (one execution shared by the offsets
    collect and the output pass; r12 — was a lazy localCheckpoint, which
    additionally paid a physical-planning pass per construction), so the
    range-partitioner property is asserted on the persist-free
    introspection plan."""
    from lol_data_collection_system_spark.operators import packing
    from lol_data_collection_system_spark.sources.tables import load_table

    plan = _plan(spark, "pack_sequences")
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # the tiny offsets table
    # phase 1 reused from the cache, not recomputed per consumer
    assert "InMemoryTableScan" in plan

    docs = load_table(spark, SF_DIR, "documents")
    raw = packing.pack_sequences(docs, checkpoint=False)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    raw_plan = raw._jdf.queryExecution().explainString(jmode)
    assert "SinglePartition" not in raw_plan
    assert "rangepartitioning" in raw_plan.lower()  # sampled range partitioner


def test_media_funnel_shard_prefix_sum_not_single_partition(spark):
    """The media-funnel shard packer must run through the shared
    two-phase prefix sum (range partition → per-partition window →
    broadcast offsets), never a partition-less global window over the
    canonical set (VERDICT r7 #2: 100 TB media can carry 10⁸+
    canonicals). Phase 1 is pinned behind persist() (r12 — was a lazy
    localCheckpoint), so the pin is: no partition-less window spec
    anywhere, and the cache reuse + offsets broadcast present."""
    plan = _plan(spark, "media_funnel")
    assert "windowspecdefinition(canonical_id" not in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastExchange" in plan  # the tiny offsets table


def test_contamination_no_cartesian(spark):
    """The contamination join must stay keyed on the shingle (bounded by
    benchmark-side shingles), never a cartesian/BNLJ of the splits."""
    plan = _plan(spark, "train_test_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_topk_is_take_ordered(spark):
    """Vocab heavy hitters: the k-cut must be TakeOrderedAndProject (local
    top-k per partition, k-row merge), never a global sort or a
    single-partition rank window over every distinct term."""
    plan = _plan(spark, "vocab_top_terms")
    tree = plan.split("\n\n")[0]
    assert tree.find("TakeOrderedAndProject") != -1
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan.split("TakeOrderedAndProject")[0]


def test_repetition_counts_partial_agg(spark):
    """Repetition signals: both aggregations (gram counts, per-doc rollup)
    must have map-side partial phases, and gram assembly must be the
    explode+lead shape (no interpreted HOF re-evaluation per element)."""
    plan = _plan(spark, "doc_repetition_signals")
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    assert "transform(" not in plan  # grams built from lead cols, not HOFs


def test_bm25_topk_is_take_ordered(spark):
    """BM25's k-cut must be TakeOrderedAndProject; corpus stats arrive as
    broadcast 1-row frames, never a shuffled join or a global sort."""
    plan = _plan(spark, "bm25_search")
    tree = plan.split("\n\n")[0]
    assert tree.find("TakeOrderedAndProject") != -1
    assert "rangepartitioning" not in plan.lower()


def test_tfidf_window_is_per_doc_not_global(spark):
    """TF-IDF ranks inside each document's partition — the plan must show
    a Window keyed by doc_id, and no single-partition exchange."""
    plan = _plan(spark, "doc_tfidf_top_terms")
    assert "windowspecdefinition(doc_id" in plan  # rank window keyed by doc
    # the only single-partition exchange is the 1-row corpus-count
    # aggregate under its BroadcastExchange (same allowance as IVF)
    assert plan.count("Exchange SinglePartition") <= 1
    assert "rangepartitioning" not in plan.lower()


def test_weighted_sample_is_take_ordered(spark):
    plan = _plan(spark, "weighted_doc_sample")
    assert "TakeOrderedAndProject" in plan.split("\n\n")[0]
    assert "rangepartitioning" not in plan.lower()


def test_frequent_terms_candidates_broadcast(spark):
    """Pass-2 recount joins the tiny candidate set by BROADCAST — the
    corpus-side explode must never shuffle for the join."""
    plan = _plan(spark, "frequent_terms")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cluster_stats_centroids_broadcast(spark):
    """Centroid join back onto members must broadcast (labels << members),
    and both aggregations must partial-combine."""
    plan = _plan(spark, "embedding_cluster_stats")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 4


def test_doc_chunks_map_only(spark):
    """Chunking must stay a shuffle-free fan-out: scan → generate →
    project, no Exchange anywhere (chunk boundaries never cross docs)."""
    plan = _plan(spark, "doc_chunks")
    assert "Exchange" not in plan
    assert "Generate" in plan  # posexplode fan-out present


def test_embedding_quantize_map_only(spark):
    plan = _plan(spark, "embedding_quantize")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # no Python UDF in the hot path


def test_kmeans_assign_broadcasts_centroids(spark):
    """The Lloyd rounds run as small eager jobs and the final centroid
    set is a literal array inside the assignment expression, so the
    returned frame is a map-only Project over the parquet Scan: no
    Exchange and no join of any kind (the corpus is never shuffled or
    joined against a centroid frame)."""
    from lol_data_collection_system_spark.operators.similarity import kmeans_assign
    from lol_data_collection_system_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = kmeans_assign(emb, k=4, iters=2)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "Scan parquet" in plan
    assert "Project" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_temperature_mix_no_corpus_shuffle(spark):
    """The mixture sample must decide per-row via broadcast rates: the
    only Exchanges belong to the tiny per-group aggregates, and the
    corpus side joins by BroadcastHashJoin, never sort-merge."""
    plan = _plan(spark, "temperature_mix_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_near_dup_no_cartesian(spark):
    """Pair generation must stay keyed by cluster id (an equi-join),
    never a cartesian/BNLJ over the corpus pair space. (The 1-row
    centroid broadcast inside each Lloyd round is lineage-truncated by
    localCheckpoint, so any BNLJ in this plan would be the pair join.)"""
    plan = _plan(spark, "semantic_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_doc_lm_scores_partial_agg(spark):
    """LM rollup + per-doc scoring must map-side combine (two-level
    HashAggregate) and join the LM by term hash, not broadcast an
    unbounded vocab... the tiny 1-row total is the only broadcast."""
    plan = _plan(spark, "doc_lm_scores")
    assert plan.count("HashAggregate") >= 4
    assert "BatchEvalPython" not in plan


def test_dsir_sample_is_take_ordered(spark):
    """The Gumbel top-k selection must be TakeOrderedAndProject
    (per-partition local top-k, k-row merge) — never a global window
    funneling every weighted row through one partition."""
    plan = _plan(spark, "dsir_sample")
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_broadcasts_word_table(spark):
    """The Bloom word table (≤ m/32 rows) must reach the probe side as a
    broadcast — the probe must never shuffle candidates against it."""
    plan = _plan(spark, "bloom_blocklist_confusion")
    assert "BroadcastHashJoin" in plan


def test_rp_topk_is_take_ordered(spark):
    plan = _plan(spark, "embedding_rp_topk")
    assert "TakeOrderedAndProject" in plan


def test_bloom_probe_has_no_shuffle(spark):
    """The probe path must be k BroadcastHashJoins with zero shuffle
    Exchanges — the property that makes the same operator legal in a
    stream-static join and scan-speed in batch. (The word-table BUILD
    has its one bounded groupBy shuffle, but it is checkpointed so it
    appears at most once, not once per hash.)"""
    import re

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators import bloom as bloom_ops

    keys = spark.range(100).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    filt = bloom_ops.build_bloom(keys, "k", 1 << 12, 4)
    probed = bloom_ops.might_contain(keys, filt, "k", 1 << 12, 4)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = probed._jdf.queryExecution().explainString(jmode)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 4
    # every Exchange is a BroadcastExchange; no hashpartitioning shuffle
    # (the word-table build's own groupBy hides behind the checkpoint)
    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles == 0, f"probe path shuffles: {shuffles}\n{plan}"


def test_pq_topk_is_map_side_plus_take_ordered(spark):
    """PQ scoring must be map-only (codebook broadcast, code argmax and
    ADC lookup fused in one projection — no join/shuffle on the scan
    side) with the TakeOrderedAndProject reduction."""
    plan = _plan(spark, "embedding_pq_topk")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_salted_skew_join_spreads_hot_key(spark):
    """Skew pin: under a hot-key fixture the salted join (a) keys the
    shuffle on (k, _salt) — visible in the physical plan — and (b)
    actually spreads the hot key's rows across multiple reducer groups,
    shrinking the max per-group row count by ~n_salts vs the unsalted
    join's single crushed reducer."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.joins import (
        salted_skew_join,
    )

    n_salts = 8
    # 20k rows, 90% on one hot key, spread over 16 input partitions
    big = (
        spark.range(0, 20_000, 1, 16)
        .select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
    )
    small = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("w")
    )

    joined = salted_skew_join(big, small, "k", n_salts=n_salts)
    plan = joined._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # the join (and therefore its shuffle) keys on the salt too
    assert "_salt" in plan

    # empirical spread: reducer-group sizes keyed the way each join
    # shuffles. Unsalted: one group holds all 18k hot rows; salted: the
    # hot key splits across n_salts groups.
    unsalted_max = (
        big.groupBy("k").count().agg(F.max("count")).collect()[0][0]
    )
    salted_max = (
        big.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(n_salts))
        )
        .groupBy("k", "_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert unsalted_max >= 18_000
    assert salted_max * (n_salts - 1) < unsalted_max  # real spread, not 1 group

    # and value parity with the plain join (salting is physical only)
    plain = big.join(small, "k").groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    salted_agg = joined.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted_agg.collect())
    )


def test_repeated_substring_spans_no_cartesian_partial_agg(spark):
    """Cross-doc substring dedup: span counting must partial-agg (map-side
    combine on the window string) and the hit join must be an equi-join,
    never a cartesian/nested-loop product."""
    plan = _plan(spark, "repeated_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_pii_ops_are_map_only(spark):
    """PII scan/redaction is pure column work: the per-doc query has no
    Exchange (scan → project → filter), no Python UDF; the per-source
    report's only shuffle is the final partial-agg'd groupBy."""
    plan = _plan(spark, "pii_redacted_docs")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    report = _plan(spark, "pii_scan")
    # formatted mode prints each node twice (tree + details) — count the
    # tree occurrence only
    assert report.count("Exchange (") == 1
    assert report.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in report


def test_knn_graph_windowgrouplimit_before_exchange(spark):
    """The per-source top-k must run as WindowGroupLimit with a Partial
    pass BEFORE the shuffle (per-partition k rows survive, not the whole
    bucket pair space), and the bucket self-join must be an equi-join.
    Pinned on the operator directly: the registered query now serves the
    S15 parquet materialization, whose plan is just the scan."""
    from lol_data_collection_system_spark.operators import similarity as sim
    from lol_data_collection_system_spark.plans.corpus_queries import (
        ANN_BITS,
        KNN_K,
    )
    from lol_data_collection_system_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    df = sim.knn_graph(emb, KNN_K, ANN_BITS)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_cap_windowgrouplimit(spark):
    """The per-source cap must run as WindowGroupLimit (per-partition
    top-k before the shuffle), never a full per-group sort."""
    plan = _plan(spark, "source_capped_docs")
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan


def test_classifier_gradient_partial_agg(spark):
    """One training round = one map-side-combined aggregation: partial +
    final HashAggregate over the feature projection, no Python eval, no
    extra Exchange beyond the single agg shuffle."""
    from lol_data_collection_system_spark.operators import classifier as clf
    from lol_data_collection_system_spark.plans import classifier_queries as cq

    feats = cq.doc_features(spark, SF_DIR)
    resid = clf.rational_sigmoid(
        clf.margin([0.0] * 5, list(cq.CLF_FEATURES))
    ) - F.col("y").cast("double")
    agg = feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(resid.cast("decimal(38,10)")).alias("g0"),
    )
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = agg._jdf.queryExecution().explainString(jmode)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange (") == 1


def test_containment_pairs_no_cartesian(spark):
    """Candidate generation must stay keyed on the shingle (equi-join on
    the capped shingle space), never an all-pairs product."""
    plan = _plan(spark, "containment_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_shard_manifest_partial_agg_and_broadcast_total(spark):
    """Shard rollup partial-aggregates map-side (the md5 shard id is
    computed in the map stage, so combine happens before the exchange);
    the global token total joins back as a broadcast of a 1-row
    aggregate, never re-shuffling the shard rows."""
    plan = _plan(spark, "shard_manifest")
    assert plan.count("HashAggregate") >= 4  # per-shard partial+final, total partial+final
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_incremental_dedup_joins_are_keyed(spark):
    """Every join in the delta-vs-corpus pipeline is keyed (fp, shingle,
    band hash, doc id) — no cartesian anywhere, no Python evaluation."""
    plan = _plan(spark, "incremental_dedup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bpe_training_partial_agg_and_take_ordered(spark):
    """Each BPE round's pair count must map-side combine (partial + final
    HashAggregate) and pick its winner via TakeOrderedAndProject (k=1),
    never a global sort. (The declared query's own plan is a Union over
    checkpointed rounds, so pin the ROUND plan the loop materializes.)"""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.bpe import _pair_counts
    from lol_data_collection_system_spark.operators.text import (
        normalized_text,
        tokens,
    )
    from lol_data_collection_system_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    state = (
        docs.select(F.explode(tokens(normalized_text(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("freq", F.regexp_replace("word", "(.)", r"($1)").alias("seq"))
    )
    top = _pair_counts(state).orderBy(F.col("cnt").desc(), F.col("pair").asc()).limit(1)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = top._jdf.queryExecution().explainString(jmode)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 4  # vocab + pair counts, each partial+final
    assert "Sort (" not in plan  # no global sort anywhere


def test_doc_novelty_single_shingle_shuffle(spark):
    """The df window and the per-doc aggregate are the only exchanges —
    novelty must not re-explode or re-shuffle the corpus per metric."""
    plan = _plan(spark, "doc_novelty_scores")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bigram_lm_partial_agg_no_vocab_broadcast(spark):
    """bigram_lm_scores: every LM table aggregate is map-side combined,
    and no unbounded vocabulary table travels by broadcast — the only
    BroadcastExchange is the 1-row corpus total. The LM joins stay
    shuffle equi-joins keyed by the probe's own term columns."""
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.retrieval import (
        bigram_lm_scores,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # at test SF the LM tables are tiny enough that Catalyst would
    # auto-broadcast them (fine at that size); disable auto-broadcast to
    # pin that nothing FORCES a vocab broadcast at corpus scale
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bigram_lm_scores(docs)
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = df._jdf.queryExecution().explainString(jmode)
        assert plan.count("HashAggregate") >= 6  # uni/big/ctx/doc partial+final
        # the 1-row corpus total is the only explicit broadcast
        # (formatted explain names each node twice: tree + detail)
        assert plan.count("BroadcastExchange") == 2
        assert "CartesianProduct" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_remove_dup_lines_join_shape(spark):
    """remove_dup_lines: the line join is keyed by the 8-byte
    fingerprint (never a cartesian), and the frequency side aggregates
    partially before its filter — the over-limit build side is post-agg,
    post-filter."""
    from lol_data_collection_system_spark.operators.dedup import (
        remove_dup_lines,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = remove_dup_lines(docs)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # freq + reassembly, partial+final
    assert "_fp" in plan  # join keyed by the fingerprint column


def test_asof_join_banded_matches_plain_and_caps_partitions(spark):
    """asof_join_banded == asof_join on tie-free data, including the
    carry cases the banding introduces: left rows in right-empty buckets
    (carry from older buckets), left rows before any right row (null),
    and a hot key holding most of the events. Plan check: no window in
    the banded plan partitions by the bare key over the EVENT frame —
    the key-only window runs over the bucket summary."""
    import random

    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.operators.joins import (
        asof_join,
        asof_join_banded,
    )

    rng = random.Random(7)
    # hot key 1: 300 events; keys 2-4: a handful each. Distinct ts per
    # side (tie-free) so both operators are fully deterministic.
    rows_l, rows_r, seen = [], [], set()
    for key, n in ((1, 300), (2, 8), (3, 5), (4, 1)):
        for _ in range(n):
            while (ts := rng.randrange(0, 3_600_000, 7)) in seen:
                ts += 1
            seen.add(ts)
            rows_l.append((key, ts))
        for _ in range(max(n // 3, 1)):
            while (ts := rng.randrange(0, 3_600_000, 7)) in seen:
                ts += 1
            seen.add(ts)
            rows_r.append((key, ts, ts * 10))
    # key 5: left rows only -> asof value must stay NULL
    rows_l.append((5, 1000))
    left = spark.createDataFrame(rows_l, "user_id long, ts_ms long").select(
        "user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts")
    )
    right = spark.createDataFrame(
        rows_r, "user_id long, ts_ms long, val long"
    ).select("user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"), "val")

    plain = {
        (r.user_id, r.ts): r.val_asof
        for r in asof_join(left, right, ["user_id"], "ts", ["val"]).collect()
    }
    # bucket width far below the time span -> plenty of right-empty
    # buckets, so the carry path is genuinely exercised
    banded = asof_join_banded(left, right, ["user_id"], "ts", ["val"], 60_000)
    got = {(r.user_id, r.ts): r.val_asof for r in banded.collect()}
    assert got == plain
    assert any(v is None for v in got.values())  # key-5 no-prior case

    # plan pin: every event-frame window spec carries the bucket column;
    # the only key-only partitioning is over the bucket summary (itself
    # fed by a partial-agg'd aggregate, not raw events)
    plan = banded._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    event_specs = [s for s in specs if "_bucket" in s]
    key_only = [s for s in specs if "_bucket" not in s]
    assert event_specs, specs
    assert len(key_only) <= 1, specs  # the summary carry window only


def test_asof_join_banded_null_value_does_not_shadow(spark):
    """A right row whose value column is NULL must not shadow an earlier
    non-null value (asof_join's per-column last-ignoreNulls semantics):
    the bucket summary carries the latest NON-NULL per column, not the
    latest row. Covers both the carried-bucket case and mixed columns
    going non-null at different times."""
    from lol_data_collection_system_spark.operators.joins import (
        asof_join,
        asof_join_banded,
    )

    right = spark.createDataFrame(
        [
            (1, 100_000, 5, None),
            (1, 200_000, None, 7),  # later row, val NULL / w non-null
            (2, 50_000, None, None),  # only all-NULL right rows
        ],
        "user_id long, ts_ms long, val long, w long",
    ).select(
        "user_id",
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        "val",
        "w",
    )
    left = spark.createDataFrame(
        [(1, 500_000), (1, 150_000), (2, 500_000)],
        "user_id long, ts_ms long",
    ).select("user_id", F.timestamp_millis(F.col("ts_ms")).alias("ts"))

    plain = {
        (r.user_id, r.ts): (r.val_asof, r.w_asof)
        for r in asof_join(
            left, right, ["user_id"], "ts", ["val", "w"]
        ).collect()
    }
    got = {
        (r.user_id, r.ts): (r.val_asof, r.w_asof)
        for r in asof_join_banded(
            left, right, ["user_id"], "ts", ["val", "w"], 60_000
        ).collect()
    }
    assert got == plain
    # and the plain semantics themselves: val survives the NULL row
    k1 = [v for (u, _), v in got.items() if u == 1]
    assert (5, 7) in k1  # left at 500s sees val=5 (not shadowed), w=7


def test_no_cartesian_product_in_any_query(spark):
    """Global plan hygiene: NO declared query may plan a
    CartesianProduct at any SF — the one join shape that is always a
    scale accident here (every intended cross join in the repo is a
    broadcast of a 1-row/bounded stats frame, which plans as
    BroadcastNestedLoopJoin instead). Catches refactors that drop an
    equi-join key and silently degrade to all-pairs."""
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    offenders = []
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(jmode)
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_key_skew_profile_take_ordered(spark):
    """The top-N selection must plan as TakeOrderedAndProject (never a
    global sort of the distinct-key space), with partial aggregation on
    the count."""
    plan = _plan(spark, "user_key_skew")
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "Partial" in plan


def test_q3_pushdown_and_top_k(spark):
    """The TPC-H Q3 analog must push the segment + both date filters to
    the scans and keep the top-10 as TakeOrderedAndProject."""
    plan = _plan(spark, "top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan
    flat = plan.replace("\n", "")
    assert "EqualTo(c_mktsegment,BUILDING)" in flat
    assert "LessThan(o_orderdate" in flat
    assert "GreaterThan(l_shipdate" in flat


def test_pca_moment_pass_partial_agg(spark):
    """The PCA sufficient-statistics aggregation must combine map-side
    (the whole 100 TB story: the shuffle carries partitions·d² decimal
    cells, not n·d² product rows)."""
    from lol_data_collection_system_spark.operators import pca as pca_ops
    from lol_data_collection_system_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    _, cross = pca_ops.moment_frames(emb, "embedding", 64)
    plan = cross._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 1  # one shuffle, keyed by (i, j)


def test_linreg_trend_single_agg_no_window(spark):
    """The OLS moments must plan as ONE partial+final hash-aggregate
    pair with no Sort/Window anywhere — the cheapest possible shape for
    a full-corpus trend fit."""
    plan = _plan(spark, "event_value_trend")
    assert "Window" not in plan and "Sort" not in plan
    assert "partial_sum" in plan  # map-side combine on the moment sums
    # all six moments ride ONE grouped aggregation — no second pass
    # over the data (the only other aggregate is the 1-row global min)
    assert "partial_count(1), partial_sum" in plan


def test_ewma_anomaly_take_ordered(spark):
    """Top-k spike selection must be TakeOrderedAndProject over the
    scored grid, never a global sort."""
    plan = _plan(spark, "event_rate_anomalies")
    assert "TakeOrderedAndProject" in plan


def test_transition_matrix_broadcast_totals(spark):
    """Per-state totals join back as a broadcast of the states×states
    counts frame — the probability division must not shuffle the pair
    frame a second time."""
    plan = _plan(spark, "event_transition_matrix")
    assert "BroadcastHashJoin" in plan


def test_fuzzy_linkage_blocking_is_equi_join(spark):
    """The linkage candidate stage must be a gram equi-join (hash or
    sort-merge), with the levenshtein verify AFTER blocking — no
    cartesian, no BroadcastNestedLoop over the vocabularies."""
    plan = _plan(spark, "fuzzy_part_linkage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_golden_records_single_hash_agg(spark):
    """The whole survivorship merge must be ONE partial+final hash
    aggregate — no joins, no windows, regardless of column count."""
    plan = _plan(spark, "customer_golden_records")
    assert "Join" not in plan.replace("union", "")  # feeds union, never join
    assert "Window" not in plan
    assert "partial_max" in plan or "Partial" in plan


def test_scd2_merge_is_one_keyed_outer_join(spark):
    """The SCD2 merge joins the open slice to the snapshot ONCE, keyed
    (SortMergeJoin/ShuffledHashJoin on the business key) — no
    cartesian, no nested-loop."""
    plan = _plan(spark, "customer_scd2_history")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # Catalyst is free to specialize the full-outer into per-branch
    # inner/left/right joins (each union branch filters on a presence
    # flag) — what's pinned is that every join stays a KEYED hash join
    assert "HashJoin" in plan


def test_interleave_head_is_take_ordered(spark):
    """The interleave head must plan as TakeOrderedAndProject over the
    arithmetic positions; the only window is the per-source rank."""
    plan = _plan(spark, "interleaved_mix_order")
    assert "TakeOrderedAndProject" in plan


def test_rolling_active_users_partial_agg(spark):
    """Both the (user, day) dedupe and the per-day distinct count must
    partial-aggregate map-side (the explode rides the deduped frame)."""
    plan = _plan(spark, "rolling_active_users")
    # two aggregation pairs (dedupe + distinct count), each partial+final
    assert plan.count("HashAggregate") >= 4
    assert "CartesianProduct" not in plan


def test_cube_plans_one_expand(spark):
    """CUBE must plan through one Expand node feeding one aggregate —
    never one scan per grouping set."""
    plan = _plan(spark, "order_cube_totals")
    tree = plan.split("\n\n")[0]
    assert "Expand" in tree
    assert tree.count("Scan parquet") == 1  # one scan for all 4 sets


def test_profile_then_salt_composition(spark):
    """The README's pre-flight decision flow, end to end: profile the
    join (counts only — the data never moves), read the skew numbers,
    apply salted_skew_join, and get VALUE-identical results to the
    plain join with the hot key spread across salted shuffle keys."""
    from lol_data_collection_system_spark.operators.aggregates import (
        key_skew_profile,
    )
    from lol_data_collection_system_spark.operators.joins import (
        join_cardinality_profile,
        salted_skew_join,
    )

    # hot key 7: 400 of 460 big-side rows
    big = spark.range(460).selectExpr(
        "CASE WHEN id < 400 THEN 7 ELSE id % 20 END AS k", "id AS payload"
    ).repartition(8)
    small = spark.range(20).selectExpr("id AS k", "id * 10 AS dim")

    skew = {r.key: r.share for r in key_skew_profile(big, "k").collect()}
    assert skew["7"] > 0.8  # the profiler flags the hot key

    prof = join_cardinality_profile(big, small, "k", "k").collect()[0]
    assert prof.max_key == "7" and prof.skew_share > 0.8
    assert prof.est_rows == 460  # exact inner-join cardinality (1:n dim)

    plain = sorted(map(tuple, big.join(small, "k").collect()))
    salted = sorted(map(tuple, salted_skew_join(big, small, "k").collect()))
    assert salted == plain  # salting is physical routing, not semantics


def test_ivfpq_topk_take_ordered_and_no_cartesian(spark):
    """IVFADC: the final k-cut must be TakeOrderedAndProject and the
    candidate scan an equi-join on the probed cells — codebook/centroid
    frames travel broadcast, never a cartesian or sort-merge join."""
    plan = _plan(spark, "embedding_ivfpq_topk")
    tree = plan.split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivf_serve_topk_windowgrouplimit(spark):
    """Multi-query serving: the per-query top-k must run as
    WindowGroupLimit (per-partition heads survive, not whole cells) and
    the query batch must reach the corpus as a broadcast equi-join."""
    plan = _plan(spark, "ivf_batch_serve")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivfadc_refine_funnel_two_rank_windows(spark):
    """The refine funnel: BOTH rank cuts (ADC shortlist, exact rerank)
    must be WindowGroupLimit passes; the code scan must never read
    vectors through a sort-merge join."""
    plan = _plan(spark, "ivfadc_refine_serve")
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan
