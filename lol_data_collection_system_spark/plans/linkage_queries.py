"""Record-linkage queries: q-gram-blocked fuzzy matching of a dirty feed
against a clean master — declared as (spark_fn, oracle_sql) pairs, same
contract as `plans/corpus_queries.py`.

The synthetic corpus has no typos, so the dirty feed is derived IN-PLAN
(the `pii_scan` trick): every third part contributes its name with one
character deleted at a key-derived position. Both engines build the same
feed from the same tables, so the linkage output is fully hash-gated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import linkage as link_ops
from ..sources import load_table

#: Blocking/verify geometry. The gram cap is the master-side fan-out
#: lever (see operators/linkage.py §3); 20 of 64 distinct master names
#: per gram keeps stop-grams out of blocking while every single-deletion
#: pair still shares a rarer gram at this name length (7-12 chars).
LINK_Q = 3
LINK_MAX_DIST = 2
LINK_GRAM_CAP = 20
#: Every third part feeds the dirty side; deletion position is
#: key-derived so re-runs and both engines mutate identically.
DIRTY_MOD = 3


def _dirty_feed(part: DataFrame) -> DataFrame:
    pos = (F.lit(1) + F.col("p_partkey") % (F.length("p_name") - 1)).alias(
        "pos"
    )
    return (
        part.filter(F.col("p_partkey") % DIRTY_MOD == 0)
        .select("p_name", pos)
        .select(
            F.concat(
                F.expr("substring(p_name, 1, pos - 1)"),
                F.expr("substring(p_name, pos + 1, 100)"),
            ).alias("dirty_name")
        )
    )


def q_fuzzy_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-link the mutated part-name feed back to the part master:
    string-level pairs within 2 edits sharing a capped blocking q-gram,
    with per-string record counts. The dedupe-before-link + block +
    verify pipeline of `operators/linkage.py` end-to-end."""
    part = load_table(spark, sf_dir, "part")
    return link_ops.fuzzy_link_names(
        _dirty_feed(part),
        part,
        "dirty_name",
        "p_name",
        q=LINK_Q,
        max_dist=LINK_MAX_DIST,
        max_gram_freq=LINK_GRAM_CAP,
    )


def _linkage_oracle() -> str:
    norm = "regexp_replace(lower(trim({c})), '\\s+', ' ', 'g')"
    grams = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(length({s}) - {qm1}, 1)), "
        "i -> substring({s}, i, {q})))"
    )
    return f"""
WITH dirty_raw AS (
  SELECT substring(p_name, 1, pos - 1) || substring(p_name, pos + 1, 100)
           AS raw_name
  FROM (SELECT p_name,
               1 + p_partkey % (length(p_name) - 1) AS pos
        FROM part WHERE p_partkey % {DIRTY_MOD} = 0)),
d AS (
  SELECT {norm.format(c='raw_name')} AS dirty_name,
         count(*) AS n_dirty
  FROM dirty_raw GROUP BY 1),
c AS (
  SELECT {norm.format(c='p_name')} AS clean_name,
         count(*) AS n_clean
  FROM part GROUP BY 1),
dg AS (
  SELECT dirty_name,
         unnest({grams.format(s='dirty_name', q=LINK_Q, qm1=LINK_Q - 1)})
           AS gram
  FROM d),
cg_all AS (
  SELECT clean_name,
         unnest({grams.format(s='clean_name', q=LINK_Q, qm1=LINK_Q - 1)})
           AS gram
  FROM c),
cg AS (
  SELECT clean_name, gram FROM (
    SELECT clean_name, gram, count(*) OVER (PARTITION BY gram) AS gram_df
    FROM cg_all)
  WHERE gram_df <= {LINK_GRAM_CAP}),
cand AS (
  SELECT DISTINCT dg.dirty_name, cg.clean_name
  FROM dg JOIN cg USING (gram))
SELECT cand.dirty_name,
       cand.clean_name,
       CAST(levenshtein(cand.dirty_name, cand.clean_name) AS INT)
         AS edit_dist,
       d.n_dirty,
       c.n_clean
FROM cand
JOIN d USING (dirty_name)
JOIN c ON c.clean_name = cand.clean_name
WHERE levenshtein(cand.dirty_name, cand.clean_name) <= {LINK_MAX_DIST}
"""


def q_name_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end: the fuzzy string pairs become
    edges, connected components merge transitive matches (A~B, B~C ⇒
    one entity even when A~C is over the edit threshold), and each
    cluster reports its size and canonical (min) name — the linkage
    family's analog of the corpus dedup_components pipeline. String
    nodes ride CC's generic non-numeric path."""
    from ..operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    pairs = link_ops.fuzzy_link_names(
        _dirty_feed(part),
        part,
        "dirty_name",
        "p_name",
        q=LINK_Q,
        max_dist=LINK_MAX_DIST,
        max_gram_freq=LINK_GRAM_CAP,
    )
    edges = pairs.select(
        F.col("dirty_name").alias("id_a"), F.col("clean_name").alias("id_b")
    )
    comp = connected_components(edges, "id_a", "id_b")
    return comp.groupBy(F.col("component_id").alias("canonical_name")).agg(
        F.count(F.lit(1)).alias("n_names")
    )


def _resolution_oracle() -> str:
    """The pair CTEs of the linkage oracle feed a recursive-CTE
    min-label closure (the same technique as the dedup_components
    oracle), then a per-component census."""
    pair_sql = _linkage_oracle()
    return f"""
WITH RECURSIVE pairs AS ({pair_sql}),
edges AS (
  SELECT dirty_name AS u, clean_name AS v FROM pairs
  UNION SELECT clean_name, dirty_name FROM pairs),
reach(node, reached) AS (
  SELECT u, u FROM edges
  UNION
  SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.reached),
comp AS (SELECT node, MIN(reached) AS m FROM reach GROUP BY node)
SELECT m AS canonical_name, count(*) AS n_names
FROM comp GROUP BY 1
"""


def q_customer_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge over a three-feed customer registry (derived
    in-plan: the CRM feed misses every third balance, the billing feed
    covers even keys with no segment, a VIP feed tags every fifth key):
    per customer, each column independently survives from the
    highest-priority feed that has it — `aggregates.golden_records`,
    ONE hash aggregate for the whole consolidation."""
    from ..operators.aggregates import golden_records

    cust = load_table(spark, sf_dir, "customer")
    crm = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 != 0, F.col("c_acctbal")).alias(
            "c_acctbal"
        ),
        "c_mktsegment",
        F.lit(1).alias("pri"),
    )
    billing = cust.filter(F.col("c_custkey") % 2 == 0).select(
        "c_custkey",
        "c_acctbal",
        F.lit(None).cast("string").alias("c_mktsegment"),
        F.lit(2).alias("pri"),
    )
    vip = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.lit(None).cast("double").alias("c_acctbal"),
        F.lit("VIP").alias("c_mktsegment"),
        F.lit(3).alias("pri"),
    )
    feed = crm.unionByName(billing).unionByName(vip)
    return golden_records(
        feed,
        ["c_custkey"],
        ["c_acctbal", "c_mktsegment"],
        F.col("pri"),
    )


def _golden_oracle() -> str:
    surv = (
        "struct_extract(max(struct_pack(has := {c} IS NOT NULL, "
        "pri := pri, v := {c})), 'v')"
    )
    return f"""
WITH feed AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 != 0 THEN c_acctbal END AS c_acctbal,
         c_mktsegment, 1 AS pri
  FROM customer
  UNION ALL
  SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR), 2
  FROM customer WHERE c_custkey % 2 = 0
  UNION ALL
  SELECT c_custkey, CAST(NULL AS DOUBLE), 'VIP', 3
  FROM customer WHERE c_custkey % 5 = 0)
SELECT c_custkey,
       {surv.format(c='c_acctbal')} AS c_acctbal,
       {surv.format(c='c_mktsegment')} AS c_mktsegment,
       count(*) AS n_feed_rows
FROM feed GROUP BY c_custkey
"""


REGISTRY = {
    "fuzzy_part_linkage": (q_fuzzy_part_linkage, _linkage_oracle()),
    "name_resolution_clusters": (q_name_resolution_clusters, _resolution_oracle()),
    "customer_golden_records": (q_customer_golden_records, _golden_oracle()),
}
