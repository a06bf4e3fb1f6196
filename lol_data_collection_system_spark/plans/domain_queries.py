"""Domain pipelines (SURVEY.md §2 hard operators) expressed over the
driver's star schema: fight extraction (J8/J9/A13), outcome bucketing
(A10), sequential-elimination role assignment (A9/U3), session windows
(T8), and geometric zone predicates (P13).

The `events` table stands in for the match timeline: `user_id % N_MATCHES`
groups users into synthetic "matches", each event is a kill (killer =
user_id, victim derived from props.k). The declarative stages (perspective
explosion, ±15 s set enrichment, bucketing, session windows, zones) carry
DuckDB oracles; the order-dependent +30 s subset-merge is non-SQL by
design, so its value oracle is a parquet fixture materialized from an
independent pure-Python port of the reference fold (plans/fight_oracle.py;
also pytest-verified in tests/test_fights.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import fights as fight_ops
from ..operators import roles as role_ops
from ..session import shared
from ..sources import load_table
from .fight_oracle import fight_merge_oracle

N_MATCHES = 25
VICTIM_MOD = 150
SESSION_GAP_MIN = 30
ENRICH_MS = 15_000
MERGE_MS = 30_000


def synthetic_kills(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map `events` onto the kill-event shape: (match_id, ts_ms, killer,
    victim, assists). Victim ≠ killer is forced so self-kills (which the
    reference's data model cannot produce) don't arise. Shared per
    session: the fight enrichment reads it on both sides of its interval
    self-join."""

    def build() -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        k = F.coalesce(
            F.get_json_object(F.col("props"), "$.k").cast("bigint"), F.lit(0)
        )
        victim = F.pmod(k, F.lit(VICTIM_MOD))
        return events.select(
            F.pmod(F.col("user_id"), F.lit(N_MATCHES)).alias("match_id"),
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.col("user_id").alias("killer"),
            F.when(victim == F.col("user_id"), victim + 1)
            .otherwise(victim)
            .alias("victim"),
            F.array().cast("array<long>").alias("assists"),
        )

    return shared(spark, ("kills", sf_dir), build)


_KILLS_SQL = f"""
  SELECT (user_id % {N_MATCHES}) AS match_id,
         epoch_ms(ts) AS ts_ms,
         user_id AS killer,
         CASE WHEN (COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
                    % {VICTIM_MOD}) = user_id
              THEN (COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
                    % {VICTIM_MOD}) + 1
              ELSE (COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
                    % {VICTIM_MOD}) END AS victim
  FROM events
"""

_PERSP_SQL = f"""
  SELECT match_id, killer AS actor, 'kill' AS perspective, ts_ms,
         [killer] AS allies, [victim] AS enemies, [victim] AS victims,
         killer, victim
  FROM kills
  UNION ALL
  SELECT match_id, victim AS actor, 'death' AS perspective, ts_ms,
         [victim] AS allies, [killer] AS enemies, [victim] AS victims,
         killer, victim
  FROM kills
"""


# ---------------------------------------------------------------------------
# Fight enrichment (declarative stages 1-2) — oracle-gated
# ---------------------------------------------------------------------------
def fight_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every actor's kill/death perspective rows grown by the ±ENRICH_MS
    enrichment, shared per session: the three fight queries read it, so
    its interval self-join over the kills runs once."""

    def build() -> DataFrame:
        kills = synthetic_kills(spark, sf_dir)
        persp = fight_ops.kill_death_perspectives(kills)
        return fight_ops.enrich_adjacent_sets(persp, kills, ENRICH_MS)

    return shared(spark, ("fight_enriched", sf_dir), build)


def q_fight_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fight_enriched(spark, sf_dir).select(
        "match_id",
        "actor",
        "perspective",
        "ts_ms",
        F.array_join(F.array_sort("allies"), ",").alias("allies_s"),
        F.array_join(F.array_sort("enemies"), ",").alias("enemies_s"),
        F.array_join(F.array_sort("victims"), ",").alias("victims_s"),
    )


ORACLE_FIGHT_ENRICHMENT = f"""
WITH kills AS ({_KILLS_SQL}),
persp AS ({_PERSP_SQL}),
joined AS (
  SELECT p.match_id, p.actor, p.perspective, p.ts_ms,
         p.allies, p.enemies, p.victims,
         CASE WHEN p.perspective = 'kill' THEN p.allies ELSE p.enemies END AS own,
         a.killer AS adj_killer, a.victim AS adj_victim
  FROM persp p JOIN kills a
    ON p.match_id = a.match_id
   AND a.ts_ms BETWEEN p.ts_ms - {ENRICH_MS} AND p.ts_ms + {ENRICH_MS}),
gained AS (
  SELECT match_id, actor, perspective, ts_ms, allies, enemies, victims,
         (CASE WHEN list_contains(own, adj_killer) THEN [adj_victim] ELSE [] END)
           || (CASE WHEN list_contains(own, adj_victim) AND adj_victim != adj_killer
                    THEN [adj_killer] ELSE [] END) AS g_opp,
         CASE WHEN list_contains(own, adj_killer)
                OR (list_contains(own, adj_victim) AND adj_victim != adj_killer)
              THEN [adj_victim] ELSE [] END AS g_vic
  FROM joined),
agg AS (
  SELECT match_id, actor, perspective, ts_ms, allies, enemies, victims,
         list_distinct(flatten(list(g_opp))) AS opp_add,
         list_distinct(flatten(list(g_vic))) AS vic_add
  FROM gained
  GROUP BY match_id, actor, perspective, ts_ms, allies, enemies, victims)
SELECT match_id, actor, perspective, ts_ms,
       array_to_string(list_sort(CASE WHEN perspective = 'death'
         THEN list_distinct(allies || opp_add) ELSE allies END), ',') AS allies_s,
       array_to_string(list_sort(CASE WHEN perspective = 'kill'
         THEN list_distinct(enemies || opp_add) ELSE enemies END), ',') AS enemies_s,
       array_to_string(list_sort(list_distinct(victims || vic_add)), ',') AS victims_s
FROM agg
"""


# ---------------------------------------------------------------------------
# Full fight pipeline incl. order-dependent merge — rows-only driver check,
# exact check in tests/test_fights.py vs a pure-Python reference fold.
# ---------------------------------------------------------------------------
def q_fight_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = fight_ops.subset_merge(fight_enriched(spark, sf_dir), MERGE_MS)
    return merged.select(
        "match_id",
        "actor",
        "perspective",
        "ts_ms",
        F.array_join(F.array_sort("allies"), ",").alias("allies_s"),
        F.array_join(F.array_sort("enemies"), ",").alias("enemies_s"),
        F.array_join(F.array_sort("victims"), ",").alias("victims_s"),
    )


# ---------------------------------------------------------------------------
# Outcome bucketing (A10) over the oracle-checked enrichment stage
# ---------------------------------------------------------------------------
def q_fight_outcome_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fight_ops.outcome_buckets(fight_enriched(spark, sf_dir), ["actor"])


_BUCKET_CASE = """
  CASE WHEN len(allies2) = 1 THEN 'solo'
       WHEN len(allies2) < 4 THEN 'skirmish'
       ELSE 'team' END
"""
_RESULT_CASE = """
  CASE WHEN len(list_intersect(victims2, enemies2)) - len(list_intersect(victims2, allies2)) > 0 THEN 'win'
       WHEN len(list_intersect(victims2, enemies2)) - len(list_intersect(victims2, allies2)) < 0 THEN 'loss'
       ELSE 'neutral' END
"""

ORACLE_FIGHT_OUTCOME_BUCKETS = f"""
WITH kills AS ({_KILLS_SQL}),
persp AS ({_PERSP_SQL}),
joined AS (
  SELECT p.match_id, p.actor, p.perspective, p.ts_ms,
         p.allies, p.enemies, p.victims,
         CASE WHEN p.perspective = 'kill' THEN p.allies ELSE p.enemies END AS own,
         a.killer AS adj_killer, a.victim AS adj_victim
  FROM persp p JOIN kills a
    ON p.match_id = a.match_id
   AND a.ts_ms BETWEEN p.ts_ms - {ENRICH_MS} AND p.ts_ms + {ENRICH_MS}),
gained AS (
  SELECT match_id, actor, perspective, ts_ms, allies, enemies, victims,
         (CASE WHEN list_contains(own, adj_killer) THEN [adj_victim] ELSE [] END)
           || (CASE WHEN list_contains(own, adj_victim) AND adj_victim != adj_killer
                    THEN [adj_killer] ELSE [] END) AS g_opp,
         CASE WHEN list_contains(own, adj_killer)
                OR (list_contains(own, adj_victim) AND adj_victim != adj_killer)
              THEN [adj_victim] ELSE [] END AS g_vic
  FROM joined),
enriched AS (
  SELECT actor,
         CASE WHEN perspective = 'death'
              THEN list_distinct(allies || list_distinct(flatten(list(g_opp))))
              ELSE allies END AS allies2,
         CASE WHEN perspective = 'kill'
              THEN list_distinct(enemies || list_distinct(flatten(list(g_opp))))
              ELSE enemies END AS enemies2,
         list_distinct(victims || list_distinct(flatten(list(g_vic)))) AS victims2
  FROM gained
  GROUP BY match_id, actor, perspective, ts_ms, allies, enemies, victims),
tagged AS (
  SELECT actor, {_BUCKET_CASE} AS bucket, {_RESULT_CASE} AS result FROM enriched)
SELECT actor,
       COUNT(*) FILTER (bucket = 'solo' AND result = 'win') AS solo_win,
       COUNT(*) FILTER (bucket = 'solo' AND result = 'neutral') AS solo_neutral,
       COUNT(*) FILTER (bucket = 'solo' AND result = 'loss') AS solo_loss,
       COUNT(*) FILTER (bucket = 'skirmish' AND result = 'win') AS skirmish_win,
       COUNT(*) FILTER (bucket = 'skirmish' AND result = 'neutral') AS skirmish_neutral,
       COUNT(*) FILTER (bucket = 'skirmish' AND result = 'loss') AS skirmish_loss,
       COUNT(*) FILTER (bucket = 'team' AND result = 'win') AS team_win,
       COUNT(*) FILTER (bucket = 'team' AND result = 'neutral') AS team_neutral,
       COUNT(*) FILTER (bucket = 'team' AND result = 'loss') AS team_loss
FROM tagged GROUP BY actor
"""


# ---------------------------------------------------------------------------
# Sequential-elimination role assignment (A9/U3)
# ---------------------------------------------------------------------------
ROLE_RULES = [
    role_ops.RoleRule("whale", "c_acctbal", ascending=False, prefilter="c_mktsegment == 'BUILDING'"),
    role_ops.RoleRule("frugal", "c_acctbal", ascending=True),
    role_ops.RoleRule("earliest", "c_custkey", ascending=True),
]


def q_role_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_custkey", "c_acctbal", "c_mktsegment"
    )
    return role_ops.assign_roles(
        cust, ["c_nationkey"], ROLE_RULES, "c_custkey"
    )


ORACLE_ROLE_ASSIGNMENT = """
WITH c AS (
  SELECT c_nationkey, c_custkey, c_acctbal, c_mktsegment,
         BOOL_OR(c_mktsegment = 'BUILDING') OVER (PARTITION BY c_nationkey) AS any_b
  FROM customer),
p1 AS (
  SELECT c_nationkey, c_custkey FROM (
    SELECT c_nationkey, c_custkey,
           ROW_NUMBER() OVER (PARTITION BY c_nationkey
             ORDER BY (CASE WHEN any_b AND c_mktsegment = 'BUILDING' THEN 0 ELSE 1 END),
                      c_acctbal DESC, c_custkey) AS rn
    FROM c) WHERE rn = 1),
p2 AS (
  SELECT c_nationkey, c_custkey FROM (
    SELECT c.c_nationkey, c.c_custkey,
           ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
             ORDER BY c_acctbal ASC, c_custkey) AS rn
    FROM c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM p1)) WHERE rn = 1),
p3 AS (
  SELECT c_nationkey, c_custkey FROM (
    SELECT c.c_nationkey, c.c_custkey,
           ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
             ORDER BY c_custkey ASC) AS rn
    FROM c WHERE c.c_custkey NOT IN (SELECT c_custkey FROM p1)
             AND c.c_custkey NOT IN (SELECT c_custkey FROM p2)) WHERE rn = 1)
SELECT c_nationkey, c_custkey, 'whale' AS role FROM p1
UNION ALL SELECT c_nationkey, c_custkey, 'frugal' FROM p2
UNION ALL SELECT c_nationkey, c_custkey, 'earliest' FROM p3
"""


# ---------------------------------------------------------------------------
# Session windows (T8 batch twin)
# ---------------------------------------------------------------------------
def q_session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start")).alias("session_start_ms"),
            "n_events",
            "sum_value",
        )
    )


ORACLE_SESSION_WINDOW_STATS = f"""
WITH ordered AS (
  SELECT user_id, ts, value,
         epoch_ms(ts) - epoch_ms(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts))
           AS gap_ms
  FROM events),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN gap_ms IS NULL OR gap_ms >= {SESSION_GAP_MIN} * 60000
              THEN 1 ELSE 0 END AS new_sess
  FROM ordered),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged)
SELECT user_id, MIN(epoch_ms(ts)) AS session_start_ms, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sessions GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Geometric zone predicates (P13, utils.py:421-425)
# ---------------------------------------------------------------------------
def q_geo_zone_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lane-area style region tests on a synthetic (x, y) plane derived
    from event columns — the reference's `is_topside`/`is_bottomside`
    half-plane intersections (`utils.py:421-425`) as boolean column
    exprs feeding a grouped count."""
    events = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("bigint")
    y = F.pmod(
        F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0)) * 149,
        F.lit(14000),
    )
    topside = (y >= 4880) & (x <= 9880) & (y >= x + 3000)
    bottomside = (y <= 9880) & (x >= 4880) & (y <= x - 5000)
    zone = (
        F.when(topside, F.lit("top"))
        .when(bottomside, F.lit("bottom"))
        .otherwise(F.lit("river"))
    )
    return events.select(zone.alias("zone"), "event_type").groupBy(
        "zone", "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))


ORACLE_GEO_ZONE_COUNTS = """
WITH pts AS (
  SELECT event_type,
         CAST(ROUND(value * 100) AS BIGINT) AS x,
         ((COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) * 149) % 14000
          + 14000) % 14000 AS y
  FROM events)
SELECT CASE WHEN y >= 4880 AND x <= 9880 AND y >= x + 3000 THEN 'top'
            WHEN y <= 9880 AND x >= 4880 AND y <= x - 5000 THEN 'bottom'
            ELSE 'river' END AS zone,
       event_type, COUNT(*) AS n_events
FROM pts GROUP BY 1, 2
"""


REGISTRY = {
    "fight_enrichment": (q_fight_enrichment, ORACLE_FIGHT_ENRICHMENT),
    "fight_merge": (q_fight_merge, fight_merge_oracle),
    "fight_outcome_buckets": (q_fight_outcome_buckets, ORACLE_FIGHT_OUTCOME_BUCKETS),
    "role_assignment": (q_role_assignment, ORACLE_ROLE_ASSIGNMENT),
    "session_window_stats": (q_session_window_stats, ORACLE_SESSION_WINDOW_STATS),
    "geo_zone_counts": (q_geo_zone_counts, ORACLE_GEO_ZONE_COUNTS),
}
