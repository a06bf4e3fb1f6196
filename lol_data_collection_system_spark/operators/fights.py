"""Fight extraction — the reference's signature hard operator family
(SURVEY.md §2 J8/J9/A13/A10/U4; reference `utils.py:483-627,630-726`).

Pipeline shape (Spark-first decomposition):

1. **Perspective rows** (`kill_death_perspectives`): each CHAMPION_KILL-like
   event yields a *kill* row per contributing actor and a *death* row for
   the victim — plain projections/explodes, fully declarative.
2. **±15 s enrichment** (`enrich_adjacent_sets`): the reference scans all
   fight events within ±15 s and grows the enemy/victim sets
   (`utils.py:538-577`). Membership tests run against the FIXED initial
   ally set, and additions are append-if-absent — i.e. pure set union →
   order-insensitive → expressible as an interval self-join + collect_set,
   no UDF. The join's equality key (match) bounds the range probe; AQE
   splits skewed matches.
3. **+30 s subset-merge** (`subset_merge`): the reference's forward walk
   merges a later fight into an earlier one (≤30 s ahead) when its victim
   set is a subset; partial overlaps subtract the shared victims; a
   superset ahead absorbs the current fight and breaks (`utils.py:586-626`).
   This fold is order-dependent and non-associative — per the survey it is
   implemented as a grouped `applyInPandas` (Arrow-batched, one group per
   (match, actor), kills and deaths merged jointly in one ts-sorted list,
   matching the reference's ``sorted(kills+deaths)`` fold); groups are ≤ a
   few hundred rows so Python cost is bounded, and groups distribute
   across executors.
4. **Outcome bucketing** (`outcome_buckets`): solo/skirmish/team ×
   win/neutral/loss counts and the ratio/aggro profile
   (`utils.py:630-726`) — a single conditional aggregation.

At 100 TB the expensive stage is (2)'s self-join; it shuffles once on the
match key and the ±15 s predicate is evaluated within co-located
partitions. (3) shuffles the (small) fight rows once more on the group key.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# Stage 1 — perspective rows
# ---------------------------------------------------------------------------
def kill_death_perspectives(
    kills: DataFrame,
    match_col: str = "match_id",
    ts_col: str = "ts_ms",
    killer_col: str = "killer",
    victim_col: str = "victim",
    assists_col: str = "assists",
) -> DataFrame:
    """Explode raw kill events into per-actor perspective rows.

    Reference (`utils.py:517-538`): for the tracked participant, a kill
    event where they contributed becomes a *kill* record
    (allies=contributors, enemies=victims=[victim]); one where they died
    becomes a *death* record (allies=[victim], enemies=contributors).
    Here every actor's perspective is produced at once (the reference
    recomputes the whole parse per participant — 10× duplicated work).
    """
    contributors = F.array_union(
        F.array(F.col(killer_col)), F.coalesce(F.col(assists_col), F.array())
    )
    base = kills.select(
        F.col(match_col).alias("match_id"),
        F.col(ts_col).alias("ts_ms"),
        contributors.alias("contributors"),
        F.col(victim_col).alias("victim"),
    )
    kill_rows = base.select(
        "match_id",
        F.explode("contributors").alias("actor"),
        F.lit("kill").alias("perspective"),
        "ts_ms",
        F.col("contributors").alias("allies"),
        F.array("victim").alias("enemies"),
        F.array("victim").alias("victims"),
    )
    death_rows = base.select(
        "match_id",
        F.col("victim").alias("actor"),
        F.lit("death").alias("perspective"),
        "ts_ms",
        F.array("victim").alias("allies"),
        F.col("contributors").alias("enemies"),
        F.array("victim").alias("victims"),
    )
    return kill_rows.unionByName(death_rows)


# ---------------------------------------------------------------------------
# Stage 2 — ±15 s set enrichment (declarative: join + set-union aggregation)
# ---------------------------------------------------------------------------
def enrich_adjacent_sets(
    perspectives: DataFrame,
    raw_kills: DataFrame,
    window_ms: int = 15_000,
    match_col: str = "match_id",
    ts_col: str = "ts_ms",
    killer_col: str = "killer",
    victim_col: str = "victim",
    assists_col: str = "assists",
) -> DataFrame:
    """Grow each perspective row's enemy/victim (kill) or ally/victim
    (death) sets from fight events within ±`window_ms`.

    Reference semantics (`utils.py:538-577`), kill perspective:
      - adjacent event whose contributors intersect my (fixed) allies →
        its victim joins `enemies` and `victims`;
      - adjacent event whose victim is one of my allies (and is NOT a
        contributor — the reference's per-ally `elif` only skips branch 2
        for the ally that is both victim and contributor) → its
        contributors join `enemies`, its victim joins `victims`.
    The reference loops per ally with an if/elif, so BOTH branches can
    fire for one adjacent event via *different* allies (e.g. a killerId=0
    execution putting 0 in the own side while the victim is also own
    side) — the branches accumulate independently here, never
    exclusively. Death perspective mirrors with allies/enemies swapped
    (`utils.py:564-577`). All additions are append-if-absent against sets
    that are never re-read during the scan → order-insensitive → a join +
    `collect_set` + `array_union` reproduces them exactly.
    """
    # Banded range join: key = (match, time bucket of width 2·window) so
    # joined groups are O(events per window), not the per-match cross
    # product (quadratic in kills per match — the blowup a plain
    # match-keyed join hits at scale). Each perspective row probes the
    # ≤2 buckets its ±window overlaps; each kill registers in its own.
    width = max(2 * window_ms, 1)
    adj = raw_kills.select(
        F.col(match_col).alias("match_id"),
        F.col(ts_col).alias("adj_ts"),
        F.floor(F.col(ts_col) / width).alias("_bucket"),
        F.array_union(
            F.array(F.col(killer_col)), F.coalesce(F.col(assists_col), F.array())
        ).alias("adj_contributors"),
        F.col(victim_col).alias("adj_victim"),
    )
    p = perspectives.select(
        "match_id",
        "actor",
        "perspective",
        "ts_ms",
        "allies",
        "enemies",
        "victims",
        F.explode(
            F.sequence(
                F.floor((F.col("ts_ms") - window_ms) / width),
                F.floor((F.col("ts_ms") + window_ms) / width),
            )
        ).alias("_bucket"),
    )
    joined = p.join(adj, ["match_id", "_bucket"]).filter(
        F.col("adj_ts").between(
            F.col("ts_ms") - window_ms, F.col("ts_ms") + window_ms
        )
    )
    # My "own side" set is fixed: allies for kills, enemies for deaths.
    own = F.when(F.col("perspective") == "kill", F.col("allies")).otherwise(
        F.col("enemies")
    )
    side_scored = F.arrays_overlap(F.col("adj_contributors"), own)
    # branch 2 fires for an ally equal to the victim only via the per-ally
    # elif — i.e. never when that ally is itself a contributor
    side_died = F.array_contains(own, F.col("adj_victim")) & ~F.array_contains(
        F.col("adj_contributors"), F.col("adj_victim")
    )
    gained_opponents = F.concat(
        F.when(side_scored, F.array(F.col("adj_victim"))).otherwise(F.array()),
        F.when(side_died, F.col("adj_contributors")).otherwise(F.array()),
    )
    gained_victims = F.when(
        side_scored | side_died, F.array(F.col("adj_victim"))
    ).otherwise(F.array())
    agg = (
        joined.select(
            "match_id",
            "actor",
            "perspective",
            "ts_ms",
            "allies",
            "enemies",
            "victims",
            gained_opponents.alias("gained_opponents"),
            gained_victims.alias("gained_victims"),
        )
        .groupBy("match_id", "actor", "perspective", "ts_ms", "allies", "enemies", "victims")
        .agg(
            F.array_distinct(
                F.flatten(F.collect_list("gained_opponents"))
            ).alias("opp_additions"),
            F.array_distinct(F.flatten(F.collect_list("gained_victims"))).alias(
                "victim_additions"
            ),
        )
    )
    # Kills grow enemies; deaths grow allies. Victims grow for both.
    new_enemies = F.when(
        F.col("perspective") == "kill",
        F.array_union("enemies", "opp_additions"),
    ).otherwise(F.col("enemies"))
    new_allies = F.when(
        F.col("perspective") == "death",
        F.array_union("allies", "opp_additions"),
    ).otherwise(F.col("allies"))
    return agg.select(
        "match_id",
        "actor",
        "perspective",
        "ts_ms",
        new_allies.alias("allies"),
        new_enemies.alias("enemies"),
        F.array_union("victims", "victim_additions").alias("victims"),
    )


# ---------------------------------------------------------------------------
# Stage 3 — +30 s subset-merge (order-dependent → grouped applyInPandas)
# ---------------------------------------------------------------------------
MERGED_FIGHT_SCHEMA = T.StructType(
    [
        T.StructField("match_id", T.LongType()),
        T.StructField("actor", T.LongType()),
        T.StructField("perspective", T.StringType()),
        T.StructField("ts_ms", T.LongType()),
        T.StructField("allies", T.ArrayType(T.LongType())),
        T.StructField("enemies", T.ArrayType(T.LongType())),
        T.StructField("victims", T.ArrayType(T.LongType())),
    ]
)


def merge_fight_group(events: list[dict], horizon_ms: int = 30_000) -> list[dict]:
    """The reference's exact forward subset-merge (`utils.py:586-626`),
    over one (match, actor)'s ts-ordered fight events.

    For each surviving event, scan ≤`horizon_ms` ahead:
      - later victims ⊆ current victims → absorb later's allies/enemies
        (append-if-absent, preserving order), clear later's victims;
      - current victims ⊆ later victims → absorb current into later,
        clear current, break to the next event;
      - partial overlap → subtract current's victims from later's.
    Events left with empty victims are dropped. Non-associative: the fold
    order is the ts order, which is why this stays imperative per group.
    """
    evs = [dict(e) for e in events]
    for idx, event in enumerate(evs):
        if not len(event["victims"]):
            continue
        t = event["ts_ms"]
        for later in evs[idx + 1 :]:
            if later["ts_ms"] > t + horizon_ms:
                continue
            if not len(later["victims"]):
                continue
            if all(v in event["victims"] for v in later["victims"]):
                for ally in later["allies"]:
                    if ally not in event["allies"]:
                        event["allies"].append(ally)
                for enemy in later["enemies"]:
                    if enemy not in event["enemies"]:
                        event["enemies"].append(enemy)
                later["victims"] = []
            elif all(v in later["victims"] for v in event["victims"]):
                for ally in event["allies"]:
                    if ally not in later["allies"]:
                        later["allies"].append(ally)
                for enemy in event["enemies"]:
                    if enemy not in later["enemies"]:
                        later["enemies"].append(enemy)
                event["victims"] = []
                break
            elif any(v in event["victims"] for v in later["victims"]):
                later["victims"] = [
                    v for v in later["victims"] if v not in event["victims"]
                ]
    return [e for e in evs if len(e["victims"])]


#: array<struct> element type carried through the merge UDF — one entry
#: per fight event, grouped per (match, actor).
_EVENTS_ARR = T.ArrayType(
    T.StructType(
        [
            T.StructField("perspective", T.StringType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("allies", T.ArrayType(T.LongType())),
            T.StructField("enemies", T.ArrayType(T.LongType())),
            T.StructField("victims", T.ArrayType(T.LongType())),
        ]
    )
)


@F.pandas_udf(_EVENTS_ARR)
def _merge_fight_events_udf(groups: pd.Series, horizon: pd.Series) -> pd.Series:
    """Fold one collected event-array per row through the reference
    merge. The sort key mirrors the old grouped-map's stable mergesort on
    (ts, kill-before-death); Python's sort is equally stable. `horizon`
    rides in as a literal column so one compiled UDF serves any
    horizon_ms.

    The nested ``array<struct>`` Arrow input is tested on PySpark 4.1.2;
    no lower version has been verified."""
    out = []
    for evs, hz in zip(groups, horizon):
        events = sorted(
            (
                {
                    "perspective": e["perspective"],
                    "ts_ms": int(e["ts_ms"]),
                    "allies": list(e["allies"]),
                    "enemies": list(e["enemies"]),
                    "victims": list(e["victims"]),
                }
                for e in evs
            ),
            key=lambda e: (e["ts_ms"], 0 if e["perspective"] == "kill" else 1),
        )
        out.append(merge_fight_group(events, int(hz)))
    return pd.Series(out)


def subset_merge(
    enriched: DataFrame, horizon_ms: int = 30_000
) -> DataFrame:
    """Distributed wrapper: group by (match, actor) — the reference merges
    one participant's kills AND deaths in a single ts-sorted list
    (``sorted(kills+deaths)``, `utils.py:582`; kills sort before deaths on
    ts ties because Python's sort is stable over the concatenation) — then
    run the exact reference fold per group.

    The Python boundary is ONE Arrow pandas_udf over per-group
    ``collect_list`` arrays (the grouping/sorting work stays in the JVM).
    The previous grouped-map ``applyInPandas`` built a pandas DataFrame
    per (match, actor) group — ~5-7 ms of constructor overhead per group
    that dwarfed the actual fold on the typical 2-5 row group (history_row
    dominant stage, ~12 s executor time for ~1600 groups; full-volume
    merge 57 s → 2.4 s with the array fold at sf0.1)."""
    # Fast path: a (match, actor) group where no event lies within
    # `horizon_ms` of its predecessor cannot merge anything — the fold is
    # the identity — so those groups never cross the Python boundary.
    # For sparse event streams (most of a large corpus) this sends only
    # the dense clusters through Arrow.
    w = Window.partitionBy("match_id", "actor").orderBy(
        F.col("ts_ms").asc(),
        F.when(F.col("perspective") == "kill", 0).otherwise(1).asc(),
    )
    gap = F.col("ts_ms") - F.lag("ts_ms").over(w)
    flagged = enriched.withColumn(
        "_dense",
        F.max(
            F.when(gap.isNotNull() & (gap <= horizon_ms), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).over(
            Window.partitionBy("match_id", "actor").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    ).persist()
    # ^ two consumers (the sparse and dense filters below): without the
    # persist each side re-executes the FULL upstream — the banded
    # enrichment join included — doubling the pipeline's dominant stage
    # (history_row warm pass at sf0.1: 8.6 → 2.1 s once the branch is
    # materialized). Storage is the enriched fight rows, LRU-evictable;
    # a repeat call over the same input plans an identical frame, which
    # Spark's cache holds only once.
    sparse = flagged.filter(F.col("_dense") == 0).select(
        *[f.name for f in MERGED_FIGHT_SCHEMA.fields]
    )
    dense = flagged.filter(F.col("_dense") == 1)
    grouped = dense.groupBy("match_id", "actor").agg(
        F.collect_list(
            F.struct("perspective", "ts_ms", "allies", "enemies", "victims")
        ).alias("_evs")
    )
    merged_dense = grouped.select(
        "match_id",
        "actor",
        F.explode(
            _merge_fight_events_udf(F.col("_evs"), F.lit(horizon_ms))
        ).alias("_e"),
    ).select(
        "match_id",
        "actor",
        F.col("_e.perspective").alias("perspective"),
        F.col("_e.ts_ms").alias("ts_ms"),
        F.col("_e.allies").alias("allies"),
        F.col("_e.enemies").alias("enemies"),
        F.col("_e.victims").alias("victims"),
    )
    return merged_dense.unionByName(sparse)


def parse_fights(
    kills: DataFrame,
    match_col: str = "match_id",
    ts_col: str = "ts_ms",
    killer_col: str = "killer",
    victim_col: str = "victim",
    assists_col: str = "assists",
    window_ms: int = 15_000,
    horizon_ms: int = 30_000,
) -> DataFrame:
    """Full fight pipeline: perspectives → ±15 s enrichment → +30 s merge.

    One call computes every actor's fights for every match — the
    reference's `parse_fights_one_game` (`utils.py:483-627`) does one
    (match, participant) per invocation over parsed JSON.
    """
    cols = dict(
        match_col=match_col,
        ts_col=ts_col,
        killer_col=killer_col,
        victim_col=victim_col,
        assists_col=assists_col,
    )
    persp = kill_death_perspectives(kills, **cols)
    enriched = enrich_adjacent_sets(persp, kills, window_ms, **cols)
    return subset_merge(enriched, horizon_ms)


# ---------------------------------------------------------------------------
# Stage 4 — outcome bucketing (A10, utils.py:630-726)
# ---------------------------------------------------------------------------
def outcome_buckets(
    fights: DataFrame, group_cols: Iterable[str] = ("actor",)
) -> DataFrame:
    """Solo/skirmish/team × win/neutral/loss profile per group.

    outcome = |victims ∩ enemies| − |victims ∩ allies| (sign → w/n/l);
    bucket: |allies| == 1 → solo, < 4 → skirmish, else team
    (`utils.py:686-699`). ratio = (wins − losses)/n_groups_rows and
    aggro = fights/n — emitted as counts here; callers derive ratios
    against their own game-count denominator.
    """
    outcome = F.size(F.array_intersect("victims", "enemies")) - F.size(
        F.array_intersect("victims", "allies")
    )
    bucket = (
        F.when(F.size("allies") == 1, F.lit("solo"))
        .when(F.size("allies") < 4, F.lit("skirmish"))
        .otherwise(F.lit("team"))
    )
    result = (
        F.when(outcome > 0, F.lit("win"))
        .when(outcome < 0, F.lit("loss"))
        .otherwise(F.lit("neutral"))
    )
    g = list(group_cols)
    out = (
        fights.select(*g, bucket.alias("bucket"), result.alias("result"))
        .groupBy(*g)
        .pivot("bucket", ["solo", "skirmish", "team"])
        .agg(
            F.count(F.when(F.col("result") == "win", 1)).alias("win"),
            F.count(F.when(F.col("result") == "neutral", 1)).alias("neutral"),
            F.count(F.when(F.col("result") == "loss", 1)).alias("loss"),
        )
    )
    # absent (group, bucket) combos pivot to NULL; the count semantics is 0
    return out.na.fill(0, [c for c in out.columns if c not in g])
