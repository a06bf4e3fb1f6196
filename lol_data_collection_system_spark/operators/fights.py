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
   This fold is order-dependent and non-associative, so it runs per
   (match, actor) group over one totally sorted event array — kills and
   deaths merged jointly, matching the reference's ``sorted(kills+deaths)``
   fold — as a single SQL higher-order expression (`aggregate` over the
   event indexes). Catalyst plans it like any other expression; no row
   crosses into a Python worker. `merge_fight_group` is the same fold in
   plain Python, the reference the tests compare against.
4. **Outcome bucketing** (`outcome_buckets`): solo/skirmish/team ×
   win/neutral/loss counts and the ratio/aggro profile
   (`utils.py:630-726`) — a single conditional aggregation.

At 100 TB the expensive stage is (2)'s self-join; it shuffles once on the
match key and the ±15 s predicate is evaluated within co-located
partitions. (3) shuffles the (small) fight rows once more on the group key.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    # one kill row per contributor, then the victim's death row
    rows = (
        "concat(transform(contributors, a -> named_struct('actor', a, "
        "'perspective', 'kill', 'allies', contributors, 'enemies', array(victim))), "
        "array(named_struct('actor', victim, 'perspective', 'death', "
        "'allies', array(victim), 'enemies', contributors)))"
    )
    exploded = base.select(
        "match_id", "ts_ms", "victim", F.explode(F.expr(rows)).alias("_p")
    )
    return exploded.select(
        "match_id",
        "_p.actor",
        "_p.perspective",
        "ts_ms",
        "_p.allies",
        "_p.enemies",
        F.array("victim").alias("victims"),
    )


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
# Stage 3 — +30 s subset-merge (order-dependent → one array fold per group)
# ---------------------------------------------------------------------------
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


def _merge_sql(evs: str, horizon_ms: int) -> str:
    """`merge_fight_group` over the sorted event array `evs` as ONE SQL
    higher-order expression string (see `similarity.dot_sql`): an
    `aggregate` over the event indexes whose step i rewrites the array.

    Step i (skipped when event i's victims are already empty or no later
    event lies within `horizon_ms`) looks at the later events within the
    horizon that still have victims. `b` is the first of them whose
    victims strictly contain event i's (``size(acc)`` if none). Every
    looked-at event before `b` loses event i's victims — all of them when
    its victims are a subset, the shared ones on a partial overlap — and
    event i gains the allies/enemies of those it emptied. If `b` exists it
    gains event i's grown sets and event i's victims are cleared. Events
    left without victims drop."""
    vi = "acc[i].victims"
    # x (index k) is a later event within the horizon that still has victims
    seen = (
        f"k > i AND x.ts_ms <= acc[i].ts_ms + {horizon_ms} AND size(x.victims) > 0"
    )
    inside = f"size(array_except(x.victims, {vi})) = 0"
    covers = f"size(array_except({vi}, x.victims)) = 0"
    brk = (
        f"coalesce(array_min(transform(acc, (x, k) -> IF({seen} "
        f"AND {covers} AND NOT {inside}, k, NULL))), size(acc))"
    )

    def grown(f: str) -> str:
        # append-if-absent in event order == one array_union over the concat
        return (
            f"array_union(acc[i].{f}, flatten(transform(acc, (x, k) -> "
            f"IF({seen} AND k < b AND {inside}, x.{f}, array()))))"
        )

    def field(f: str) -> str:
        return (
            f"CASE WHEN j = i THEN {grown(f)} "
            f"WHEN j = b THEN array_union(e.{f}, {grown(f)}) ELSE e.{f} END"
        )

    # for i < j < b inside the horizon, array_except empties a subset and
    # strips the shared victims of a partial overlap; a disjoint or empty
    # set passes through unchanged
    victims = (
        f"CASE WHEN j = i THEN IF(b < size(acc), array(), e.victims) "
        f"WHEN j < b THEN array_except(e.victims, {vi}) ELSE e.victims END"
    )
    # only events i..b inside the horizon can change; the rest pass as is
    rewrite = (
        f"transform(acc, (e, j) -> IF(j < i OR j > b OR "
        f"e.ts_ms > acc[i].ts_ms + {horizon_ms}, e, "
        f"named_struct('ts_ms', e.ts_ms, "
        f"'death', e.death, 'allies', {field('allies')}, "
        f"'enemies', {field('enemies')}, 'victims', {victims}, "
        f"'perspective', e.perspective)))"
    )
    # ts-sorted: if the next event is beyond the horizon, so are the rest.
    # A one-element aggregate binds b once per step.
    step = (
        f"IF(size({vi}) = 0 OR i = size(acc) - 1 "
        f"OR acc[i + 1].ts_ms > acc[i].ts_ms + {horizon_ms}, acc, "
        f"aggregate(array({brk}), acc, (s, b) -> {rewrite}))"
    )
    return (
        f"filter(aggregate(sequence(0, size({evs}) - 1), {evs}, "
        f"(acc, i) -> {step}), e -> size(e.victims) > 0)"
    )


def subset_merge(
    enriched: DataFrame, horizon_ms: int = 30_000
) -> DataFrame:
    """Distributed wrapper: group by (match, actor) — the reference merges
    one participant's kills AND deaths in a single ts-sorted list
    (``sorted(kills+deaths)``, `utils.py:582`; kills sort before deaths on
    ts ties because Python's sort is stable over the concatenation) — then
    run the exact reference fold per group as one Catalyst expression
    (`_merge_sql`), with no Python worker.

    The list is `array_sort`ed on a total key — ts, kill before death,
    then allies, enemies, victims — so the fold never depends on the
    order `collect_list` happened to see, which a shuffle does not fix."""
    evs = F.array_sort(
        F.collect_list(
            F.struct(
                "ts_ms",
                (F.col("perspective") != "kill").alias("death"),
                "allies",
                "enemies",
                "victims",
                "perspective",
            )
        )
    )
    merged = enriched.groupBy("match_id", "actor").agg(evs.alias("_evs"))
    return merged.select(
        "match_id",
        "actor",
        F.explode(F.expr(_merge_sql("_evs", horizon_ms))).alias("_e"),
    ).select(
        "match_id",
        "actor",
        *[f"_e.{c}" for c in ("perspective", "ts_ms", "allies", "enemies", "victims")],
    )


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
