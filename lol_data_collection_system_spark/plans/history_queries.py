"""End-to-end driver gate for the flagship history dataflow: ONE query
(`history_row`) spanning stat means + streaks + lanes + fight profile +
availability counters — the full `get_stats_history` +
`get_stats_availability` composition (reference `utils.py:736-1098`) —
over LoL-shaped inputs synthesized in closed form from the driver's
`events` table.

Oracle strategy (the `fight_oracle.py` pattern): the fight profile rides
on the order-dependent +30 s subset-merge, which is not ANSI-SQL, so the
value oracle is a parquet fixture materialized from an INDEPENDENT
pure-Python walk of the reference fold — entries come from DuckDB running
the same closed-form entry SQL, the walk mirrors `utils.py:736-987`
imperatively (the same clean-room fold `tests/lol_fixture.py` pins the
Spark plan against), and the fixture is keyed by ``n_src_events`` so one
file serves sf0.001 (pytest) and sf0.01 (driver).

Float determinism: every synthesized stat is integer-valued, counts stay
under 2^53, and each emitted mean/ratio is ONE division of exact
integers — bit-identical across Spark, Python, and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.fights import merge_fight_group
from ..session import shared
from ..sources import load_table
from . import history as history_plan
from .fight_oracle import DEFAULT_SF_DIRS
from .fixtures import FIXTURE_DIR, refresh_fixture

N_ACCOUNTS = 20
N_CHAMPS = 9
LANES = ["TOP", "JUNGLE", "MID", "BOTTOM", "SUPPORT"]
WEEK_MS = history_plan.WEEK_MS
MAX_WEEKS = 3
MAX_GAMES = 40

FIXTURE_PATH = FIXTURE_DIR / "history_row_oracle.parquet"
_META_PATH = FIXTURE_DIR / "history_row_oracle.meta.json"

#: per-game stat closed forms over g = event_id (all integer-valued —
#: sums stay exact in double, so cross-engine means are bit-identical).
_BUCKETS = [("0_to_10", "0-10"), ("10_to_20", "10-20"),
            ("20_to_30", "20-30"), ("30_to_40", "30-40")]


# ---------------------------------------------------------------------------
# Spark-side synthesis: events -> (anchors, matchlist, matches,
# participants, lane_map, kills), every column a closed form of
# (event_id, user_id, ts) that the Python oracle mirrors verbatim.
# ---------------------------------------------------------------------------
def synthetic_history_inputs(spark: SparkSession, sf_dir: str):
    events = load_table(spark, sf_dir, "events")
    g = F.col("event_id")
    lanes_arr = F.array(*[F.lit(l) for l in LANES])

    matchlist = events.select(
        F.pmod(F.col("user_id"), F.lit(N_ACCOUNTS)).alias("account_id"),
        g.alias("game_id"),
        F.pmod(g, F.lit(N_CHAMPS)).alias("champion_id"),
        F.unix_millis(F.col("ts")).alias("game_creation_ms"),
    )
    anchors = matchlist.groupBy("account_id").agg(
        F.max("game_creation_ms").alias("match_time_ms")
    ).select(
        "account_id",
        F.element_at(
            lanes_arr, (F.pmod(F.col("account_id"), F.lit(5)) + 1).cast("int")
        ).alias("reallane"),
        "match_time_ms",
        F.pmod(F.col("account_id"), F.lit(N_CHAMPS)).alias("current_champion"),
        F.array(F.lit(4), F.lit(12)).alias("spells_set"),
        F.array(*[F.lit(9100 + i).cast("long") for i in range(6)]).alias(
            "runes_set"
        ),
    )
    matches = events.select(
        g.alias("match_id"),
        F.when(g % 11 == 0, F.lit(200))
        .otherwise(F.lit(1500) + g % 600)
        .alias("game_duration"),
    )
    stats = F.struct(
        (g % 2 == 0).alias("win"),
        (F.lit(9000) + g % 700).alias("goldEarned"),
        (F.lit(8000) + g % 650).alias("goldSpent"),
        (F.lit(8) + g % 10).alias("champLevel"),
        (F.lit(10000) + (g * 13) % 9000).alias("totalDamageDealtToChampions"),
        *[
            (F.lit(9100) + (g % 2) * 7 + F.lit(i)).cast("long").alias(f"perk{i}")
            for i in range(6)
        ],
    )
    gold_base = [
        F.lit("0-10"), (F.lit(300) + g % 50).cast("double"),
        F.lit("10-20"), (F.lit(380) + g % 40).cast("double"),
    ]
    gold_full = gold_base + [
        F.lit("20-30"), (F.lit(410) + g % 30).cast("double"),
        F.lit("30-40"), (F.lit(390) + g % 20).cast("double"),
    ]
    tl = F.struct(
        F.when(g % 2 == 0, F.create_map(*gold_full))
        .otherwise(F.create_map(*gold_base))
        .alias("goldPerMinDeltas"),
        F.when(
            g % 3 == 0,
            F.create_map(
                F.lit("0-10"), (g % 25 - 5).cast("double"),
                F.lit("10-20"), (g % 15 - 7).cast("double"),
            ),
        ).alias("xpDiffPerMinDeltas"),
    )
    participants = events.select(
        g.alias("match_id"),
        F.pmod(g, F.lit(N_CHAMPS)).alias("champion_id"),
        (g % 10 + 1).alias("participant_id"),
        F.when(g % 3 == 0, F.lit(4)).otherwise(F.lit(11)).alias("spell1_id"),
        F.lit(12).alias("spell2_id"),
        stats.alias("stats"),
        tl.alias("tl"),
    )
    lane_map = events.select(
        g.alias("match_id"),
        F.pmod(g, F.lit(N_CHAMPS)).alias("champion_id"),
        F.element_at(lanes_arr, (F.pmod(g, F.lit(5)) + 1).cast("int")).alias(
            "lane"
        ),
    )
    pid, q, r = g % 10 + 1, (g + 1) % 10 + 1, (g + 2) % 10 + 1
    kstruct = lambda ts, k, v: F.struct(  # noqa: E731
        F.lit(ts).cast("long").alias("ts_ms"),
        k.cast("long").alias("killer"),
        v.cast("long").alias("victim"),
    )
    base_kills = F.array(
        kstruct(300_000, r, q), kstruct(600_000, pid, q),
        kstruct(610_000, q, pid),
    )
    karr = (
        F.when(
            g % 4 == 3,
            F.array().cast("array<struct<ts_ms:long,killer:long,victim:long>>"),
        )
        .when(g % 2 == 0, F.concat(base_kills, F.array(kstruct(615_000, pid, r))))
        .otherwise(base_kills)
    )
    kills = events.select(
        g.alias("match_id"), F.explode(karr).alias("k")
    ).select(
        "match_id",
        F.col("k.ts_ms").alias("ts_ms"),
        F.col("k.killer").alias("killer"),
        F.col("k.victim").alias("victim"),
        F.array().cast("array<long>").alias("assists"),
    )
    return anchors, matchlist, matches, participants, lane_map, kills


def q_history_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship wide row: per synthetic account, stat means (overall
    + in-lane), win/loss streaks, lane histogram priority, the fight
    aggressiveness profile (±15 s enrichment + 30 s subset-merge), and
    the five availability counters — the whole reference composition in
    one driver-gated plan."""
    # Each input frame feeds several branches of stats_history /
    # stats_availability (entries, base, means, streaks, fights, lanes,
    # availability all re-join them): sharing them per session replaces
    # ~70 re-scans of the source table with one materialization per
    # frame — the "match store" frames a real deployment would store
    # once across sessions (`sources.cache.materialize_summary`).
    anchors, matchlist, matches, participants, lane_map, kills = shared(
        spark,
        ("history_inputs", sf_dir),
        lambda: synthetic_history_inputs(spark, sf_dir),
    )
    entries = history_plan.walk_entries_with_matches(
        anchors, matchlist, matches, MAX_WEEKS, MAX_GAMES
    )
    hist = history_plan.stats_history(
        entries, anchors, participants, lane_map, kills
    )
    avail = history_plan.stats_availability(
        entries, anchors, participants, lane_map
    )
    return hist.join(avail, "account_id")


# ---------------------------------------------------------------------------
# Pure-Python oracle walk (independent of the Spark plan; same clean-room
# fold tests/lol_fixture.py pins, adapted to the closed-form synthesis)
# ---------------------------------------------------------------------------
def _stat_values(g: int) -> dict[str, float]:
    gold = {"0-10": 300 + g % 50, "10-20": 380 + g % 40}
    if g % 2 == 0:
        gold.update({"20-30": 410 + g % 30, "30-40": 390 + g % 20})
    xp = {"0-10": g % 25 - 5, "10-20": g % 15 - 7} if g % 3 == 0 else {}
    out = {
        "gold_earned": 9000 + g % 700,
        "gold_spent": 8000 + g % 650,
        "champion_level": 8 + g % 10,
        "damage_to_champions_total": 10000 + (g * 13) % 9000,
    }
    for lbl, key in _BUCKETS:
        out[f"gold_per_min_{lbl}"] = gold.get(key, 0)
        out[f"xp_gained_diff_per_min_{lbl}"] = xp.get(key, 0)
    return out


def _kills_of(g: int) -> list[dict]:
    if g % 4 == 3:
        return []
    pid, q, r = g % 10 + 1, (g + 1) % 10 + 1, (g + 2) % 10 + 1
    kills = [
        {"ts_ms": 300_000, "killer": r, "victim": q},
        {"ts_ms": 600_000, "killer": pid, "victim": q},
        {"ts_ms": 610_000, "killer": q, "victim": pid},
    ]
    if g % 2 == 0:
        kills.append({"ts_ms": 615_000, "killer": pid, "victim": r})
    return kills


def _fights_for_pid(kills: list[dict], pid: int) -> list[dict]:
    """Kill/death perspectives -> ±15 s enrichment (both branches can
    fire per adjacent event, matching the Spark enrichment and
    `fight_oracle.python_reference_pipeline`) -> +30 s subset-merge via
    the unit-pinned reference fold."""
    my = []
    for k in kills:
        contributors = [k["killer"]]
        if pid in contributors:
            my.append({"ts_ms": k["ts_ms"], "perspective": "kill",
                       "allies": list(contributors),
                       "enemies": [k["victim"]], "victims": [k["victim"]]})
        elif pid == k["victim"]:
            my.append({"ts_ms": k["ts_ms"], "perspective": "death",
                       "allies": [k["victim"]],
                       "enemies": list(contributors),
                       "victims": [k["victim"]]})
    for e in my:
        own = e["allies"] if e["perspective"] == "kill" else e["enemies"]
        grow = e["enemies"] if e["perspective"] == "kill" else e["allies"]
        for adj in kills:
            if not (e["ts_ms"] - 15_000 <= adj["ts_ms"] <= e["ts_ms"] + 15_000):
                continue
            contributors = [adj["killer"]]
            scored = any(o in contributors for o in own)
            died = adj["victim"] in own and adj["victim"] not in contributors
            if scored and adj["victim"] not in grow:
                grow.append(adj["victim"])
            if died:
                for c in contributors:
                    if c not in grow:
                        grow.append(c)
            if (scored or died) and adj["victim"] not in e["victims"]:
                e["victims"].append(adj["victim"])
    my.sort(key=lambda e: (e["ts_ms"], 0 if e["perspective"] == "kill" else 1))
    return merge_fight_group(my, 30_000)


_STAT_NAMES = [
    "gold_earned", "gold_spent",
    "gold_per_min_0_to_10", "gold_per_min_10_to_20",
    "gold_per_min_20_to_30", "gold_per_min_30_to_40",
    "damage_to_champions_total",
    "xp_gained_diff_per_min_0_to_10", "xp_gained_diff_per_min_10_to_20",
    "xp_gained_diff_per_min_20_to_30", "xp_gained_diff_per_min_30_to_40",
    "champion_level",
]


def oracle_account_row(account_id: int, entries: list[tuple[int, int]]) -> dict:
    """The reference walk for one account. `entries` = [(game_id,
    game_creation_ms)] for every matchlist row of the account."""
    match_time = max(gc for _, gc in entries)
    reallane = LANES[account_id % 5]
    lanes = {l: 0 for l in LANES}
    num_games = in_lane = consecutive_wins = consecutive_losses = 0
    winning = None
    previous_game_won = 0
    totals: dict[str, list] = {n: [] for n in _STAT_NAMES}
    lane_stats: dict[str, list] = {n: [] for n in _STAT_NAMES}
    fight_counts = {b: {"win": 0, "neutral": 0, "loss": 0}
                    for b in ["solo", "skirmish", "team"]}
    n_base = 0

    # availability (no cap; remakes counted in the top two; inverted
    # in-role comparison — utils.py:990-1098 quirks, see plans/history.py)
    num_matches = as_champ = in_role = with_spells = with_runes = 0

    for week_i in range(MAX_WEEKS):
        end = match_time - 1000 - week_i * WEEK_MS
        start = end - WEEK_MS
        week = [(gid, gc) for gid, gc in entries if start < gc <= end]
        week.sort(key=lambda t: (-t[1], -t[0]))
        for gid, _gc in week:
            remake = gid % 11 == 0
            lane_then = LANES[gid % 5]
            # ---- availability walk ----
            num_matches += 1
            if gid % N_CHAMPS == account_id % N_CHAMPS:
                as_champ += 1
            if not remake:
                if lane_then != reallane:
                    in_role += 1
                spells = {4 if gid % 3 == 0 else 11, 12}
                if spells == {4, 12}:
                    with_spells += 1
                if gid % 2 == 0:  # perks == {9100..9105} iff g even
                    with_runes += 1
            # ---- history walk (cap + remake-decrement quirks) ----
            num_games += 1
            if num_games > MAX_GAMES:
                continue
            if remake:
                num_games -= 1
                continue
            n_base += 1
            lanes[lane_then] += 1
            if lane_then == reallane:
                in_lane += 1
            vals = _stat_values(gid)
            for n in _STAT_NAMES:
                totals[n].append(vals[n])
                if lane_then == reallane:
                    lane_stats[n].append(vals[n])
            for e in _fights_for_pid(_kills_of(gid), gid % 10 + 1):
                outcome = len([v for v in e["victims"] if v in e["enemies"]]) \
                    - len([v for v in e["victims"] if v in e["allies"]])
                b = ("solo" if len(e["allies"]) == 1
                     else "skirmish" if len(e["allies"]) < 4 else "team")
                fight_counts[b][
                    "win" if outcome > 0 else "loss" if outcome < 0
                    else "neutral"
                ] += 1
            victory = gid % 2 == 0
            if previous_game_won == 0:
                previous_game_won = 1 if victory else -1
            if winning is None:
                winning = victory
            elif winning:
                if victory:
                    consecutive_wins += 1
                else:
                    winning, consecutive_wins = False, 0
            else:
                if not victory:
                    consecutive_losses += 1
                else:
                    winning, consecutive_losses = True, 0

    primary = max(lanes.keys(), key=lambda l: lanes[l])
    secondary = max((l for l in lanes if l != primary), key=lambda l: lanes[l])
    out = {
        "account_id": account_id,
        "match_time_ms": match_time,
        "reallane": reallane,
        "lane_priority": "primary" if reallane == primary
        else "secondary" if reallane == secondary else "autofill",
        "num_games": num_games,
        "num_games_in_current_lane": in_lane,
        "previous_game_won": previous_game_won,
        "consecutive_wins": consecutive_wins,
        "consecutive_losses": consecutive_losses,
        "num_matches": num_matches,
        "num_matches_as_champion": as_champ,
        "num_matches_in_role": in_role,
        "num_matches_with_summonerspells": with_spells,
        "num_matches_with_runes": with_runes,
    }
    for b in ["solo", "skirmish", "team"]:
        c = fight_counts[b]
        out[f"{b}_ratio"] = (
            (c["win"] - c["loss"]) / n_base if n_base else None
        )
        out[f"{b}_aggro"] = (
            (c["win"] + c["neutral"] + c["loss"]) / n_base if n_base else None
        )
    for n in _STAT_NAMES:
        out[f"total_{n}"] = (
            float(sum(totals[n])) / len(totals[n]) if totals[n] else 0.0
        )
        out[f"lane_{n}"] = (
            float(sum(lane_stats[n])) / len(lane_stats[n])
            if lane_stats[n] else 0.0
        )
    return out


ORACLE_HISTORY_ROW = f"""
SELECT * EXCLUDE (n_src_events)
FROM read_parquet('{FIXTURE_PATH}')
WHERE n_src_events = (SELECT COUNT(*) FROM events)
"""


def ensure_history_row_fixture(
    sf_dirs: tuple[str, ...] = DEFAULT_SF_DIRS,
) -> str:
    """(Re)generate the fixture for every existing sf_dir whose
    events.parquet fingerprint changed; return the fixture path."""
    return refresh_fixture(FIXTURE_PATH, _META_PATH, sf_dirs, _history_row_table)


def history_row_oracle() -> str:
    """``history_row``'s registered oracle: refresh the fixture, return
    the SQL that selects from it."""
    ensure_history_row_fixture()
    return ORACLE_HISTORY_ROW


def _history_row_table(sf_dirs: list[str]):
    import duckdb
    import pyarrow as pa

    rows: list[dict] = []
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        recs = con.execute(
            f"SELECT event_id, user_id % {N_ACCOUNTS}, epoch_ms(ts) "
            f"FROM '{sf_dir}/events.parquet'"
        ).fetchall()
        n_src = len(recs)
        con.close()
        by_acct: dict[int, list[tuple[int, int]]] = {}
        for gid, acct, gc in recs:
            by_acct.setdefault(int(acct), []).append((int(gid), int(gc)))
        for acct, entries in sorted(by_acct.items()):
            row = oracle_account_row(acct, entries)
            row["n_src_events"] = n_src
            rows.append(row)

    names = list(rows[0].keys())
    int_cols = {
        "account_id", "match_time_ms", "num_games",
        "num_games_in_current_lane", "previous_game_won",
        "consecutive_wins", "consecutive_losses", "num_matches",
        "num_matches_as_champion", "num_matches_in_role",
        "num_matches_with_summonerspells", "num_matches_with_runes",
        "n_src_events",
    }
    str_cols = {"reallane", "lane_priority"}
    return pa.table(
        {
            n: pa.array(
                [r[n] for r in rows],
                pa.int64() if n in int_cols
                else pa.string() if n in str_cols else pa.float64(),
            )
            for n in names
        }
    )
