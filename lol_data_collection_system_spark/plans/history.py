"""Per-player history aggregation — the reference's flagship dataflow
(`get_stats_history`, `utils.py:736-987`; SURVEY.md §3.1 step 7, §3.2).

The reference computes one player's history by walking their matchlist
newest-first over 3 one-week windows, fetching every match over the
network, and folding counters imperatively. This module computes EVERY
player's history in one DataFrame job over the ingested match store —
the single biggest capability-vs-architecture divergence the survey
calls out (§3.1: "the reference recomputes it per match over the
network").

Bit-exact quirks reproduced declaratively:
- `num_games` counts ALL matchlist entries (every week), then subtracts
  remakes among *processed* entries only (`utils.py:861,902-905` — the
  counter is incremented before the cap check and decremented only when
  the remake is seen, which requires being under the cap).
- The `max_games_lookback` cap applies to the running counter (which
  remake-decrements), so more than `cap` entries can be processed. The
  gate `rn − remakes_before(rn) ≤ cap` is monotone (the running value
  never decreases across rows), so a window cumsum reproduces the
  sequential fold exactly.
- Streak counters track the LAST run in walk order (the oldest run in
  time) minus its seed game; the counter for the other outcome is
  whatever the most recent reset left — 0 (`utils.py:939-956`).
- `previous_game_won` ∈ {−1, 0, +1} from the newest processed non-remake
  game (`utils.py:853-856` init + `:941-942`).
- Stat means default to 0 (not null) when no games (`utils.py:983-986`);
  fight ratios stay null with no games but are 0 with games and no
  fights (`utils.py:631-644`).
- primary/secondary lane ties break in TOP, JUNGLE, MID, BOTTOM, SUPPORT
  order (Python dict-key order of `utils.py:746-752`).
- FK gaps: an in-window matchlist entry whose match is missing from the
  store still counts toward `num_games`, `num_matches` and
  `num_matches_as_champion` and takes its walk slot under the
  `max_games` cap (the reference increments its counters before it
  fetches the match, `utils.py:861`, `:1019-1021`). It contributes no
  per-game stat, lane, streak, fight, spell or rune count: its NULL
  `game_duration` fails every remake and non-remake filter, so it is
  never decremented either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators import fights as fight_ops
from ..sources.documents import HISTORY_STAT_NAMES, history_stat_columns

WEEK_MS = 7 * 24 * 60 * 60 * 1000
LANE_ORDER = ["TOP", "JUNGLE", "MID", "BOTTOM", "SUPPORT"]


def _walk_entries(
    anchors: DataFrame, matchlist: DataFrame, max_weeks: int
) -> DataFrame:
    """Anchor ⋈ matchlist restricted to the 3-week lookback, tagged with
    the walk order (week outward, newest-first within week — the order
    the reference's API loop produces) and the processing gate.

    The reference computes one history per (anchor match, participant),
    so every window/group downstream keys on (account_id, anchor_ts) —
    `anchor_ts` being the anchor's own cutoff — never on account_id
    alone: two anchors for the same account get two independent walks
    instead of interleaved ranks and mixed counters."""
    cutoff = F.col("match_time_ms") - 1000  # 1 s anchor offset, utils.py:852
    ml = (
        anchors.join(matchlist, "account_id")
        .withColumn("anchor_ts", F.col("match_time_ms"))
        .withColumn(
            "week_i",
            F.floor((cutoff - F.col("game_creation_ms")) / F.lit(WEEK_MS)),
        )
    )
    ml = ml.filter(
        (F.col("game_creation_ms") <= cutoff)
        & (F.col("week_i") >= 0)
        & (F.col("week_i") < max_weeks)
    )
    walk = Window.partitionBy("account_id", "anchor_ts").orderBy(
        F.col("week_i").asc(),
        F.col("game_creation_ms").desc(),
        F.col("game_id").desc(),
    )
    return ml.withColumn("rn", F.row_number().over(walk))


def walk_entries_with_matches(
    anchors: DataFrame,
    matchlist: DataFrame,
    matches: DataFrame,
    max_weeks: int,
    max_games: int,
) -> DataFrame:
    """The persisted walk frame both history AND availability fold over:
    in-window matchlist entries tagged with walk order, game_duration,
    the remake flag, and the processing gate. Built once and shared by
    `stats_history` and `stats_availability`.

    `matches` is LEFT-joined: an entry whose match is missing from the
    store keeps its row (and its walk slot) with NULL game_duration and
    NULL is_remake — see the FK-gap quirk in the module docstring."""
    entries = _walk_entries(anchors, matchlist, max_weeks)
    entries = entries.join(
        matches.select(F.col("match_id").alias("game_id"), "game_duration"),
        "game_id",
        "left",
    ).withColumn("is_remake", F.col("game_duration") < 300)

    walk = Window.partitionBy("account_id", "anchor_ts").orderBy("rn")
    prev_remakes = F.coalesce(
        F.sum(F.col("is_remake").cast("long")).over(
            walk.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return entries.withColumn(
        "processed", (F.col("rn") - prev_remakes) <= max_games
    ).persist()  # consumed by the totals agg AND the base join


def stats_history(
    entries: DataFrame,
    anchors: DataFrame,
    participants: DataFrame,
    lane_map: DataFrame,
    kill_events: DataFrame,
) -> DataFrame:
    """One wide history row per anchor.

    entries:      `walk_entries_with_matches` over these anchors
    anchors:      (account_id, reallane, match_time_ms)
    participants: exploded participant rows (sources.documents)
    lane_map:     champion_lane_mapping output
    kill_events:  (match_id, ts_ms, killer, victim, assists) CHAMPION_KILLs
    """

    # The participant the account played: champion-based lookup — account
    # ids churn historically, champion is stable in-match (utils.py:921-922)
    pstats = participants.select(
        F.col("match_id").alias("game_id"),
        F.col("champion_id"),
        F.col("participant_id"),
        F.col("stats"),
        F.col("tl"),
        F.col("stats.win").alias("win"),
    )
    base = (
        entries.filter(F.col("processed") & ~F.col("is_remake"))
        .join(pstats, ["game_id", "champion_id"])
        .join(
            lane_map.select(
                F.col("match_id").alias("game_id"),
                "champion_id",
                F.col("lane").alias("lane_then"),
            ),
            ["game_id", "champion_id"],
        )
    )
    stat_cols = history_stat_columns(F.col("stats"), F.col("tl"))
    base = base.select(
        "account_id",
        "anchor_ts",
        "reallane",
        "game_id",
        "participant_id",
        "rn",
        "lane_then",
        "win",
        *[c.alias(n) for n, c in stat_cols.items()],
    ).persist()
    # ^ five independent consumers (lane histogram, streak islands,
    # stat means, the fights join, assembly) — Spark has no automatic
    # subplan reuse across them, so the walk join + stat extraction
    # would otherwise re-execute per consumer.

    # ---- counters ---------------------------------------------------------
    totals = entries.groupBy("account_id", "anchor_ts").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.count(F.when(F.col("processed") & F.col("is_remake"), 1)).alias(
            "n_processed_remakes"
        ),
    )

    # ---- lanes histogram + in-lane count ----------------------------------
    lane_counts = (
        base.groupBy("account_id", "anchor_ts").pivot("lane_then", LANE_ORDER).count()
    )
    lane_counts = lane_counts.na.fill(0, LANE_ORDER)

    # ---- previous_game_won + streaks (gaps-and-islands, last island) ------
    w_walk = Window.partitionBy("account_id", "anchor_ts").orderBy("rn")
    flagged = base.withColumn(
        "chg",
        F.when(F.lag("win").over(w_walk).isNull(), 1)
        .when(F.lag("win").over(w_walk) != F.col("win"), 1)
        .otherwise(0),
    ).withColumn(
        "island",
        F.sum("chg").over(w_walk.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runs = flagged.groupBy("account_id", "anchor_ts", "island").agg(
        F.first("win").alias("run_win"), F.count(F.lit(1)).alias("run_len")
    )
    last_run = (
        runs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("account_id", "anchor_ts").orderBy(
                    F.col("island").desc()
                )
            ),
        )
        .filter(F.col("rk") == 1)
        .select(
            "account_id",
            "anchor_ts",
            F.when(F.col("run_win"), F.col("run_len") - 1)
            .otherwise(F.lit(0))
            .alias("consecutive_wins"),
            F.when(~F.col("run_win"), F.col("run_len") - 1)
            .otherwise(F.lit(0))
            .alias("consecutive_losses"),
        )
    )
    first_game = (
        flagged.withColumn(
            "first_rk",
            F.row_number().over(
                Window.partitionBy("account_id", "anchor_ts").orderBy("rn")
            ),
        )
        .filter(F.col("first_rk") == 1)
        .select(
            "account_id",
            "anchor_ts",
            F.when(F.col("win"), F.lit(1)).otherwise(F.lit(-1)).alias(
                "previous_game_won"
            ),
        )
    )

    # ---- stat means (all + in-lane), 0 when empty -------------------------
    mean_aggs = []
    for n in HISTORY_STAT_NAMES:
        mean_aggs.append(F.avg(n).alias(f"total_{n}"))
        mean_aggs.append(
            F.avg(F.when(F.col("lane_then") == F.col("reallane"), F.col(n))).alias(
                f"lane_{n}"
            )
        )
    means = base.groupBy("account_id", "anchor_ts").agg(
        F.count(F.lit(1)).alias("n_base_games"),
        F.count(F.when(F.col("lane_then") == F.col("reallane"), 1)).alias(
            "num_games_in_current_lane"
        ),
        *mean_aggs,
    )

    # ---- aggressiveness profile over fights -------------------------------
    played = base.select("account_id", "anchor_ts", "game_id", "participant_id")
    fights = fight_ops.parse_fights(
        kill_events.join(
            played.select(F.col("game_id").alias("match_id")).distinct(), "match_id"
        )
    )
    my_fights = fights.join(
        played.select(
            F.col("game_id").alias("match_id"),
            F.col("participant_id").alias("actor"),
            "account_id",
            "anchor_ts",
        ),
        ["match_id", "actor"],
    )
    buckets = fight_ops.outcome_buckets(my_fights, ["account_id", "anchor_ts"])
    profile_cols = []
    for b in ["solo", "skirmish", "team"]:
        # try_divide: 0 games → null ratios (the reference's None,
        # utils.py:632-637); ANSI mode would otherwise raise on 0
        ratio = F.try_divide(
            (F.col(f"{b}_win") - F.col(f"{b}_loss")).cast("double"),
            F.col("n_base_games"),
        )
        aggro = F.try_divide(
            (F.col(f"{b}_win") + F.col(f"{b}_neutral") + F.col(f"{b}_loss")).cast(
                "double"
            ),
            F.col("n_base_games"),
        )
        profile_cols += [ratio.alias(f"{b}_ratio"), aggro.alias(f"{b}_aggro")]

    # ---- assemble ---------------------------------------------------------
    akeys = ["account_id", "anchor_ts"]
    out = (
        anchors.withColumn("anchor_ts", F.col("match_time_ms"))
        .join(totals, akeys, "left")
        .join(means, akeys, "left")
        .join(lane_counts, akeys, "left")
        .join(last_run, akeys, "left")
        .join(first_game, akeys, "left")
        .join(buckets, akeys, "left")
    )
    out = out.na.fill(
        0,
        ["n_entries", "n_processed_remakes", "n_base_games", "num_games_in_current_lane"]
        + LANE_ORDER
        + ["consecutive_wins", "consecutive_losses", "previous_game_won"]
        + [f"{b}_{r}" for b in ["solo", "skirmish", "team"] for r in ["win", "neutral", "loss"]],
    )
    out = out.na.fill(
        0.0,
        [f"total_{n}" for n in HISTORY_STAT_NAMES]
        + [f"lane_{n}" for n in HISTORY_STAT_NAMES],
    )

    # primary/secondary lane with first-wins ties in LANE_ORDER
    lane_struct = F.array(
        *[
            F.struct(F.col(l).alias("n"), F.lit(i).alias("ord"), F.lit(l).alias("lane"))
            for i, l in enumerate(LANE_ORDER)
        ]
    )
    best = F.array_max(
        F.transform(
            lane_struct,
            lambda s: F.struct(
                s["n"].alias("n"), (-s["ord"]).alias("neg_ord"), s["lane"].alias("lane")
            ),
        )
    )
    primary = best["lane"]
    out = out.withColumn("primary_lane", primary)
    rest = F.filter(lane_struct, lambda s: s["lane"] != F.col("primary_lane"))
    best2 = F.array_max(
        F.transform(
            rest,
            lambda s: F.struct(
                s["n"].alias("n"), (-s["ord"]).alias("neg_ord"), s["lane"].alias("lane")
            ),
        )
    )
    out = out.withColumn("secondary_lane", best2["lane"])
    lane_priority = (
        F.when(F.col("reallane") == F.col("primary_lane"), F.lit("primary"))
        .when(F.col("reallane") == F.col("secondary_lane"), F.lit("secondary"))
        .otherwise(F.lit("autofill"))
    )

    n_games = (F.col("n_entries") - F.col("n_processed_remakes")).alias("num_games")
    return out.select(  # noqa: E501 — wide history row by design
        "account_id",
        "match_time_ms",  # anchor identity: one history row per anchor
        "reallane",
        lane_priority.alias("lane_priority"),
        n_games,
        "num_games_in_current_lane",
        "previous_game_won",
        "consecutive_wins",
        "consecutive_losses",
        *profile_cols,
        *[F.col(f"total_{n}") for n in HISTORY_STAT_NAMES],
        *[F.col(f"lane_{n}") for n in HISTORY_STAT_NAMES],
    )


def stats_availability(
    entries: DataFrame,
    anchors: DataFrame,
    participants: DataFrame,
    lane_map: DataFrame,
) -> DataFrame:
    """Availability counters (`get_stats_availability`,
    `utils.py:990-1098`; SURVEY.md A16): per account, how many recent
    matches exist overall / on the current champion / with the current
    summoner-spell pair / rune sextet / in-role.

    entries: `walk_entries_with_matches` over these anchors — the walk
    is cap-independent (`max_games` only sets the `processed` column,
    unused here), so `stats_history`'s frame serves as-is.
    anchors: (account_id, reallane, current_champion, spells_set
    array<int>, runes_set array<long>, match_time_ms).

    Faithful reference quirks:
    - NO games cap — every in-window matchlist entry is examined;
    - `num_matches` and `num_matches_as_champion` count remakes and
      FK-gap entries too (incremented before the match is fetched,
      never decremented);
    - `num_matches_in_role` counts `lane_then != reallane`
      (`utils.py:1070-1071` — the comparison is inverted in the
      reference; reproduced as-is for parity);
    - spell/rune comparisons are Python *set* equality →
      sorted-distinct array equality.
    """
    nonremake = entries.filter(F.col("game_duration") >= 300)
    top = entries.groupBy("account_id", "anchor_ts").agg(
        F.count(F.lit(1)).alias("num_matches"),
        F.count(
            F.when(F.col("champion_id") == F.col("current_champion"), 1)
        ).alias("num_matches_as_champion"),
    )
    detailed = (
        nonremake.join(
            participants.select(
                F.col("match_id").alias("game_id"),
                "champion_id",
                "spell1_id",
                "spell2_id",
                F.col("stats"),
            ),
            ["game_id", "champion_id"],
        )
        .join(
            lane_map.select(
                F.col("match_id").alias("game_id"),
                "champion_id",
                F.col("lane").alias("lane_then"),
            ),
            ["game_id", "champion_id"],
        )
    )
    spells_then = F.array_sort(
        F.array_distinct(F.array(F.col("spell1_id"), F.col("spell2_id")))
    )
    spells_now = F.array_sort(F.array_distinct(F.col("spells_set")))
    runes_then = F.array_sort(
        F.array_distinct(
            F.array(*[F.col("stats")[f"perk{i}"] for i in range(6)])
        )
    )
    runes_now = F.array_sort(F.array_distinct(F.col("runes_set")))
    sub = detailed.groupBy("account_id", "anchor_ts").agg(
        F.count(F.when(F.col("lane_then") != F.col("reallane"), 1)).alias(
            "num_matches_in_role"
        ),
        F.count(F.when(spells_then == spells_now, 1)).alias(
            "num_matches_with_summonerspells"
        ),
        F.count(F.when(runes_then == runes_now, 1)).alias(
            "num_matches_with_runes"
        ),
    )
    out = (
        anchors.select(
            "account_id", F.col("match_time_ms").alias("anchor_ts")
        )
        .join(top, ["account_id", "anchor_ts"], "left")
        .join(sub, ["account_id", "anchor_ts"], "left")
        .drop("anchor_ts")
    )
    return out.na.fill(
        0,
        [
            "num_matches",
            "num_matches_as_champion",
            "num_matches_in_role",
            "num_matches_with_summonerspells",
            "num_matches_with_runes",
        ],
    )
