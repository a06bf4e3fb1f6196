"""Recurrent-delta pipeline (SURVEY.md §3.2, A11; reference
`find_recurrent_delta_across_n_games.py:96-203`).

Per (anchor participant, lane_role): the on-champion match history in
walk order, each game annotated with trailing k/d/a means over the last
2/3/4 games of the SAME lane_role list.

Faithful quirks:
- `delta_k` requires list index ≥ k, although the mean uses only the
  trailing k entries — delta2 first appears on the *third* on-champion
  game (`:176 if idx - 2 >= 0` vs the `range(2)` sum) — reproduced
  exactly, not "fixed".
- Historical stats are looked up by the ANCHOR match's participantId
  (`:160` filters `participantId == p_id`), not by champion — in a
  historical match that pid may be a different player; the declarative
  join reproduces this as-is.
- lane_role comes from the matchlist entry (`'{lane}_{role}'`, `:161`);
  the on-champion cap counts across all lane_roles (`:166-169`).

One job computes every participant's deltas — the reference fetches
matchlists + matches over the network per participant per anchor match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .history import _walk_entries


def recurrent_deltas(
    anchors: DataFrame,
    matchlist: DataFrame,
    participants: DataFrame,
    max_weeks: int = 3,
    max_parsed: int = 40,
    ks: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """anchors: (account_id, anchor_pid, champion_id as anchor_champion,
    match_time_ms); matchlist: MATCHLIST_ENTRY rows; participants:
    exploded participant rows with stats.

    Returns one row per (account, lane_role, on-champion game) with
    kills/deaths/assists and delta{k}_{stat} columns (null before the
    reference's idx ≥ k threshold).
    """
    entries = _walk_entries(anchors, matchlist, max_weeks).drop("rn")
    on_champ = entries.filter(
        F.col("champion_id") == F.col("anchor_champion")
    )
    walk = Window.partitionBy("account_id", "anchor_ts").orderBy(
        F.col("week_i").asc(),
        F.col("game_creation_ms").desc(),
        F.col("game_id").desc(),
    )
    on_champ = on_champ.withColumn("parse_rn", F.row_number().over(walk)).filter(
        F.col("parse_rn") <= max_parsed
    )
    stats = participants.select(
        F.col("match_id").alias("game_id"),
        F.col("participant_id").alias("anchor_pid"),
        F.col("stats.kills").alias("kills"),
        F.col("stats.deaths").alias("deaths"),
        F.col("stats.assists").alias("assists"),
    )
    rows = on_champ.join(stats, ["game_id", "anchor_pid"]).withColumn(
        "lane_role", F.concat_ws("_", F.col("lane"), F.col("role"))
    )
    w_lr = Window.partitionBy("account_id", "anchor_ts", "lane_role").orderBy(
        "parse_rn"
    )
    rows = rows.withColumn("idx", F.row_number().over(w_lr) - 1)
    out_cols = [
        "account_id",
        "lane_role",
        "game_id",
        "idx",
        "kills",
        "deaths",
        "assists",
    ]
    delta_cols = []
    for k in ks:
        frame = w_lr.rowsBetween(-(k - 1), 0)
        for stat in ("kills", "deaths", "assists"):
            trailing = F.sum(stat).over(frame) / F.lit(k)
            delta_cols.append(
                F.when(F.col("idx") >= k, trailing).alias(f"delta{k}_{stat}")
            )
    return rows.select(*out_cols, *delta_cols)
