"""Champion → lane mapping (SURVEY.md §2 A9/P13/U3; reference
`create_champion_lane_mapping`, `utils.py:419-480`).

Per (match, team), sequential elimination:
  1. JUNGLE  — argmax neutralMinionsKilled among smite carriers
               (spell 11), falling back to all candidates if no smite;
  2. SUPPORT — argmin totalMinionsKilled among remaining;
  3. TOP     — argmax count of minute-1..6 positions inside the topside
               area (y ≥ 4880 ∧ x ≤ 9880 ∧ y ≥ x+3000, `utils.py:421-422`);
  4. BOTTOM  — argmax bottomside count (y ≤ 9880 ∧ x ≥ 4880 ∧ y ≤ x−5000);
  5. MID     — the remaining candidate.

The position tallies are a declarative aggregation (boolean-sum per
participant); the elimination, where each pick constrains the next, is
`roles.assign_roles`: per-rule ranks and one SQL fold, no Python worker.
Python's `max`/`min` keep the first of equals in participants-array
order — ties on `participant_id` reproduce that deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import roles as role_ops

LANE_RULES = [
    role_ops.RoleRule("JUNGLE", "neutral_minions", ascending=False, prefilter="has_smite"),
    role_ops.RoleRule("SUPPORT", "total_minions", ascending=True),
    role_ops.RoleRule("TOP", "n_topside", ascending=False),
    role_ops.RoleRule("BOTTOM", "n_bottomside", ascending=False),
]


def position_tallies(participant_frames: DataFrame) -> DataFrame:
    """Per (match, participant): how many of the minute-1..6 snapshots sit
    in the topside / bottomside lane areas."""
    x, y = F.col("pos_x"), F.col("pos_y")
    topside = (y >= 4880) & (x <= 9880) & (y >= x + 3000)
    bottomside = (y <= 9880) & (x >= 4880) & (y <= x - 5000)
    return participant_frames.groupBy("match_id", "participant_id").agg(
        F.sum(topside.cast("int")).alias("n_topside"),
        F.sum(bottomside.cast("int")).alias("n_bottomside"),
    )


def champion_lane_mapping(
    participants: DataFrame, participant_frames: DataFrame
) -> DataFrame:
    """(match_id, champion_id, participant_id, team_id, lane) for all 10
    participants of every match in one job — the reference recomputes the
    mapping per participant per use (`active_data_gathering.py:150`)."""
    tallies = position_tallies(participant_frames)
    cand = (
        participants.select(
            "match_id",
            "team_id",
            "participant_id",
            "champion_id",
            (
                (F.col("spell1_id") == 11) | (F.col("spell2_id") == 11)
            ).alias("has_smite"),
            F.col("stats.neutralMinionsKilled").alias("neutral_minions"),
            F.col("stats.totalMinionsKilled").alias("total_minions"),
        )
        .join(tallies, ["match_id", "participant_id"], "left")
        .na.fill(0, ["n_topside", "n_bottomside"])
    )
    assigned = role_ops.assign_roles(
        cand,
        ["match_id", "team_id"],
        LANE_RULES,
        "participant_id",
        remainder_role="MID",
    )
    return assigned.join(
        cand.select("match_id", "participant_id", "champion_id"),
        ["match_id", "participant_id"],
    ).select(
        "match_id",
        "team_id",
        "participant_id",
        "champion_id",
        F.col("role").alias("lane"),
    )
