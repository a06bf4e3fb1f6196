"""Canonical schemas for the LoL data model (SURVEY.md §1).

Declared `StructType`s for the relational spine (`models.py:1-106`) and —
unlike the reference, which stores documents as opaque TEXT and pays a
full `json.loads` per row per use (`utils.py:866,874`) — explicit nested
schemas for the match-result and timeline documents, so `from_json`
yields typed columns Catalyst can prune and push down.

`participantFrames` is a map keyed by *string* participant id (the source
JSON iterates it as a dict, `utils.py:442`) → MapType(String, Struct).
Missing-key guards in the reference (`utils.py:446-447,766-845`) become
nullable fields + `coalesce` at extraction time.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Relational spine (models.py)
# ---------------------------------------------------------------------------
HISTORICAL_MATCH = T.StructType(
    [
        T.StructField("match_id", T.LongType()),
        T.StructField("region_id", T.LongType()),
        T.StructField("game_version_id", T.LongType()),
        T.StructField("regional_tier_avg", T.StringType()),
        T.StructField("game_duration", T.IntegerType()),
        T.StructField("match_result_json", T.StringType()),
        T.StructField("match_timeline_json", T.StringType()),
    ]
)

MATCHLIST_ENTRY = T.StructType(
    [
        T.StructField("account_id", T.LongType()),
        T.StructField("region_id", T.LongType()),
        T.StructField("game_id", T.LongType()),
        T.StructField("platform_id", T.StringType()),
        T.StructField("champion_id", T.LongType()),
        T.StructField("lane", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("game_creation_ms", T.LongType()),
    ]
)

# ---------------------------------------------------------------------------
# Match result document (participants ⋈ participantIdentities)
# ---------------------------------------------------------------------------
_DELTAS = T.MapType(T.StringType(), T.DoubleType())  # '0-10' → value

PARTICIPANT_TIMELINE = T.StructType(
    [
        T.StructField("goldPerMinDeltas", _DELTAS),
        T.StructField("creepsPerMinDeltas", _DELTAS),
        T.StructField("xpPerMinDeltas", _DELTAS),
        T.StructField("xpDiffPerMinDeltas", _DELTAS),
        T.StructField("damageTakenPerMinDeltas", _DELTAS),
    ]
)

PARTICIPANT_STATS = T.StructType(
    [
        T.StructField("win", T.BooleanType()),
        T.StructField("goldEarned", T.LongType()),
        T.StructField("goldSpent", T.LongType()),
        T.StructField("kills", T.IntegerType()),
        T.StructField("deaths", T.IntegerType()),
        T.StructField("assists", T.IntegerType()),
        T.StructField("champLevel", T.IntegerType()),
        T.StructField("totalDamageDealtToChampions", T.LongType()),
        T.StructField("totalMinionsKilled", T.IntegerType()),
        T.StructField("neutralMinionsKilled", T.IntegerType()),
        # rune sextet — set-compared against current runes (utils.py:1081-1083)
        T.StructField("perk0", T.LongType()),
        T.StructField("perk1", T.LongType()),
        T.StructField("perk2", T.LongType()),
        T.StructField("perk3", T.LongType()),
        T.StructField("perk4", T.LongType()),
        T.StructField("perk5", T.LongType()),
    ]
)

PARTICIPANT = T.StructType(
    [
        T.StructField("participantId", T.IntegerType()),
        T.StructField("teamId", T.IntegerType()),
        T.StructField("championId", T.LongType()),
        T.StructField("spell1Id", T.IntegerType()),
        T.StructField("spell2Id", T.IntegerType()),
        T.StructField("stats", PARTICIPANT_STATS),
        T.StructField("timeline", PARTICIPANT_TIMELINE),
    ]
)

PARTICIPANT_IDENTITY = T.StructType(
    [
        T.StructField("participantId", T.IntegerType()),
        T.StructField(
            "player",
            T.StructType(
                [
                    T.StructField("accountId", T.LongType()),
                    T.StructField("summonerName", T.StringType()),
                ]
            ),
        ),
    ]
)

MATCH_RESULT = T.StructType(
    [
        T.StructField("gameId", T.LongType()),
        T.StructField("gameDuration", T.IntegerType()),
        T.StructField("gameVersion", T.StringType()),
        T.StructField("queueId", T.IntegerType()),
        T.StructField("gameCreation", T.LongType()),
        T.StructField("participants", T.ArrayType(PARTICIPANT)),
        T.StructField("participantIdentities", T.ArrayType(PARTICIPANT_IDENTITY)),
    ]
)

# ---------------------------------------------------------------------------
# Timeline document (frames → participantFrames map + events)
# ---------------------------------------------------------------------------
TIMELINE_EVENT = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("timestamp", T.LongType()),
        T.StructField("participantId", T.IntegerType()),
        T.StructField("itemId", T.LongType()),
        T.StructField("beforeId", T.LongType()),
        T.StructField("afterId", T.LongType()),
        T.StructField("killerId", T.IntegerType()),
        T.StructField("victimId", T.IntegerType()),
        T.StructField("assistingParticipantIds", T.ArrayType(T.IntegerType())),
        T.StructField(
            "position",
            T.StructType(
                [T.StructField("x", T.IntegerType()), T.StructField("y", T.IntegerType())]
            ),
        ),
    ]
)

PARTICIPANT_FRAME = T.StructType(
    [
        T.StructField("participantId", T.IntegerType()),
        T.StructField(
            "position",
            T.StructType(
                [T.StructField("x", T.IntegerType()), T.StructField("y", T.IntegerType())]
            ),
        ),
    ]
)

TIMELINE_FRAME = T.StructType(
    [
        T.StructField("timestamp", T.LongType()),
        # string-keyed map — the source JSON keys participant frames by str id
        T.StructField(
            "participantFrames", T.MapType(T.StringType(), PARTICIPANT_FRAME)
        ),
        T.StructField("events", T.ArrayType(TIMELINE_EVENT)),
    ]
)

MATCH_TIMELINE = T.StructType(
    [T.StructField("frames", T.ArrayType(TIMELINE_FRAME))]
)
