"""Golden end-to-end test (SURVEY.md §5 item 2): the full history
pipeline — JSON decode → participant/timeline explode → lane inference →
fight parse → means/streaks/profile — vs the pure-Python oracle of the
reference semantics in lol_fixture.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lol_data_collection_system_spark import schemas
from lol_data_collection_system_spark.plans import history as history_plan
from lol_data_collection_system_spark.plans import lanes as lanes_plan
from lol_data_collection_system_spark.sources import documents as doc_src

from lol_fixture import (
    T0,
    champion_of,
    historical_match_rows,
    oracle_availability,
    oracle_history,
    scenario,
)

MAX_GAMES = 6
#: account 1001's g2: in the window and under the cap. The FK-gap test
#: removes it from the match store and keeps its matchlist entry.
GAP_MATCH = 2
#: availability anchors: 1001's current loadout is g1's MID champion,
#: non-smite spells and the runes of the (odd pid, odd match) variant
AVAIL_ANCHORS = [
    (1001, "MID", champion_of(1, 5), [4, 12],
     [9100 + 7 + 31 + i for i in range(6)], T0),
    (1002, "TOP", 1, [4, 12], [1, 2, 3, 4, 5, 6], T0),
    (1003, "BOTTOM", 1, [4, 12], [1, 2, 3, 4, 5, 6], T0),
]
AVAIL_SCHEMA = (
    "account_id long, reallane string, current_champion long, "
    "spells_set array<int>, runes_set array<long>, match_time_ms long"
)


def _walk(spark, anchors_df, matchlist, docs, timelines):
    """(entries, participants, lane_map, kills): the one walk frame
    `stats_history` and `stats_availability` both read, plus the
    per-match frames decoded from the match documents in `docs`."""
    ml_df = spark.createDataFrame(
        [tuple(m[f.name] for f in schemas.MATCHLIST_ENTRY.fields) for m in matchlist],
        schemas.MATCHLIST_ENTRY,
    )
    hm_df = spark.createDataFrame(
        historical_match_rows(docs, timelines), schemas.HISTORICAL_MATCH
    )
    decoded = doc_src.decode_match_documents(hm_df)
    participants = doc_src.explode_participants(decoded)
    pframes = doc_src.explode_participant_frames(decoded)
    lane_map = lanes_plan.champion_lane_mapping(participants, pframes)
    kills = (
        doc_src.explode_timeline_events(decoded)
        .filter(F.col("type") == "CHAMPION_KILL")
        .select(
            "match_id",
            "ts_ms",
            F.col("killer_id").cast("long").alias("killer"),
            F.col("victim_id").cast("long").alias("victim"),
            F.col("assists").cast("array<long>").alias("assists"),
        )
    )
    entries = history_plan.walk_entries_with_matches(
        anchors_df, ml_df, decoded.select("match_id", "game_duration"),
        3, MAX_GAMES,
    )
    return entries, participants, lane_map, kills


def _history(spark, anchors_df, matchlist, docs, timelines):
    entries, participants, lane_map, kills = _walk(
        spark, anchors_df, matchlist, docs, timelines
    )
    return history_plan.stats_history(
        entries, anchors_df, participants, lane_map, kills
    )


def _assert_equal(got, want, label):
    for key, want_val in want.items():
        assert key in got, f"{label}: missing field {key}"
        got_val = got[key]
        if want_val is None:
            assert got_val is None, f"{label}.{key}: {got_val} != None"
        elif isinstance(want_val, float):
            assert got_val == pytest.approx(want_val, rel=1e-9), (
                f"{label}.{key}: {got_val} != {want_val}"
            )
        else:
            assert got_val == want_val, f"{label}.{key}: {got_val} != {want_val}"


@pytest.fixture(scope="module")
def pipeline_result(spark):
    anchors, matchlist, docs, timelines = scenario()
    anchors_df = spark.createDataFrame(
        anchors, ["account_id", "reallane", "match_time_ms"]
    )
    result = _history(spark, anchors_df, matchlist, docs, timelines)
    rows = {r.account_id: r.asDict() for r in result.collect()}
    expected = {
        acct: oracle_history(acct, lane, t, matchlist, docs, timelines,
                             max_weeks=3, max_games=MAX_GAMES)
        for acct, lane, t in anchors
    }
    return rows, expected


def test_all_accounts_present(pipeline_result):
    rows, expected = pipeline_result
    assert set(rows) == set(expected) == {1001, 1002, 1003}


@pytest.mark.parametrize("acct", [1001, 1002, 1003])
def test_history_matches_oracle(pipeline_result, acct):
    rows, expected = pipeline_result
    _assert_equal(rows[acct], expected[acct], acct)


def test_lane_mapping_forced_slots(spark):
    """Role inference lands every slot profile on its designed lane."""
    anchors, matchlist, docs, timelines = scenario()
    hm_df = spark.createDataFrame(
        historical_match_rows(docs, timelines), schemas.HISTORICAL_MATCH
    )
    decoded = doc_src.decode_match_documents(hm_df)
    participants = doc_src.explode_participants(decoded)
    pframes = doc_src.explode_participant_frames(decoded)
    lane_map = lanes_plan.champion_lane_mapping(participants, pframes)
    got = {
        (r.match_id, r.participant_id): r.lane
        for r in lane_map.filter(F.col("match_id") == 1).collect()
    }
    assert got == {
        (1, 1): "JUNGLE", (1, 2): "SUPPORT", (1, 3): "TOP",
        (1, 4): "BOTTOM", (1, 5): "MID",
        (1, 6): "JUNGLE", (1, 7): "SUPPORT", (1, 8): "TOP",
        (1, 9): "BOTTOM", (1, 10): "MID",
    }


def test_cap_and_remake_quirks(pipeline_result):
    """num_games counts every in-window matchlist entry minus processed
    remakes; the cap processes one extra entry per prior remake."""
    rows, _ = pipeline_result
    a = rows[1001]
    assert a["num_games"] == 9          # 10 entries − 1 processed remake
    assert a["num_games_in_current_lane"] == 4  # g1,g2,g5,g7 are MID
    assert a["previous_game_won"] == 1  # g1 won
    # walk wins over processed non-remakes: W W L L L L → last run len 4
    assert a["consecutive_wins"] == 0
    assert a["consecutive_losses"] == 3
    assert a["lane_priority"] == "primary"


def test_availability_matches_oracle(spark):
    anchors, matchlist, docs, timelines = scenario()
    anchors_df = spark.createDataFrame(AVAIL_ANCHORS, AVAIL_SCHEMA)
    entries, participants, lane_map, _ = _walk(
        spark, anchors_df, matchlist, docs, timelines
    )
    got = {
        r.account_id: r.asDict()
        for r in history_plan.stats_availability(
            entries, anchors_df, participants, lane_map
        ).collect()
    }
    for acct, lane, champ, spells, runes, t in AVAIL_ANCHORS:
        want = oracle_availability(
            acct, champ, lane, spells, runes, t, matchlist, docs, timelines
        )
        _assert_equal(got[acct], want, acct)
    assert got[1001]["num_matches"] == 10
    assert got[1001]["num_matches_as_champion"] == 1
    assert got[1001]["num_matches_with_runes"] == 4


def test_fk_gap_history_and_availability_match_oracle(spark):
    """A matchlist entry whose match is missing from the store (an FK
    gap) counts toward num_games, num_matches and
    num_matches_as_champion and takes its walk slot under the cap, but
    adds no per-game stat — the reference's walk, read by history and
    availability from one walk frame."""
    anchors, matchlist, docs, timelines = scenario()
    docs = {mid: doc for mid, doc in docs.items() if mid != GAP_MATCH}
    assert any(m["game_id"] == GAP_MATCH for m in matchlist)
    anchors_df = spark.createDataFrame(AVAIL_ANCHORS, AVAIL_SCHEMA)
    entries, participants, lane_map, kills = _walk(
        spark, anchors_df, matchlist, docs, timelines
    )
    hist = {
        r.account_id: r.asDict()
        for r in history_plan.stats_history(
            entries, anchors_df, participants, lane_map, kills
        ).collect()
    }
    avail = {
        r.account_id: r.asDict()
        for r in history_plan.stats_availability(
            entries, anchors_df, participants, lane_map
        ).collect()
    }
    for acct, lane, champ, spells, runes, t in AVAIL_ANCHORS:
        _assert_equal(
            hist[acct],
            oracle_history(acct, lane, t, matchlist, docs, timelines,
                           max_weeks=3, max_games=MAX_GAMES),
            f"history {acct}",
        )
        _assert_equal(
            avail[acct],
            oracle_availability(
                acct, champ, lane, spells, runes, t, matchlist, docs,
                timelines,
            ),
            f"availability {acct}",
        )
    assert hist[1001]["num_games"] == 9       # the gap keeps its count
    assert avail[1001]["num_matches"] == 10
    # g1, g5, g7 are processed MID games: the gap's walk slot keeps the
    # MID win g8 past the cap
    assert hist[1001]["num_games_in_current_lane"] == 3


def test_normalized_match_documents_roundtrip(spark):
    """S11: nested document assembly + to_json, verified by re-parsing."""
    import json as _json

    from lol_data_collection_system_spark.plans import modeling

    _, _, docs, timelines = scenario()
    hm_df = spark.createDataFrame(
        historical_match_rows(docs, timelines), schemas.HISTORICAL_MATCH
    )
    decoded = doc_src.decode_match_documents(hm_df)
    participants = doc_src.explode_participants(decoded)
    pframes = doc_src.explode_participant_frames(decoded)
    lane_map = lanes_plan.champion_lane_mapping(participants, pframes)
    out = {
        r.match_id: _json.loads(r.doc_json)
        for r in modeling.normalized_match_documents(participants, lane_map)
        .filter(F.col("match_id") == 1)
        .collect()
    }
    doc = out[1]
    assert doc["gameId"] == 1
    assert len(doc["teams"]) == 2
    sides = {t["is_topside"] for t in doc["teams"]}
    assert sides == {True, False}
    for team in doc["teams"]:
        assert len(team["players"]) == 5
        roles = sorted(pl["role"] for pl in team["players"])
        assert roles == ["BOTTOM", "JUNGLE", "MID", "SUPPORT", "TOP"]
        for pl in team["players"]:
            assert len(pl["summonerspells"]) == 2
            assert len(pl["runes"]) == 6
    # topside team = teamId 200 → champions 6..10 of match 1
    top = next(t for t in doc["teams"] if t["is_topside"])
    assert sorted(pl["champion"] for pl in top["players"]) == [106, 107, 108, 109, 110]


def test_two_anchors_per_account_do_not_interleave(spark):
    """A second anchor for the same account (earlier cutoff) must produce
    its own independent history row — walk ranks, counters, and means
    keyed by (account_id, anchor_ts), not mixed across anchors."""
    anchors, matchlist, docs, timelines = scenario()
    acct, lane, t_new = anchors[0]
    t_old = t_new - 7 * 24 * 60 * 60 * 1000  # one week earlier cutoff
    two = [(acct, lane, t_new), (acct, lane, t_old)]

    anchors_df = spark.createDataFrame(
        two, ["account_id", "reallane", "match_time_ms"]
    )
    result = _history(spark, anchors_df, matchlist, docs, timelines)
    rows = {r.match_time_ms: r.asDict() for r in result.collect()}
    assert set(rows) == {t_new, t_old}, "one history row per anchor"
    for t in (t_new, t_old):
        want = oracle_history(acct, lane, t, matchlist, docs, timelines,
                              max_weeks=3, max_games=MAX_GAMES)
        _assert_equal(rows[t], want, f"anchor {t}")
