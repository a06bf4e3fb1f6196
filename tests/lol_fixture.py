"""Deterministic LoL match/timeline fixture + pure-Python oracle of the
reference `get_stats_history` semantics (FIXTURES.md document-form +
SURVEY.md §5 golden-test strategy).

The fixture builds nested match-result and timeline documents (JSON text,
as the reference stores them) with the generation constraints from
FIXTURES.md: kill clusters inside ±15 s with a +30 s subset fight, one
smite carrier per team, distinct CS/position profiles so role argmaxes
are unique, a remake, win/loss runs for streaks, partial delta buckets,
and a missing-position frame.
"""

from __future__ import annotations

import json

T0 = 1_700_000_000_000  # anchor match_time_ms
CUTOFF = T0 - 1000
WEEK_MS = 7 * 24 * 60 * 60 * 1000
HOUR_MS = 3_600_000

#: team slot profiles → forced lane outcome per team
#: slot: (lane, smite, neutral_minions, total_minions, (pos_x, pos_y))
SLOTS = [
    ("JUNGLE", True, 100, 30, (7000, 7000)),
    ("SUPPORT", False, 0, 5, (7000, 7000)),
    ("TOP", False, 0, 150, (2000, 12000)),
    ("BOTTOM", False, 0, 160, (12000, 2000)),
    ("MID", False, 0, 140, (7000, 7000)),
]
LANE_TO_SLOT = {lane: i for i, (lane, *_rest) in enumerate(SLOTS)}


def champion_of(match_id: int, pid: int) -> int:
    return match_id * 100 + pid


def build_match_doc(match_id: int, duration: int, team100_wins: bool) -> dict:
    participants = []
    identities = []
    for pid in range(1, 11):
        team = 100 if pid <= 5 else 200
        slot = SLOTS[(pid - 1) % 5]
        lane, smite, neutral, total, _pos = slot
        win = team100_wins if team == 100 else not team100_wins
        deltas = {
            # partial buckets on odd matches; absent families on even —
            # exercises the guarded-extraction defaults (utils.py:766-769)
            "goldPerMinDeltas": (
                {"0-10": 320.5 + pid, "10-20": 401.25 + pid}
                if match_id % 2 == 1
                else {"0-10": 300.0 + pid, "10-20": 390.0 + pid,
                      "20-30": 410.0 + pid, "30-40": 380.0 + pid}
            ),
        }
        if match_id % 2 == 0:
            deltas["xpDiffPerMinDeltas"] = {"0-10": -5.5 + pid}
        participants.append(
            {
                "participantId": pid,
                "teamId": team,
                "championId": champion_of(match_id, pid),
                "spell1Id": 11 if smite else 4,
                "spell2Id": 12,
                "stats": {
                    "win": win,
                    "goldEarned": 9000 + match_id * 10 + pid,
                    "goldSpent": 8000 + match_id * 10 + pid,
                    "kills": pid % 4,
                    "deaths": (pid + 1) % 3,
                    "assists": pid % 5,
                    "champLevel": 10 + pid % 8,
                    "totalDamageDealtToChampions": 15000 + match_id * 100 + pid,
                    "totalMinionsKilled": total,
                    "neutralMinionsKilled": neutral,
                    **{
                        f"perk{i}": 9100 + (pid % 2) * 7 + (match_id % 2) * 31 + i
                        for i in range(6)
                    },
                },
                "timeline": deltas,
            }
        )
        identities.append(
            {
                "participantId": pid,
                "player": {
                    "accountId": 9_000_000 + match_id * 100 + pid,
                    "summonerName": f"p{pid}_m{match_id}",
                },
            }
        )
    return {
        "gameId": match_id,
        "gameDuration": duration,
        "gameVersion": "8.11.1.123",
        "queueId": 420,
        "gameCreation": CUTOFF - match_id * HOUR_MS,
        "participants": participants,
        "participantIdentities": identities,
    }


def build_timeline_doc(match_id: int) -> dict:
    kill_events = kill_events_of(match_id)
    frames = []
    for minute in range(0, 12):  # must cover every event timestamp
        lo, hi = minute * 60_000, (minute + 1) * 60_000
        events = [
            {
                "type": "CHAMPION_KILL",
                "timestamp": e["ts_ms"],
                "killerId": e["killer"],
                "victimId": e["victim"],
                "assistingParticipantIds": e["assists"],
                "position": {"x": 5000, "y": 5000},
            }
            for e in kill_events
            if lo <= e["ts_ms"] < hi
        ]
        if minute == 2:
            events.append(
                {
                    "type": "ITEM_PURCHASED",
                    "timestamp": lo + 1000,
                    "participantId": 1,
                    "itemId": 1001,
                }
            )
        pframes = {}
        for pid in range(1, 11):
            slot = SLOTS[(pid - 1) % 5]
            pos = slot[4]
            pf: dict = {"participantId": pid}
            # pid 7 at minute 3: missing position → (-120,-120) default
            if not (pid == 7 and minute == 3):
                pf["position"] = {"x": pos[0], "y": pos[1]}
            pframes[str(pid)] = pf
        frames.append(
            {
                "timestamp": minute * 60_000,
                "participantFrames": pframes,
                "events": events,
            }
        )
    return {"frames": frames}


def kill_events_of(match_id: int) -> list[dict]:
    """Kill cluster (±15 s adjacency + subset within +30 s) plus one
    isolated kill — fires both enrichment and merge."""
    return [
        {"ts_ms": 600_000, "killer": 1, "victim": 6, "assists": [5]},
        {"ts_ms": 605_000, "killer": 6, "victim": 1, "assists": []},
        {"ts_ms": 620_000, "killer": 2, "victim": 6, "assists": [1]},
        {"ts_ms": 420_000, "killer": 3, "victim": 8, "assists": []},
    ]


# ---------------------------------------------------------------------------
# Scenario: matchlist entries per account
# ---------------------------------------------------------------------------
#: account A (1001, reallane MID): 10 in-window entries + 1 outside;
#: g3 is a remake; cap=6 processes g1..g7 (remake decrement quirk)
A_WINS = {1: True, 2: True, 4: False, 5: False, 6: False, 7: False,
          8: True, 9: True, 10: False}
A_LANES = {1: "MID", 2: "MID", 4: "TOP", 5: "MID", 6: "JUNGLE", 7: "MID",
           8: "MID", 9: "MID", 10: "MID"}
A_REMAKES = {3}


def scenario():
    """Returns (anchors, matchlist_rows, match_docs, timeline_docs).

    match ids for A: 1..10 in walk order (+11 out of window); B: 21, 22.
    """
    anchors = [
        (1001, "MID", T0),
        (1002, "TOP", T0),
        (1003, "BOTTOM", T0),  # no games at all
    ]
    matchlist = []
    docs = {}
    timelines = {}

    def add_match(account_id, match_id, gc_ms, lane, win, remake=False):
        pid = LANE_TO_SLOT[lane] + 1  # account plays team 100's slot
        duration = 200 if remake else 1800
        doc = build_match_doc(match_id, duration, team100_wins=win)
        docs[match_id] = doc
        timelines[match_id] = build_timeline_doc(match_id)
        matchlist.append(
            {
                "account_id": account_id,
                "region_id": 1,
                "game_id": match_id,
                "platform_id": "EUW1",
                "champion_id": champion_of(match_id, pid),
                "lane": lane,
                "role": "NONE",
                "game_creation_ms": gc_ms,
            }
        )

    for i in range(1, 11):
        week_extra = 0
        if i == 9:
            week_extra = WEEK_MS
        elif i == 10:
            week_extra = 2 * WEEK_MS
        gc = CUTOFF - i * HOUR_MS - week_extra
        add_match(
            1001,
            i,
            gc,
            A_LANES.get(i, "MID"),
            A_WINS.get(i, True),
            remake=(i in A_REMAKES),
        )
    # outside the 3-week window — must be ignored entirely
    add_match(1001, 11, CUTOFF - 3 * WEEK_MS - HOUR_MS, "MID", True)
    # account B: two entries, one win one loss, both TOP
    add_match(1002, 21, CUTOFF - 2 * HOUR_MS, "TOP", True)
    add_match(1002, 22, CUTOFF - 5 * HOUR_MS, "TOP", False)
    return anchors, matchlist, docs, timelines


def historical_match_rows(docs, timelines):
    return [
        (
            mid,
            1,
            None,
            None,
            docs[mid]["gameDuration"],
            json.dumps(docs[mid]),
            json.dumps(timelines[mid]),
        )
        for mid in sorted(docs)
    ]


# ---------------------------------------------------------------------------
# Pure-Python oracle — independent re-implementation of the reference walk
# ---------------------------------------------------------------------------
def _is_topside(x, y):
    return y >= 4880 and x <= 9880 and y >= (x + 3000)


def _is_bottomside(x, y):
    return y <= 9880 and x >= 4880 and y <= (x - 5000)


def oracle_lane_mapping(doc, timeline) -> dict[int, str]:
    """utils.py:419-480 semantics over the fixture doc."""
    mapping = {}
    for team in (100, 200):
        cands = [p for p in doc["participants"] if p["teamId"] == team]
        positions = {}
        for frame in timeline["frames"][1:7]:
            for pid_str, pf in frame["participantFrames"].items():
                if int(pid_str) in [p["participantId"] for p in cands]:
                    pos = pf.get("position", {"x": -120, "y": -120})
                    positions.setdefault(pid_str, []).append((pos["x"], pos["y"]))
        rem = list(cands)
        smite = [p for p in rem if 11 in (p["spell1Id"], p["spell2Id"])] or rem
        jungle = max(smite, key=lambda p: p["stats"]["neutralMinionsKilled"])
        rem = [p for p in rem if p["participantId"] != jungle["participantId"]]
        support = min(rem, key=lambda p: p["stats"]["totalMinionsKilled"])
        rem = [p for p in rem if p["participantId"] != support["participantId"]]
        top = max(
            rem,
            key=lambda p: sum(
                _is_topside(x, y) for x, y in positions[str(p["participantId"])]
            ),
        )
        rem = [p for p in rem if p["participantId"] != top["participantId"]]
        bottom = max(
            rem,
            key=lambda p: sum(
                _is_bottomside(x, y) for x, y in positions[str(p["participantId"])]
            ),
        )
        mid = next(p for p in rem if p["participantId"] != bottom["participantId"])
        for p, lane in [
            (top, "TOP"),
            (jungle, "JUNGLE"),
            (mid, "MID"),
            (bottom, "BOTTOM"),
            (support, "SUPPORT"),
        ]:
            mapping[p["championId"]] = lane
    return mapping


def oracle_fights(kills: list[dict], pid: int) -> list[dict]:
    """utils.py:483-627 semantics (kill/death perspectives, ±15 s
    enrichment, +30 s subset-merge) for one participant, in participant-id
    space (bijective with champion ids per match)."""
    my = []
    for k in kills:
        contributors = [k["killer"]] + k["assists"]
        if pid in contributors:
            my.append(
                {
                    "ts": k["ts_ms"],
                    "allies": list(contributors),
                    "enemies": [k["victim"]],
                    "victims": [k["victim"]],
                    "kind": "kill",
                }
            )
        elif pid == k["victim"]:
            my.append(
                {
                    "ts": k["ts_ms"],
                    "allies": [k["victim"]],
                    "enemies": list(contributors),
                    "victims": [k["victim"]],
                    "kind": "death",
                }
            )
    for e in my:
        own = e["allies"] if e["kind"] == "kill" else e["enemies"]
        grow = e["enemies"] if e["kind"] == "kill" else e["allies"]
        for k in kills:
            if not (e["ts"] - 15000 <= k["ts_ms"] <= e["ts"] + 15000):
                continue
            contributors = [k["killer"]] + k["assists"]
            if any(o in contributors for o in own):
                if k["victim"] not in grow:
                    grow.append(k["victim"])
                if k["victim"] not in e["victims"]:
                    e["victims"].append(k["victim"])
            elif k["victim"] in own:
                for c in contributors:
                    if c not in grow:
                        grow.append(c)
                if k["victim"] not in e["victims"]:
                    e["victims"].append(k["victim"])
    my.sort(key=lambda e: (e["ts"], 0 if e["kind"] == "kill" else 1))
    for idx, e in enumerate(my):
        if not e["victims"]:
            continue
        for later in my[idx + 1 :]:
            if later["ts"] > e["ts"] + 30000 or not later["victims"]:
                continue
            if all(v in e["victims"] for v in later["victims"]):
                for a in later["allies"]:
                    if a not in e["allies"]:
                        e["allies"].append(a)
                for en in later["enemies"]:
                    if en not in e["enemies"]:
                        e["enemies"].append(en)
                later["victims"] = []
            elif all(v in later["victims"] for v in e["victims"]):
                for a in e["allies"]:
                    if a not in later["allies"]:
                        later["allies"].append(a)
                for en in e["enemies"]:
                    if en not in later["enemies"]:
                        later["enemies"].append(en)
                e["victims"] = []
                break
            elif any(v in e["victims"] for v in later["victims"]):
                later["victims"] = [v for v in later["victims"] if v not in e["victims"]]
    return [e for e in my if e["victims"]]


STAT_RULES = {
    "gold_earned": lambda p: p["stats"]["goldEarned"],
    "gold_spent": lambda p: p["stats"]["goldSpent"],
    "damage_to_champions_total": lambda p: p["stats"]["totalDamageDealtToChampions"],
    "champion_level": lambda p: p["stats"]["champLevel"],
}
for fam, pref in [("goldPerMinDeltas", "gold_per_min"),
                  ("xpDiffPerMinDeltas", "xp_gained_diff_per_min")]:
    for b_label, b_key in [("0_to_10", "0-10"), ("10_to_20", "10-20"),
                           ("20_to_30", "20-30"), ("30_to_40", "30-40")]:
        STAT_RULES[f"{pref}_{b_label}"] = (
            lambda p, fam=fam, b=b_key: 0
            if fam not in p["timeline"] or b not in p["timeline"][fam]
            else p["timeline"][fam][b]
        )


def oracle_history(
    account_id, reallane, match_time, matchlist, docs, timelines,
    max_weeks=3, max_games=40,
):
    """Clean-room walk with the reference's exact fold (utils.py:736-987).

    A matchlist entry whose match is missing from `docs` (an FK gap) is
    skipped after the counter increment and the cap check: it keeps its
    count and its walk slot, and it is never remake-decremented."""
    lanes = {l: 0 for l in ["TOP", "JUNGLE", "MID", "BOTTOM", "SUPPORT"]}
    num_games = 0
    in_lane = 0
    consecutive_wins = 0
    consecutive_losses = 0
    winning = None
    previous_game_won = 0
    totals = {n: [] for n in STAT_RULES}
    lane_stats = {n: [] for n in STAT_RULES}
    games_with_fighting = []

    entries = [m for m in matchlist if m["account_id"] == account_id]
    for week_i in range(max_weeks):
        end = match_time - 1000 - week_i * WEEK_MS
        start = end - WEEK_MS
        week = [m for m in entries if start < m["game_creation_ms"] <= end]
        week.sort(key=lambda m: (-m["game_creation_ms"], -m["game_id"]))
        for m_ref in week:
            num_games += 1
            if num_games > max_games:
                continue
            doc = docs.get(m_ref["game_id"])
            if doc is None:
                continue
            if doc["gameDuration"] < 300:
                num_games -= 1
                continue
            champ = m_ref["champion_id"]
            lane_then = oracle_lane_mapping(doc, timelines[m_ref["game_id"]])[champ]
            if lane_then == reallane:
                in_lane += 1
            lanes[lane_then] += 1
            p = next(
                pp for pp in doc["participants"] if pp["championId"] == champ
            )
            games_with_fighting.append(
                oracle_fights(kill_events_of(m_ref["game_id"]), p["participantId"])
            )
            for n, fn in STAT_RULES.items():
                totals[n].append(fn(p))
                if lane_then == reallane:
                    lane_stats[n].append(fn(p))
            victory = p["stats"]["win"]
            if previous_game_won == 0:
                previous_game_won = 1 if victory else -1
            if winning is None:
                winning = victory
            elif winning:
                if victory:
                    consecutive_wins += 1
                else:
                    winning = False
                    consecutive_wins = 0
            else:
                if not victory:
                    consecutive_losses += 1
                else:
                    winning = True
                    consecutive_losses = 0

    primary = max(lanes.keys(), key=lambda l: lanes[l])
    secondary = max((l for l in lanes if l != primary), key=lambda l: lanes[l])
    profile = {f"{b}_{k}": None for b in ["solo", "skirmish", "team"]
               for k in ["ratio", "aggro"]}
    if games_with_fighting:
        counts = {b: {"win": 0, "neutral": 0, "loss": 0}
                  for b in ["solo", "skirmish", "team"]}
        for game in games_with_fighting:
            for e in game:
                outcome = len([v for v in e["victims"] if v in e["enemies"]]) - len(
                    [v for v in e["victims"] if v in e["allies"]]
                )
                b = (
                    "solo"
                    if len(e["allies"]) == 1
                    else "skirmish"
                    if len(e["allies"]) < 4
                    else "team"
                )
                counts[b]["win" if outcome > 0 else "loss" if outcome < 0 else "neutral"] += 1
        n = len(games_with_fighting)
        for b in counts:
            profile[f"{b}_ratio"] = (counts[b]["win"] - counts[b]["loss"]) / n
            profile[f"{b}_aggro"] = (
                counts[b]["win"] + counts[b]["neutral"] + counts[b]["loss"]
            ) / n

    out = {
        "lane_priority": "primary" if reallane == primary
        else "secondary" if reallane == secondary else "autofill",
        "num_games": num_games,
        "num_games_in_current_lane": in_lane,
        "previous_game_won": previous_game_won,
        "consecutive_wins": consecutive_wins,
        "consecutive_losses": consecutive_losses,
        **profile,
    }
    for n, vals in totals.items():
        out[f"total_{n}"] = sum(vals) / len(vals) if vals else 0
    for n, vals in lane_stats.items():
        out[f"lane_{n}"] = sum(vals) / len(vals) if vals else 0
    return out


def oracle_availability(
    account_id, current_champion, reallane, spells_set, runes_set,
    match_time, matchlist, docs, timelines, max_weeks=3,
):
    """Clean-room walk of get_stats_availability (utils.py:990-1098),
    including its quirks: no games cap, remakes and FK-gap entries
    (match missing from `docs`) counted in num_matches and
    num_matches_as_champion, and the inverted in-role comparison."""
    num_matches = 0
    as_champ = 0
    in_role = 0
    with_spells = 0
    with_runes = 0
    entries = [m for m in matchlist if m["account_id"] == account_id]
    for week_i in range(max_weeks):
        end = match_time - 1000 - week_i * WEEK_MS
        start = end - WEEK_MS
        week = [m for m in entries if start < m["game_creation_ms"] <= end]
        week.sort(key=lambda m: (-m["game_creation_ms"], -m["game_id"]))
        for m_ref in week:
            num_matches += 1
            if m_ref["champion_id"] == current_champion:
                as_champ += 1
            doc = docs.get(m_ref["game_id"])
            if doc is None:
                continue
            if doc["gameDuration"] < 300:
                continue
            champ = m_ref["champion_id"]
            lane_then = oracle_lane_mapping(doc, timelines[m_ref["game_id"]])[champ]
            if lane_then != reallane:  # faithful inversion, utils.py:1070-1071
                in_role += 1
            p = next(pp for pp in doc["participants"] if pp["championId"] == champ)
            if {p["spell1Id"], p["spell2Id"]} == set(spells_set):
                with_spells += 1
            perks = {p["stats"][f"perk{i}"] for i in range(6)}
            if perks == set(runes_set):
                with_runes += 1
    return {
        "num_matches": num_matches,
        "num_matches_in_role": in_role,
        "num_matches_as_champion": as_champ,
        "num_matches_with_summonerspells": with_spells,
        "num_matches_with_runes": with_runes,
    }
