"""Driver-checkable value oracle for the order-dependent fight merge.

The +30 s subset-merge (reference `utils.py:586-626`) is a non-associative
fold — not expressible as ANSI SQL the DuckDB oracle can run directly. The
value gate instead materializes the output of an INDEPENDENT pure-Python
port of the full reference pipeline (perspectives `utils.py:517-538` →
±15 s enrichment `utils.py:538-577` → forward merge `utils.py:586-626`)
into a parquet fixture, and the oracle SQL selects from that fixture.

Independence chain: the Python pipeline here shares no Spark code — kills
come from DuckDB running the same `_KILLS_SQL` the other fight oracles
use, the perspective/enrichment stages are plain Python loops, and the
fold (`operators.fights.merge_fight_group`, the pure-Python reference
of the SQL fold in `subset_merge`) is unit-pinned by the behavioral
tests in `tests/test_fights.py`. What the driver's hash check then proves
is that the distributed pipeline — the shared enrichment, grouping,
per-group ordering, the SQL fold — reproduces the sequential reference
semantics on the full sf0.01 table.

Scale-factor dispatch: one fixture file carries rows for every generated
sf, keyed by ``n_src_events`` (COUNT(*) of the source events table — the
sfs differ by 10× so the key is unambiguous). The oracle SQL correlates
on ``(SELECT COUNT(*) FROM events)``, so the same static string works at
sf0.001 (pytest) and sf0.01 (driver). Generation is cached behind a
sidecar fingerprint of events.parquet (size + content md5 — mtime-free
so the committed fixture stays fresh across checkouts, see
``plans.fixtures.refresh_fixture``) and re-runs only when the testdata
changes.
"""

from __future__ import annotations

from ..operators.fights import merge_fight_group
from .fixtures import FIXTURE_DIR, refresh_fixture

FIXTURE_PATH = FIXTURE_DIR / "fight_merge_oracle.parquet"
_META_PATH = FIXTURE_DIR / "fight_merge_oracle.meta.json"

#: sfs this fixture and the history_row fixture cover. sf0.1 is
#: intentionally absent: the oracle hash gate runs at sf0.01
#: and the O(events × kills) per-match enrichment loop is pure Python
#: (~100× sf0.01 cost at sf0.1).
DEFAULT_SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")

ORACLE_FIGHT_MERGE = f"""
SELECT match_id, actor, perspective, ts_ms, allies_s, enemies_s, victims_s
FROM read_parquet('{FIXTURE_PATH}')
WHERE n_src_events = (SELECT COUNT(*) FROM events)
"""


def python_reference_pipeline(kills: list[dict]) -> list[tuple]:
    """Independent port of the reference fight semantics over kill rows.

    kills: [{match_id, ts_ms, killer, victim}] (no assists in the
    synthetic mapping). Returns sorted tuples
    (match_id, actor, perspective, ts_ms, allies_s, enemies_s, victims_s).
    """
    by_match: dict[int, list[dict]] = {}
    for k in kills:
        by_match.setdefault(k["match_id"], []).append(k)

    out: list[tuple] = []
    for match_id, mkills in by_match.items():
        # perspectives per actor, mirroring utils.py:517-538
        per_actor: dict[tuple, list[dict]] = {}
        for k in mkills:
            contributors = [k["killer"]]
            for actor in contributors:
                per_actor.setdefault((actor, "kill"), []).append(
                    {
                        "ts_ms": k["ts_ms"],
                        "allies": list(contributors),
                        "enemies": [k["victim"]],
                        "victims": [k["victim"]],
                    }
                )
            per_actor.setdefault((k["victim"], "death"), []).append(
                {
                    "ts_ms": k["ts_ms"],
                    "allies": [k["victim"]],
                    "enemies": list(contributors),
                    "victims": [k["victim"]],
                }
            )
        # ±15 s enrichment, mirroring utils.py:538-577. The reference's
        # if/elif is PER ALLY, so both branches can fire for one adjacent
        # event via different allies; branch 2 is skipped only for the
        # ally that is simultaneously the victim and a contributor.
        for (actor, persp), evs in per_actor.items():
            for e in evs:
                own = e["allies"] if persp == "kill" else e["enemies"]
                grow = e["enemies"] if persp == "kill" else e["allies"]
                for adj in mkills:
                    if not (e["ts_ms"] - 15000 <= adj["ts_ms"] <= e["ts_ms"] + 15000):
                        continue
                    contributors = [adj["killer"]]
                    scored = any(o in contributors for o in own)
                    died = (
                        adj["victim"] in own
                        and adj["victim"] not in contributors
                    )
                    if scored:
                        if adj["victim"] not in grow:
                            grow.append(adj["victim"])
                    if died:
                        for c in contributors:
                            if c not in grow:
                                grow.append(c)
                    if scored or died:
                        if adj["victim"] not in e["victims"]:
                            e["victims"].append(adj["victim"])
        # +30 s forward subset-merge over the participant's kills AND
        # deaths jointly (sorted(kills+deaths), utils.py:582 — stable
        # sort keeps kills before deaths at equal ts)
        by_actor: dict[int, list[dict]] = {}
        for (actor, persp), evs in per_actor.items():
            for e in evs:
                by_actor.setdefault(actor, []).append({**e, "perspective": persp})
        for actor, evs in by_actor.items():
            evs.sort(key=lambda e: (e["ts_ms"], 0 if e["perspective"] == "kill" else 1))
            kept = merge_fight_group(evs, 30_000)
            for e in kept:
                out.append(
                    (
                        match_id,
                        actor,
                        e["perspective"],
                        e["ts_ms"],
                        ",".join(str(v) for v in sorted(set(e["allies"]))),
                        ",".join(str(v) for v in sorted(set(e["enemies"]))),
                        ",".join(str(v) for v in sorted(set(e["victims"]))),
                    )
                )
    return sorted(out)


def ensure_fight_merge_fixture(sf_dirs: tuple[str, ...] = DEFAULT_SF_DIRS) -> str:
    """(Re)generate the fixture for every existing sf_dir whose
    events.parquet fingerprint changed; return the fixture path."""
    return refresh_fixture(FIXTURE_PATH, _META_PATH, sf_dirs, _fight_merge_table)


def fight_merge_oracle() -> str:
    """``fight_merge``'s registered oracle: refresh the fixture, return
    the SQL that selects from it."""
    ensure_fight_merge_fixture()
    return ORACLE_FIGHT_MERGE


def _fight_merge_table(sf_dirs: list[str]):
    import duckdb
    import pyarrow as pa

    from .domain_queries import _KILLS_SQL

    cols: dict[str, list] = {
        "match_id": [], "actor": [], "perspective": [], "ts_ms": [],
        "allies_s": [], "enemies_s": [], "victims_s": [], "n_src_events": [],
    }
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        n_src = con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
        rows = con.execute(_KILLS_SQL).fetchall()
        con.close()
        kills = [
            {"match_id": r[0], "ts_ms": r[1], "killer": r[2], "victim": r[3]}
            for r in rows
        ]
        for t in python_reference_pipeline(kills):
            cols["match_id"].append(t[0])
            cols["actor"].append(t[1])
            cols["perspective"].append(t[2])
            cols["ts_ms"].append(t[3])
            cols["allies_s"].append(t[4])
            cols["enemies_s"].append(t[5])
            cols["victims_s"].append(t[6])
            cols["n_src_events"].append(n_src)

    return pa.table(
        {
            "match_id": pa.array(cols["match_id"], pa.int64()),
            "actor": pa.array(cols["actor"], pa.int64()),
            "perspective": pa.array(cols["perspective"], pa.string()),
            "ts_ms": pa.array(cols["ts_ms"], pa.int64()),
            "allies_s": pa.array(cols["allies_s"], pa.string()),
            "enemies_s": pa.array(cols["enemies_s"], pa.string()),
            "victims_s": pa.array(cols["victims_s"], pa.string()),
            "n_src_events": pa.array(cols["n_src_events"], pa.int64()),
        }
    )
