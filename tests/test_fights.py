"""Exact-semantics tests for the fight pipeline's order-dependent stage.

The +30 s subset-merge (`operators.fights.subset_merge`) has no SQL oracle
by design (non-associative fold, reference `utils.py:586-626`). This is
its correctness gate: an independent pure-Python implementation of the
reference semantics (perspectives → ±15 s enrichment → forward merge) run
over the same synthetic kills, compared row-for-row with the Spark result.
"""

from __future__ import annotations

import duckdb
import os
import random

import pytest
from pyspark.sql import functions as F

from lol_data_collection_system_spark.operators import fights as fight_ops
from lol_data_collection_system_spark.plans import domain_queries as dq
from lol_data_collection_system_spark.plans import fight_oracle
from lol_data_collection_system_spark.plans.fight_oracle import (
    python_reference_pipeline,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _synthetic_kill_rows() -> list[dict]:
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    rows = con.execute(dq._KILLS_SQL).fetchall()
    return [
        {"match_id": r[0], "ts_ms": r[1], "killer": r[2], "victim": r[3]}
        for r in rows
    ]


def test_fight_merge_matches_python_reference(spark):
    spark_rows = sorted(
        tuple(r)
        for r in dq.q_fight_merge(spark, SF_DIR).collect()
    )
    expected = python_reference_pipeline(_synthetic_kill_rows())
    assert len(spark_rows) == len(expected), (
        f"row count {len(spark_rows)} vs python oracle {len(expected)}"
    )
    assert spark_rows == expected


_FIGHT_ROW = (
    "match_id BIGINT, actor BIGINT, perspective STRING, ts_ms BIGINT, "
    "allies ARRAY<BIGINT>, enemies ARRAY<BIGINT>, victims ARRAY<BIGINT>"
)
_FIELDS = ("perspective", "ts_ms", "allies", "enemies", "victims")


def _reference_merge(events: list[dict]) -> list[tuple]:
    """`merge_fight_group` over the events in `subset_merge`'s total
    order: ts, kill before death, then allies, enemies, victims."""
    # the fold appends to allies/enemies in place; copy them first
    ordered = sorted(
        ({**e, "allies": [*e["allies"]], "enemies": [*e["enemies"]]} for e in events),
        key=lambda e: (
            e["ts_ms"], e["perspective"] != "kill", e["allies"], e["enemies"], e["victims"]
        ),
    )
    return [tuple(e[f] for f in _FIELDS) for e in fight_ops.merge_fight_group(ordered, 30_000)]


def _spark_merge(spark, groups: dict[int, list[dict]]) -> dict[int, list[tuple]]:
    """`subset_merge` over one (match 1, actor = key) group per entry,
    each group's surviving fights in the fold's output order."""
    rows = [
        (1, actor, *(e[f] for f in _FIELDS))
        for actor, events in groups.items()
        for e in events
    ]
    out: dict[int, list[tuple]] = {actor: [] for actor in groups}
    merged = fight_ops.subset_merge(spark.createDataFrame(rows, _FIGHT_ROW), 30_000)
    for r in merged.collect():
        out[r.actor].append(tuple(r[f] for f in _FIELDS))
    return out


def _kill(ts_ms: int, allies: list, enemies: list, victims: list) -> dict:
    return {
        "perspective": "kill", "ts_ms": ts_ms,
        "allies": allies, "enemies": enemies, "victims": victims,
    }


@pytest.mark.parametrize(
    "events, kept_victims",
    [
        pytest.param(
            # event 1 absorbs event 0 (superset ahead) and event 2 (subset
            # ahead): within the horizon no victim survives in two fights
            [
                _kill(0, [1], [2], [2]),
                _kill(10_000, [1], [2, 3], [2, 3]),
                _kill(20_000, [1], [2], [2]),
            ],
            [[2, 3]],
            id="invariants_no_victim_in_two_surviving_fights",
        ),
        pytest.param(
            # partial overlap: victim 3 leaves the later fight, both survive
            [_kill(0, [1], [2, 3], [2, 3]), _kill(5_000, [4], [3, 5], [3, 5])],
            [[2, 3], [5]],
            id="partial_overlap_subtracts",
        ),
        pytest.param(
            [_kill(0, [1], [2], [2]), _kill(31_000, [1], [2], [2])],
            [[2], [2]],
            id="beyond_horizon_untouched",
        ),
    ],
)
def test_merge_rule_spark_matches_reference(spark, events, kept_victims):
    """Each merge rule through both folds: `subset_merge` (Spark) and
    `merge_fight_group` (Python reference) give the same fights."""
    expected = _reference_merge(events)
    assert [list(e[-1]) for e in expected] == kept_victims
    assert _spark_merge(spark, {1: events})[1] == expected


def test_merge_random_groups_spark_matches_reference(spark):
    """Seeded random groups of 1-14 events — ts ties, kills and deaths,
    empty victims, subsets, supersets and partial overlaps."""
    rng = random.Random(20)
    groups = {}
    for actor in range(200):
        groups[actor] = [
            {
                "perspective": rng.choice(["kill", "death"]),
                "ts_ms": rng.choice([0, 5_000, 10_000, 20_000, 31_000, 61_000])
                + rng.choice([0, 0, 1]),
                "allies": rng.sample(range(1, 7), rng.randint(1, 3)),
                "enemies": rng.sample(range(1, 7), rng.randint(0, 3)),
                "victims": rng.sample(range(1, 7), rng.randint(0, 4)),
            }
            for _ in range(rng.randint(1, 14))
        ]
    got = _spark_merge(spark, groups)
    mismatched = [a for a, evs in groups.items() if got[a] != _reference_merge(evs)]
    assert mismatched == []


def test_merge_tie_order_is_total(spark):
    """Two kills at one ts whose victims partially overlap: the result
    depends on which folds first. Whatever order the rows arrive in and
    however the group is shuffled, the fold sees one sorted order."""
    tie = [_kill(0, [1], [2, 3], [2, 3]), _kill(0, [1], [3, 4], [3, 4])]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    outputs = []
    try:
        for partitions in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
            for events in (tie, tie[::-1]):
                outputs.append(_spark_merge(spark, {1: events})[1])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert outputs == [_reference_merge(tie)] * 4


def test_parse_fights_persists_nothing(spark):
    """The fight pipeline owns no cache: running it leaves no persisted
    RDD behind."""
    from test_cache import _persisted_rdds

    kills = spark.createDataFrame(
        [(1, 0, 1, 5, [2]), (1, 4_000, 5, 2, []), (1, 9_000, 2, 6, [1])],
        "match_id BIGINT, ts_ms BIGINT, killer BIGINT, victim BIGINT, "
        "assists ARRAY<BIGINT>",
    )
    before = _persisted_rdds(spark)
    fight_ops.parse_fights(kills).write.format("noop").mode("overwrite").save()
    assert not _persisted_rdds(spark) - before


def test_fight_merge_fixture_oracle(spark):
    """The driver-visible value oracle: the materialized Python-port
    fixture, dispatched on the events row count, must equal the Spark
    pipeline's output at this sf."""
    path = fight_oracle.ensure_fight_merge_fixture()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    oracle_rows = sorted(
        tuple(r) for r in con.execute(fight_oracle.ORACLE_FIGHT_MERGE).fetchall()
    )
    assert len(oracle_rows) > 0, f"fixture {path} has no rows for {SF_DIR}"
    spark_rows = sorted(tuple(r) for r in dq.q_fight_merge(spark, SF_DIR).collect())
    assert spark_rows == oracle_rows


def test_fight_queries_share_one_enrichment(spark):
    """The three fight queries read one session-shared enriched frame:
    run through `run_query` after a `reset`, the first builds
    ("fight_enriched", sf), the other two hit it, and every result still
    equals its oracle."""
    import __spark_entry__ as entry_mod
    from test_oracle_parity import _duck
    from verify_local import _canon, _values_equal

    from lol_data_collection_system_spark import session

    key = ("fight_enriched", SF_DIR)
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    session.reset(spark)
    builds0, hits0 = session.builds[key], session.hits[key]
    try:
        for name in ("fight_enrichment", "fight_merge", "fight_outcome_buckets"):
            record, got = session.run_query(
                spark, name, queries[name], SF_DIR, sink="pandas"
            )
            tag = "built" if name == "fight_enrichment" else "hit"
            assert key in record["shared"][tag], (name, record["shared"])
            assert _values_equal(_canon(got), _canon(_duck(oracles[name]))), name
        assert session.builds[key] - builds0 == 1
        assert session.hits[key] - hits0 == 2
    finally:
        session.reset(spark)


def test_fight_merge_fixture_regenerates_when_stale(tmp_path, monkeypatch):
    """Fingerprint miss (meta absent) must trigger regeneration rather
    than serving a stale fixture."""
    monkeypatch.setattr(fight_oracle, "FIXTURE_DIR", tmp_path)
    monkeypatch.setattr(
        fight_oracle, "FIXTURE_PATH", tmp_path / "fight_merge_oracle.parquet"
    )
    monkeypatch.setattr(
        fight_oracle, "_META_PATH", tmp_path / "fight_merge_oracle.meta.json"
    )
    path = fight_oracle.ensure_fight_merge_fixture((SF_DIR,))
    assert os.path.exists(path)
    first_mtime = os.path.getmtime(path)
    # fresh fingerprint → no rewrite
    fight_oracle.ensure_fight_merge_fixture((SF_DIR,))
    assert os.path.getmtime(path) == first_mtime
    # dropped meta → regenerate
    os.remove(tmp_path / "fight_merge_oracle.meta.json")
    fight_oracle.ensure_fight_merge_fixture((SF_DIR,))
    assert os.path.getmtime(path) >= first_mtime
    assert (tmp_path / "fight_merge_oracle.meta.json").exists()


def test_enrichment_both_branches_one_event(spark):
    """Reference per-ally if/elif (utils.py:543-557): a killerId=0-style
    execution event can fire BOTH branches via different allies — ally 0
    is a contributor (side scored → victim joins) while ally 1 is the
    victim (side died → contributors join). Both additions must land."""
    from pyspark.sql import types as T

    persp_schema = T.StructType(
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
    kills_schema = T.StructType(
        [
            T.StructField("match_id", T.LongType()),
            T.StructField("ts_ms", T.LongType()),
            T.StructField("killer", T.LongType()),
            T.StructField("victim", T.LongType()),
            T.StructField("assists", T.ArrayType(T.LongType())),
        ]
    )
    persp = spark.createDataFrame(
        [(1, 1, "kill", 0, [1, 0], [9], [9])], persp_schema
    )
    adj = spark.createDataFrame([(1, 1000, 0, 1, [])], kills_schema)
    out = fight_ops.enrich_adjacent_sets(persp, adj, 15_000).collect()
    assert len(out) == 1
    row = out[0]
    # branch 1: victim 1 joined enemies; branch 2: contributor 0 joined too
    assert sorted(row.enemies) == [0, 1, 9]
    assert sorted(row.victims) == [1, 9]

    # corner: the ally that is both victim AND contributor fires ONLY
    # branch 1 (the elif skips branch 2 for it) — contributors of a
    # self-referencing event must not join
    adj2 = spark.createDataFrame([(1, 1000, 1, 1, [5])], kills_schema)
    row2 = fight_ops.enrich_adjacent_sets(persp, adj2, 15_000).collect()[0]
    # side scored (killer 1 in own) -> victim 1 joins enemies; side_died
    # suppressed (victim 1 IS a contributor) -> 5 must NOT join
    assert sorted(row2.enemies) == [1, 9]
    assert sorted(row2.victims) == [1, 9]
