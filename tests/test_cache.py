"""S15 materialized summary cache: build-once, TTL expiry, and source
fingerprint invalidation (the reference's memcached hourly summary,
`monitor/views/ratelimit.py:52-55`, with the extra guarantee that a
summary never outlives a change to its inputs)."""

from __future__ import annotations

import os
import time

import pytest
from test_oracle_parity import SF_DIR

from lol_data_collection_system_spark.sources import materialize_summary


def test_materialize_summary_caches_and_invalidates(spark, tmp_path):
    src = tmp_path / "src.txt"
    src.write_text("v1")
    path = str(tmp_path / "summary.parquet")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])

    out1 = materialize_summary(spark, path, build, sources=[str(src)])
    assert sorted(map(tuple, out1.collect())) == [(1, "a"), (2, "b")]
    assert builds["n"] == 1

    # fresh → served from the materialization, no rebuild
    out2 = materialize_summary(spark, path, build, sources=[str(src)])
    assert sorted(map(tuple, out2.collect())) == [(1, "a"), (2, "b")]
    assert builds["n"] == 1

    # source content change (a single file's listing: size+mtime) → rebuild
    time.sleep(0.01)
    src.write_text("v2 longer")
    materialize_summary(spark, path, build, sources=[str(src)])
    assert builds["n"] == 2

    # expired TTL → rebuild even with unchanged sources
    materialize_summary(spark, path, build, sources=[str(src)], ttl_s=0.0)
    assert builds["n"] == 3


def test_materialize_summary_no_sources_ttl_only(spark, tmp_path):
    path = str(tmp_path / "s2.parquet")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(3)

    materialize_summary(spark, path, build, ttl_s=3600)
    materialize_summary(spark, path, build, ttl_s=3600)
    assert builds["n"] == 1
    assert os.path.exists(path)


def test_materialize_summary_rebuilds_a_deleted_directory(spark, tmp_path):
    """A sidecar whose materialization is gone is not fresh: the call
    rebuilds and serves the rows instead of reading a missing path."""
    import shutil

    path = str(tmp_path / "gone.parquet")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.createDataFrame([(1, "a")], ["k", "v"])

    materialize_summary(spark, path, build)
    shutil.rmtree(path)
    assert os.path.exists(path + ".meta.json")
    out = materialize_summary(spark, path, build)
    assert [tuple(r) for r in out.collect()] == [(1, "a")]
    assert builds["n"] == 2


def test_refresh_stored_rebuilds_after_an_interrupted_build(tmp_path):
    """A rebuild that dies after touching its directory leaves no
    sidecar (the old one is removed before the build runs), so the next
    call rebuilds instead of serving the partial artifact."""
    from lol_data_collection_system_spark.sources.cache import refresh_stored

    path = str(tmp_path / "store")
    src = tmp_path / "src.txt"
    src.write_text("v1")
    calls = []

    def build(p: str) -> None:
        calls.append(p)
        os.makedirs(p, exist_ok=True)
        if len(calls) == 2:
            raise RuntimeError("interrupted")

    assert refresh_stored(path, build, sources=[str(src)]) == path
    src.write_text("v2 longer")
    with pytest.raises(RuntimeError):
        refresh_stored(path, build, sources=[str(src)])
    assert os.path.isdir(path) and not os.path.exists(path + ".meta.json")
    refresh_stored(path, build, sources=[str(src)])
    assert len(calls) == 3
    refresh_stored(path, build, sources=[str(src)])  # fresh: no build
    assert len(calls) == 3


def test_synthetic_kills_is_shared(spark, tmp_path, monkeypatch):
    """The fight pipeline's kills frame is built once per session and
    held in memory by the registry; nothing is written to the summary
    cache (no later session reads it)."""
    from lol_data_collection_system_spark import session
    from lol_data_collection_system_spark.plans import domain_queries as dq

    monkeypatch.setenv("SPARK_GRAFT_SUMMARY_CACHE", str(tmp_path))
    session.reset(spark)
    try:
        built = session.builds[("kills", SF_DIR)]
        kills = dq.synthetic_kills(spark, SF_DIR)
        assert kills.count() > 0
        # shared handle: same object second time, built once
        assert dq.synthetic_kills(spark, SF_DIR) is kills
        assert session.builds[("kills", SF_DIR)] == built + 1
        assert list(tmp_path.iterdir()) == []
    finally:
        session.reset(spark)


def _persisted_rdds(spark) -> set[int]:
    """Ids of the RDDs Spark holds as persisted. Compared as sets, not
    counts: Spark drops RDDs that were garbage-collected from this map,
    so an unrelated earlier RDD can vanish mid-test, but none appears
    unless something persists it."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.mark.parametrize(
    "name, key",
    [("fight_enrichment", "fight_enriched"), ("bpe_merge_table", "bpe_merges")],
    ids=["fight_enrichment", "bpe_merge_table"],
)
def test_shared_registry_lifetime(spark, name, key):
    """One build per session, hits after that, and `reset` releases
    every persisted frame the registry holds and every RDD its build
    persisted or checkpointed (the BPE training rounds)."""
    import __spark_entry__ as entry_mod

    from lol_data_collection_system_spark import session

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    key = (key, sf)
    q = entry_mod.queries()[name]
    session.reset(spark)
    before = _persisted_rdds(spark)
    builds0, hits0 = session.builds[key], session.hits[key]

    first = q(spark, sf).collect()
    assert _persisted_rdds(spark) - before
    assert sorted(q(spark, sf).collect()) == sorted(first)
    assert session.builds[key] - builds0 == 1
    assert session.hits[key] - hits0 >= 1

    session.reset(spark)
    assert not _persisted_rdds(spark) - before
    app = spark.sparkContext.applicationId
    assert not [slot for slot in session._registry if slot[0] == app]


def test_run_query_record_schema(spark):
    import __spark_entry__ as entry_mod

    from lol_data_collection_system_spark.session import run_query

    sf = SF_DIR
    name = "fight_enrichment"
    record, result = run_query(spark, name, entry_mod.queries()[name], sf)
    assert result is None
    assert set(record) == {
        "name", "sink", "build_s", "exec_s", "catalyst", "jobs", "shared",
        "released",
    }
    assert (record["name"], record["sink"]) == (name, "noop")
    assert all(isinstance(record[k], float) for k in ("build_s", "exec_s"))
    assert set(record["catalyst"]) == {"analysis", "optimization", "planning"}
    assert all(isinstance(v, float) for v in record["catalyst"].values())
    assert set(record["jobs"]) == {"build", "exec"}
    assert all(
        isinstance(j, int) for ids in record["jobs"].values() for j in ids
    )
    assert record["jobs"]["exec"]
    assert set(record["shared"]) == {"built", "hit"}
    assert ("fight_enriched", sf) in record["shared"]["built"] + record["shared"]["hit"]
    assert all(isinstance(i, int) for i in record["released"])


def test_run_query_releases_what_the_registry_does_not_own(spark):
    """pagerank's rounds checkpoint their state; after the sink, only
    the registry's RDDs may stay persisted."""
    import __spark_entry__ as entry_mod

    from lol_data_collection_system_spark.session import owned_rdds, run_query

    sf = SF_DIR
    name = "pagerank_scores"
    before = _persisted_rdds(spark)
    record, _ = run_query(spark, name, entry_mod.queries()[name], sf)
    after = _persisted_rdds(spark)
    assert record["released"]
    assert not after & set(record["released"])
    assert not after - before - owned_rdds(spark)


def test_released_cache_leaves_the_cache_manager(spark):
    """lsh_pair_quality persists a frame while it builds. Releasing that
    cache must also drop its cache-manager entry: otherwise the next
    call's `persist()` reuses the entry, whose blocks are gone, caches
    nothing and recomputes on every read."""
    import __spark_entry__ as entry_mod

    from lol_data_collection_system_spark import session

    sf = SF_DIR
    name = "lsh_pair_quality"
    cache = spark._jsparkSession.sharedState().cacheManager()
    app = spark.sparkContext.applicationId

    def registry_frames():
        return sum(
            len(session._frames(value))
            for (slot_app, _), (value, _) in session._registry.items()
            if slot_app == app
        )

    for call in range(2):
        entries0, frames0 = cache.numCachedEntries(), registry_frames()
        record, _ = session.run_query(spark, name, entry_mod.queries()[name], sf)
        assert record["released"], call
        assert cache.numCachedEntries() == entries0 + registry_frames() - frames0


def test_registry_survives_a_release(spark, monkeypatch):
    """The connected-components rounds behind ("dedup_labels", sf) are
    checkpoints made while the registry built the key: releasing the
    first query's caches must leave them for the next consumer, and
    `reset` must release them."""
    import __spark_entry__ as entry_mod

    from lol_data_collection_system_spark import session
    from lol_data_collection_system_spark.operators import graph

    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_BOUND", 0)
    sf = SF_DIR
    qs = entry_mod.queries()
    session.reset(spark)
    before = _persisted_rdds(spark)
    first, _ = session.run_query(
        spark, "dedup_components", qs["dedup_components"], sf
    )
    assert ("dedup_labels", sf) in first["shared"]["built"]
    made = _persisted_rdds(spark) - before
    second, got = session.run_query(
        spark, "component_canonicals", qs["component_canonicals"], sf,
        sink="pandas",
    )
    assert ("dedup_labels", sf) in second["shared"]["hit"]
    made |= _persisted_rdds(spark) - before
    made |= set(first["released"]) | set(second["released"])
    direct = qs["component_canonicals"](spark, sf).toPandas()
    assert sorted(map(tuple, got.values.tolist())) == sorted(
        map(tuple, direct.values.tolist())
    )

    session.reset(spark)
    assert not made & _persisted_rdds(spark)


@pytest.mark.parametrize(
    "name",
    [
        "history_row",
        "serving_funnel",
        "serving_funnel_deleted",
        "media_funnel",
        "fertility_window_psi",
    ],
)
def test_repeat_call_adds_no_persisted_rdds(spark, name):
    """These queries used to memoize their final frame so that a repeat
    call would not persist a second copy of their intermediates. They
    now rebuild the plan on every call; a second call must still cache
    nothing new."""
    import __spark_entry__ as entry_mod

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    q = entry_mod.queries()[name]
    first = q(spark, sf).collect()
    after_first = _persisted_rdds(spark)
    assert sorted(q(spark, sf).collect()) == sorted(first)
    assert not _persisted_rdds(spark) - after_first


def test_listing_fingerprint_is_mtime_free_and_o_file_count(tmp_path):
    """The serve-path staleness fingerprint (VERDICT r7 #1): relative
    names + sizes + count, never a content read. Directory form: a
    touch (mtime-only change) is invisible — parquet rewrites always
    change the part listing. Single-FILE form keeps mtime (r8 review:
    a plain file CAN be rewritten in place at the same size, so
    name+size alone would miss it; a spurious rebuild on touch is the
    safe direction)."""
    import os
    import time

    from lol_data_collection_system_spark.sources.cache import (
        listing_fingerprint,
    )

    d = tmp_path / "tbl.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"aaaa")
    (d / "part-1").write_bytes(b"bb")
    fp0 = listing_fingerprint(str(d))
    assert fp0["n_files"] == 2 and fp0["entries"]["part-1"] == 2
    # mtime churn does not invalidate a DIRECTORY listing
    past = time.time() - 9999
    os.utime(d / "part-0", (past, past))
    assert listing_fingerprint(str(d)) == fp0
    # a new part file does; so does a size change
    (d / "part-2").write_bytes(b"c")
    assert listing_fingerprint(str(d)) != fp0
    (d / "part-2").unlink()
    (d / "part-1").write_bytes(b"bbb")
    assert listing_fingerprint(str(d)) != fp0
    # single-file form: name+size AND mtime (touch -> rebuild, safely)
    f = tmp_path / "one.parquet"
    f.write_bytes(b"xyz")
    fp1 = listing_fingerprint(str(f))
    assert fp1["n_files"] == 1 and fp1["entries"] == {"one.parquet": 3}
    os.utime(f, (past, past))
    assert listing_fingerprint(str(f)) != fp1
    assert listing_fingerprint(str(tmp_path / "nope")) == {"missing": True}


def test_materialize_summary_listing_mode(spark, tmp_path):
    """The listing fingerprint over a DIRECTORY source: an mtime touch
    must NOT rebuild; a part-listing change must."""
    import os
    import time

    from lol_data_collection_system_spark.sources.cache import (
        materialize_summary,
    )

    src = tmp_path / "src_tbl"
    src.mkdir()
    (src / "part-0").write_bytes(b"12345")
    path = str(tmp_path / "sum.parquet")
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(2)

    kw = dict(sources=[str(src)], ttl_s=None)
    materialize_summary(spark, path, build, **kw)
    past = time.time() - 5000
    os.utime(src / "part-0", (past, past))
    materialize_summary(spark, path, build, **kw)
    assert builds["n"] == 1  # touch is invisible for directory sources
    (src / "part-1").write_bytes(b"6")  # the listing changed
    materialize_summary(spark, path, build, **kw)
    assert builds["n"] == 2
