"""Rate-limited REST source tests (T5/T7): sliding-window spacing with a
fake clock, 429/404/5xx retry classification, and partition-parallel
fetch through mapInPandas with per-partition limiter state and a
split of the global quota."""

from __future__ import annotations

import json
from functools import partial

import pytest
from pyspark.sql import functions as F

from lol_data_collection_system_spark.sources.rest import (
    RateLimit,
    Response,
    RestSource,
    SlidingWindowLimiter,
    fetch_table,
    parallel_fetch,
    scaled_limits,
)


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, s):
        self.t += s


def _limiter(limits, clock):
    return SlidingWindowLimiter(limits, clock=clock, sleeper=clock.sleep)


def test_sliding_window_spacing():
    clock = FakeClock()
    lim = _limiter([RateLimit(3, 10.0)], clock)
    stamps = []
    for _ in range(7):
        lim.acquire()
        stamps.append(clock.t)
        clock.t += 0.1  # requests take 100 ms each
    # first 3 immediate; 4th waits until t0+10; window slides thereafter
    assert stamps[0] == pytest.approx(0.0)
    assert stamps[3] == pytest.approx(10.0)
    assert stamps[6] == pytest.approx(20.0)
    # never more than 3 acquisitions inside any 10 s window (epsilon
    # absorbs float accumulation in the fake clock)
    for i in range(len(stamps)):
        inside = [s for s in stamps if stamps[i] - 10.0 + 1e-9 < s <= stamps[i]]
        assert len(inside) <= 3


def test_dual_limits_tightest_wins():
    clock = FakeClock()
    lim = _limiter([RateLimit(100, 1.0), RateLimit(2, 10.0)], clock)
    for _ in range(3):
        lim.acquire()
    assert clock.t == pytest.approx(10.0)  # method limit dominates


def test_retry_classification():
    clock = FakeClock()
    calls = []
    script = {
        "u429": [Response(429, headers={"Retry-After": "3"}), Response(200, "ok")],
        "u404": [Response(404)],
        "u500": [Response(500), Response(500), Response(200, "yes")],
        "u403": [Response(403)],
    }

    def transport(url):
        calls.append(url)
        return script[url].pop(0)

    src = RestSource(
        transport,
        _limiter([RateLimit(100, 1.0)], clock),
        max_retries=3,
        sleeper=clock.sleep,
    )
    t0 = clock.t
    assert src.fetch("u429") == "ok"
    assert clock.t - t0 >= 3.0  # honored Retry-After
    assert src.fetch("u404") is None
    assert src.fetch("u500") == "yes"
    with pytest.raises(RuntimeError, match="HTTP 403"):
        src.fetch("u403")


def test_scaled_limits():
    gl = [RateLimit(500, 10.0), RateLimit(20000, 600.0)]
    per = scaled_limits(gl, 32)
    assert per[0].max_requests == 15 and per[1].max_requests == 625
    assert scaled_limits([RateLimit(5, 10.0)], 32)[0].max_requests == 1


def _fake_transport(url):
    # module-level → picklable for executors
    if url.endswith("missing"):
        return Response(404)
    return Response(200, json.dumps({"url": url, "n": len(url)}))


def _fake_source():
    return RestSource(
        _fake_transport,
        SlidingWindowLimiter([RateLimit(1000, 10.0)]),
    )


def test_driver_side_fetch_table(spark):
    src = _fake_source()
    df = fetch_table(spark, src, ["a/1", "a/2", "a/missing"])
    rows = {r.url: (r.status, r.body) for r in df.collect()}
    assert rows["a/1"][0] == "ok" and json.loads(rows["a/1"][1])["n"] == 3
    assert rows["a/missing"] == ("missing", None)


def test_parallel_fetch_map_in_pandas(spark):
    urls = spark.createDataFrame(
        [(f"doc/{i}",) for i in range(50)] + [("doc/missing",)], ["url"]
    ).repartition(4)
    out = parallel_fetch(urls, _fake_source)
    got = out.groupBy("status").count().collect()
    counts = {r.status: r["count"] for r in got}
    assert counts == {"ok": 50, "missing": 1}
    one = out.filter(F.col("url") == "doc/7").collect()[0]
    assert json.loads(one.body)["url"] == "doc/7"


class _QuotaReportingSource(RestSource):
    """Answers every URL with the quota its limiter runs under and the
    partition that fetched it."""

    def fetch(self, url):
        from pyspark import TaskContext

        return json.dumps(
            {
                "partition": TaskContext.get().partitionId(),
                "quota": [l.max_requests for l in self.limiter.limits],
            }
        )


def _quota_source(quota):
    return _QuotaReportingSource(
        _fake_transport, SlidingWindowLimiter(list(quota))
    )


@pytest.mark.parametrize(
    "quota",
    [
        [RateLimit(1000, 10.0), RateLimit(30, 1.0)],
        # fewer requests per window than the session has cores
        [RateLimit(2, 10.0)],
    ],
    ids=["above_cores", "below_cores"],
)
def test_parallel_fetch_splits_the_global_quota(spark, quota):
    """`make_source` holds the global quota; whatever the input's
    partitioning, the partitions parallel_fetch runs together must not
    exceed it."""
    urls = spark.createDataFrame(
        [(f"doc/{i}",) for i in range(40)], ["url"]
    ).coalesce(1)
    reports = [
        json.loads(r.body)
        for r in parallel_fetch(urls, partial(_quota_source, quota)).collect()
    ]
    n_partitions = len({r["partition"] for r in reports})
    assert n_partitions > 1
    for r in reports:
        for per, full in zip(r["quota"], quota):
            assert per * n_partitions <= full.max_requests


def test_hydrate_missing_fetches_only_novel(spark):
    from lol_data_collection_system_spark.sources.rest import hydrate_missing

    wanted = spark.createDataFrame(
        [(1, "doc/1"), (2, "doc/2"), (3, "doc/3")], ["match_id", "url"]
    )
    store = spark.createDataFrame([(1,), (3,)], ["match_id"])
    out = hydrate_missing(wanted, store, ["match_id"], "url", _fake_source)
    rows = out.collect()
    assert [r.url for r in rows] == ["doc/2"]  # only the cache miss
    assert rows[0].status == "ok"
