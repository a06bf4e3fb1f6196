"""Rate-limited REST source (SURVEY.md §2.1 S3/S4, §2.9 T5/T7; §4 item 2).

The reference serializes every API call of every concurrent gatherer
through a MySQL table guarded by LOCK TABLES and re-scans the request
history per permit (`mysql_requesthistory_checking.py:42-139`); retries
classify 429s into service/method/app limits and honor Retry-After
(`utils.py:102-189` and 5 sibling functions).

Spark-first redesign:
- **Local token windows, partitioned budget.** Each fetch task gets a
  private sliding-window limiter with `1/parallelism` of the global
  quota — no shared state, no locks, same aggregate ceiling. The split
  happens in `parallel_fetch`, which fixes the partition count itself:
  a caller's frame (an AQE-sized anti-join, say) has no partition count
  known when `make_source` is written. (The reference's global-lock
  design is exactly what cannot scale past one process.)
- **Transport is injectable** (`Callable[[str], Response]`): tests and
  offline runs plug a fake; production plugs urllib/requests. No network
  library is imported here.
- **Driver-side fetch** (`fetch_table`) for small matchlists →
  `spark.createDataFrame`; **partition-parallel fetch**
  (`parallel_fetch`) via `mapInPandas` for bulk hydration, one limiter
  per partition.
- Retry policy: 429 waits Retry-After (default 1 s) then retries;
  5xx retries with capped linear backoff; 404 yields an empty payload
  row (the reference's matchlist-404-is-empty-week, `utils.py:961-962`);
  other 4xx raise after exhausting retries.
"""

from __future__ import annotations

import time
from collections import deque
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


@dataclass
class Response:
    status: int
    body: str = ""
    headers: dict[str, str] = field(default_factory=dict)


Transport = Callable[[str], Response]
Clock = Callable[[], float]


@dataclass
class RateLimit:
    """`max_requests` per `window_s` seconds (the reference's
    (requests, seconds) pairs, e.g. 500/10 for match fetches)."""

    max_requests: int
    window_s: float


class SlidingWindowLimiter:
    """Blocking sliding-window limiter over one or more concurrent
    limits (app-level + method-level, `riot_api.py:18-43`).

    `acquire()` sleeps until every window has room — the declarative twin
    of `mysql_requesthistory_checking.py:116-139`, minus the table lock.
    Clock and sleeper are injectable for deterministic tests.
    """

    def __init__(
        self,
        limits: list[RateLimit],
        clock: Clock = time.monotonic,
        sleeper: Callable[[float], None] = time.sleep,
    ):
        self.limits = limits
        self.clock = clock
        self.sleeper = sleeper
        self._hits: list[deque[float]] = [deque() for _ in limits]

    def _wait_needed(self, now: float) -> float:
        wait = 0.0
        for limit, hits in zip(self.limits, self._hits):
            while hits and hits[0] <= now - limit.window_s:
                hits.popleft()
            if len(hits) >= limit.max_requests:
                wait = max(wait, hits[0] + limit.window_s - now)
        return wait

    def acquire(self) -> None:
        while True:
            now = self.clock()
            wait = self._wait_needed(now)
            if wait <= 0:
                break
            self.sleeper(wait)
        now = self.clock()
        for hits in self._hits:
            hits.append(now)


def scaled_limits(limits: list[RateLimit], parallelism: int) -> list[RateLimit]:
    """Split a global quota across `parallelism` independent workers."""
    return [
        RateLimit(max(1, l.max_requests // max(1, parallelism)), l.window_s)
        for l in limits
    ]


class RestSource:
    """Fetch JSON documents under rate limits with classified retries."""

    def __init__(
        self,
        transport: Transport,
        limiter: SlidingWindowLimiter,
        max_retries: int = 3,
        backoff_s: float = 1.0,
        sleeper: Callable[[float], None] = time.sleep,
    ):
        self.transport = transport
        self.limiter = limiter
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self.sleeper = sleeper

    def fetch(self, url: str) -> str | None:
        """One document; None for 404 (empty week / missing doc)."""
        attempt = 0
        while True:
            self.limiter.acquire()
            resp = self.transport(url)
            if resp.status == 200:
                return resp.body
            if resp.status == 404:
                return None
            attempt += 1
            if resp.status == 429:
                # retry budget check comes BEFORE the sleep: a persistently
                # rate-limited URL fails immediately on its final attempt
                # instead of sleeping one extra Retry-After in the executor
                # hot path
                if attempt > self.max_retries:
                    raise RuntimeError(f"rate-limited after retries: {url}")
                # service/method/app classification is advisory; the wait
                # is whatever the server demands (utils.py:117-139)
                retry_after = float(resp.headers.get("Retry-After", "1"))
                self.sleeper(retry_after)
                continue
            if 500 <= resp.status < 600 and attempt <= self.max_retries:
                self.sleeper(min(self.backoff_s * attempt, 10.0))
                continue
            raise RuntimeError(f"HTTP {resp.status} fetching {url}")


FETCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),  # ok | missing
        T.StructField("body", T.StringType()),
    ]
)


def fetch_table(spark, source: RestSource, urls: list[str]) -> DataFrame:
    """Driver-side fetch → DataFrame (S3: small paged matchlists)."""
    rows = []
    for u in urls:
        body = source.fetch(u)
        rows.append((u, "ok" if body is not None else "missing", body))
    return spark.createDataFrame(rows, FETCH_SCHEMA)


def parallel_fetch(
    urls_df: DataFrame,
    make_source: Callable[[], RestSource],
    url_col: str = "url",
) -> DataFrame:
    """Partition-parallel hydration via mapInPandas: each partition
    builds its own RestSource on the executor — `make_source` must be
    picklable and is invoked once per partition, so limiter state never
    crosses partitions.

    `make_source` builds its limiter with the GLOBAL quota; the split is
    made here. The URLs are repartitioned to n partitions, n =
    `defaultParallelism` capped at the smallest `max_requests` of the
    global limits (read from one driver-side `make_source()`), so every
    partition's share is at least one request (AQE never coalesces an
    explicit `repartition(n)`). Each partition swaps in a limiter with
    `scaled_limits(limits, n)`, keeping the source's clock and sleeper,
    and n partitions running at once stay under the global ceiling."""
    n = min(
        [urls_df.sparkSession.sparkContext.defaultParallelism]
        + [l.max_requests for l in make_source().limiter.limits]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        source = make_source()
        full = source.limiter
        source.limiter = SlidingWindowLimiter(
            scaled_limits(full.limits, n), full.clock, full.sleeper
        )
        for pdf in batches:
            out = {"url": [], "status": [], "body": []}
            for u in pdf[url_col]:
                body = source.fetch(u)
                out["url"].append(u)
                out["status"].append("ok" if body is not None else "missing")
                out["body"].append(body)
            yield pd.DataFrame(out)

    return urls_df.repartition(n).mapInPandas(run, FETCH_SCHEMA)


def hydrate_missing(
    wanted: DataFrame,
    store: DataFrame,
    key_cols: list[str],
    url_col: str,
    make_source: Callable[[], RestSource],
) -> DataFrame:
    """Cache-or-fetch (SURVEY.md J5; `utils.py:862-900`): rows of `wanted`
    whose key is absent from `store` are fetched (partition-parallel) and
    returned for MERGE into the store.

    left-anti join finds the misses → only novel documents cross the
    network — the reference's per-row try/except-fetch memo pattern as a
    set operation. Union the result into the store via the idempotent
    upsert (streaming.upsert.latest_wins_merge).
    """
    misses = wanted.join(store.select(*key_cols), key_cols, "left_anti")
    return parallel_fetch(misses, make_source, url_col)
