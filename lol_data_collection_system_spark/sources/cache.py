"""S15 — materialized summary cache (SURVEY.md §2.1).

Reference: the monitor caches its hourly rate-limit summary in memcached
with a TTL and recomputes on miss (`monitor/views/ratelimit.py:52-55,126`).
The Spark-native equivalent of "cache an expensive summary" is a
materialized table: build the DataFrame once, write it as parquet, and
serve subsequent reads from the materialization until it goes stale.

`refresh_stored` is the one freshness protocol for every artifact reused
across sessions — the parquet summaries of `materialize_summary` and the
versioned stores the stored-index queries build. An artifact is fresh
when it exists and its ``{path}.meta.json`` sidecar is both
- younger than a TTL (the reference's memcached expiry), and
- records the current `listing_fingerprint` of every source it was
  derived from — an artifact must never outlive a change to its inputs,
  which a pure TTL cannot guarantee.

At cluster scale this is the standard summary-table pattern: the parquet
materialization is readable by every executor/session (unlike `.persist()`,
which is session-local), downstream queries get scan pruning/pushdown on
it like any other table, and the freshness check is metadata-only (no
data read). The swap is write-to-temp + rename; concurrent writers race
benignly (loser reads the winner's materialization).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


def summary_path(name: str) -> str:
    """Path of the artifact ``name`` under the cache root:
    ``$SPARK_GRAFT_SUMMARY_CACHE`` when set (read-only checkouts,
    deployments, isolated runs), else ``.summary_cache`` at the checkout
    root. Read at call time, so a root set after import is honoured."""
    root = os.environ.get(
        "SPARK_GRAFT_SUMMARY_CACHE",
        str(Path(__file__).resolve().parents[2] / ".summary_cache"),
    )
    return os.path.join(root, name)


def content_fingerprint(path: str) -> dict:
    """{"size", "md5"} of one file — the checkout-portable fingerprint
    (mtime-free; the same bytes match on any machine), for the committed
    fixtures of the fixture oracles."""
    import hashlib

    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return {"size": os.stat(path).st_size, "md5": h.hexdigest()}


def listing_fingerprint(path: str) -> dict:
    """O(file count) staleness fingerprint of a data file OR a
    directory of part files: relative names + sizes + count — never a
    content read. The scale-safe SERVE-PATH check (VERDICT r7 #1): a
    100 TB table is thousands of parquet parts, and listing them is one
    directory scan, where an md5 is a full single-threaded read of the
    corpus before the first query. Trade, stated: an in-place same-size
    byte rewrite is invisible — but that is not how tables change
    (parquet writers emit NEW part files with new names/sizes/counts);
    `content_fingerprint` remains the right tool for small committed
    fixtures, where bytes are the identity."""
    p = Path(path)
    if not p.exists():
        return {"missing": True}
    if p.is_file():
        # A single plain file CAN change in place without a new part
        # name (unlike a parquet directory), so name+size alone would
        # miss a same-size rewrite — include mtime for files. The cost
        # is only a spurious REBUILD on a touch (safe direction); the
        # directory form stays mtime-free because table rewrites there
        # always change the part listing.
        st = p.stat()
        return {
            "n_files": 1,
            "entries": {p.name: st.st_size},
            "mtime": st.st_mtime,
        }
    entries = {
        str(f.relative_to(p)): f.stat().st_size
        for f in sorted(p.rglob("*"))
        if f.is_file()
    }
    return {"n_files": len(entries), "entries": entries}


def _fingerprints(sources: Sequence[str]) -> dict:
    return {str(s): listing_fingerprint(str(s)) for s in sources}


def _is_fresh(path: str, sources: Sequence[str], ttl_s: float | None) -> bool:
    if not os.path.exists(path):
        return False
    try:
        meta = json.loads(Path(f"{path}.meta.json").read_text())
    except (json.JSONDecodeError, OSError):
        return False
    if ttl_s is not None and time.time() - meta.get("created_at", 0) > ttl_s:
        return False
    return meta.get("sources") == _fingerprints(sources)


def refresh_stored(
    path: str,
    build: Callable[[str], None],
    sources: Sequence[str] = (),
    ttl_s: float | None = None,
) -> str:
    """Return `path`, first running ``build(path)`` unless the artifact
    there is fresh: it exists, its ``{path}.meta.json`` sidecar is
    younger than `ttl_s` (None = no expiry), and the sidecar records the
    current `listing_fingerprint` of every entry in `sources`.

    The fingerprints are taken BEFORE the build (an input that changes
    mid-build leaves a stale sidecar, so the next call rebuilds — never
    the reverse). The sidecar is removed before `build` runs and written
    only after it returns, so an interrupted build is rebuilt on the next
    call instead of served."""
    if _is_fresh(path, sources, ttl_s):
        return path
    fps = _fingerprints(sources)
    meta = Path(f"{path}.meta.json")
    meta.unlink(missing_ok=True)
    meta.parent.mkdir(parents=True, exist_ok=True)
    build(path)
    meta.write_text(json.dumps({"created_at": time.time(), "sources": fps}))
    return path


def materialize_summary(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    sources: Sequence[str] = (),
    ttl_s: float | None = None,
) -> DataFrame:
    """The summary `build()` returns, materialized as parquet at `path`
    and refreshed by `refresh_stored`. The returned frame is a plain
    parquet read of the materialization — lazily planned, prunable,
    shareable across sessions."""

    def write(dest: str) -> None:
        p = Path(dest)
        tmp = p.parent / f".{p.name}.tmp-{uuid.uuid4().hex[:8]}"
        build().write.mode("overwrite").parquet(str(tmp))
        shutil.rmtree(p, ignore_errors=True)
        try:
            os.rename(tmp, p)
        except OSError:
            # concurrent writer won the rename — use theirs
            shutil.rmtree(tmp, ignore_errors=True)

    return spark.read.parquet(refresh_stored(path, write, sources, ttl_s))
