"""S15 — materialized summary cache (SURVEY.md §2.1).

Reference: the monitor caches its hourly rate-limit summary in memcached
with a TTL and recomputes on miss (`monitor/views/ratelimit.py:52-55,126`).
The Spark-native equivalent of "cache an expensive summary" is a
materialized table: build the DataFrame once, write it as parquet, and
serve subsequent reads from the materialization until it goes stale.

Freshness here is two-dimensional, both checked at read time:
- a TTL (the reference's memcached expiry), and
- source fingerprints (size+mtime of the input files the summary was
  derived from) — a summary must never outlive a change to its inputs,
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

#: Root of the materialized summaries: ``.summary_cache`` at the checkout
#: root, or ``$SPARK_GRAFT_SUMMARY_CACHE`` (read-only checkouts,
#: deployments, isolated runs).
SUMMARY_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_SUMMARY_CACHE",
    str(Path(__file__).resolve().parents[2] / ".summary_cache"),
)


def summary_path(name: str) -> str:
    """Path of the materialization ``name`` under `SUMMARY_CACHE_DIR`."""
    return os.path.join(SUMMARY_CACHE_DIR, name)


def content_fingerprint(path: str) -> dict:
    """{"size", "md5"} of one file — the checkout-portable fingerprint
    (mtime-free; the same bytes match on any machine). Shared by the
    fixture oracles and the stored-index staleness sidecars."""
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


def _fingerprints(sources: Sequence[str], mode: str = "stat") -> dict:
    """One fingerprint per source. ``mode="stat"``: size+mtime — BY
    DESIGN for TTL caches: the cache and its sources live on one
    machine, a touch/rewrite should invalidate, and stat() is O(1).
    Not checkout-portable (use `content_fingerprint` for committed
    fixtures). ``mode="listing"``: `listing_fingerprint` — mtime-free
    and O(file count), for persisted serving artifacts whose sources
    may be directory-sized tables."""
    out: dict[str, dict] = {}
    for s in sources:
        if mode == "listing":
            out[str(s)] = listing_fingerprint(str(s))
            continue
        p = Path(s)
        if p.exists():
            st = p.stat()
            out[str(s)] = {"size": st.st_size, "mtime": st.st_mtime}
        else:
            out[str(s)] = {"missing": True}
    return out


def _is_fresh(
    meta_path: Path,
    sources: Sequence[str],
    ttl_s: float | None,
    mode: str = "stat",
) -> bool:
    if not meta_path.exists():
        return False
    try:
        meta = json.loads(meta_path.read_text())
    except (json.JSONDecodeError, OSError):
        return False
    if ttl_s is not None and time.time() - meta.get("created_at", 0) > ttl_s:
        return False
    # a mode change invalidates (old-shape fingerprints never compare
    # equal to new-shape ones — rebuild once, then settle)
    return meta.get("sources") == _fingerprints(sources, mode)


def materialize_summary(
    spark: SparkSession,
    path: str,
    build: Callable[[], DataFrame],
    sources: Sequence[str] = (),
    ttl_s: float | None = 3600.0,
    fingerprint: str = "stat",
    refresh: "Callable[[DataFrame, dict, dict], DataFrame | None] | None" = None,
) -> DataFrame:
    """Return the summary at `path`, rebuilding via `build()` when stale.

    Fresh = the materialization exists, is younger than `ttl_s` (None =
    no expiry), and every entry in `sources` still matches the
    fingerprint it had at build time: ``fingerprint="stat"`` (default,
    size+mtime — TTL-cache semantics) or ``"listing"`` (relative
    names+sizes+count via `listing_fingerprint` — the O(file count)
    serve-path mode for persisted indexes over directory-sized tables).
    The returned frame is a plain parquet read of the materialization —
    lazily planned, prunable, shareable across sessions.

    ``refresh`` (VERDICT r9 stretch #8 — bounded-staleness refresh):
    when a PRIOR materialization exists but went stale, ``refresh(
    old_summary_df, old_source_fps, new_source_fps)`` may produce the
    refreshed summary INCREMENTALLY — the fingerprint dicts are the
    delta ledger (listing mode records relative part names + sizes, so
    appended files are exactly the keys present in new and absent in
    old), and an algebraic summary folds the delta in via its merge
    functions (`streaming/rollup.HOURLY_MERGE`'s mechanism) instead of
    recomputing the world. Return None to decline (falls back to the
    full ``build()``, e.g. when files were REWRITTEN rather than
    appended). The refreshed frame must equal a full recompute — that
    is the caller's contract, pinned for the rollup shape in
    tests/test_cache.py.
    """
    if fingerprint not in ("stat", "listing"):
        raise ValueError(f"unknown fingerprint mode {fingerprint!r}")
    path_p = Path(path)
    meta_path = path_p.with_suffix(path_p.suffix + ".meta.json")
    if not _is_fresh(meta_path, sources, ttl_s, fingerprint):
        fps = _fingerprints(sources, fingerprint)  # BEFORE building: if an
        # input changes mid-build the next read sees a stale fingerprint
        # and rebuilds, never the reverse
        new_df = None
        if refresh is not None and path_p.exists() and meta_path.exists():
            try:
                old_fps = json.loads(meta_path.read_text()).get(
                    "sources", {}
                )
            except (json.JSONDecodeError, OSError):
                old_fps = None
            if old_fps is not None:
                new_df = refresh(
                    spark.read.parquet(str(path_p)), old_fps, fps
                )
        if new_df is None:
            new_df = build()
        tmp = path_p.parent / f".{path_p.name}.tmp-{uuid.uuid4().hex[:8]}"
        path_p.parent.mkdir(parents=True, exist_ok=True)
        # the tmp write EXECUTES any refresh read of the old
        # materialization before the old path is touched
        new_df.write.mode("overwrite").parquet(str(tmp))
        if path_p.exists():
            shutil.rmtree(path_p, ignore_errors=True)
        try:
            os.rename(tmp, path_p)
            meta_path.write_text(
                json.dumps({"created_at": time.time(), "sources": fps})
            )
        except OSError:
            # concurrent writer won the rename — use theirs
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(str(path_p))
