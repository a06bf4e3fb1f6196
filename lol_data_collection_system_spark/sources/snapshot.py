"""S13 — database snapshot / export (SURVEY.md §2.1).

Reference: `monitor/views/snapshot.py:38-53` spawns a threaded `pg_dump`
of the whole database behind a 10-minute freshness gate (a second request
within the window gets "already exists"), `:59-67` reports the dump's
size, and `:70-80` serves the file — refusing stale dumps.

The Spark-native equivalent of "dump the whole DB" is a consistent
multi-table parquet export:

- Every table is written under one snapshot root; the manifest
  (`_MANIFEST.json`, with per-table row counts and the creation time) is
  written LAST, so a snapshot is visible only once complete — the
  manifest is the commit marker, and readers of a half-written snapshot
  see "missing", never torn data. The swap itself is write-to-temp +
  `os.rename`, same protocol as the S15 summary cache.
- The freshness gate, size check, and stale-refusal mirror the three
  reference endpoints: `create_snapshot` returns ``"exists"`` instead of
  re-dumping within the TTL, `snapshot_status` is the size check, and
  `load_snapshot` raises on missing/stale like the 404 paths.
- `blocking=False` mirrors the reference's threaded dump: Spark job
  submission is thread-safe, so the export proceeds on a daemon thread
  while the caller returns immediately.

At cluster scale this is the right shape: each table export is a
distributed parquet write (partitioned by the table's own layout, no
driver collection), the manifest is metadata-only, and the snapshot is
readable by any session — unlike a pg_dump file, it needs no restore
step and keeps scan pruning/pushdown.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: The reference's 10-minute re-dump gate (`snapshot.py:30`).
SNAPSHOT_TTL_S = 600.0

_MANIFEST = "_MANIFEST.json"


def _read_manifest(root: Path) -> dict | None:
    mp = root / _MANIFEST
    if not mp.exists():
        return None
    try:
        return json.loads(mp.read_text())
    except (json.JSONDecodeError, OSError):
        return None


def _within_ttl(manifest: dict | None, ttl_s: float | None) -> bool:
    if manifest is None:
        return False
    if ttl_s is None:
        return True
    return time.time() - manifest.get("created_at", 0) <= ttl_s


def create_snapshot(
    spark: SparkSession,
    tables: Mapping[str, DataFrame],
    path: str,
    ttl_s: float | None = SNAPSHOT_TTL_S,
    blocking: bool = True,
) -> dict:
    """Export `tables` as one consistent snapshot at `path`.

    Returns a status dict mirroring the reference's HTTP codes:
    ``{"status": "exists", ...}`` when a manifest younger than `ttl_s`
    is already present (the 201 path), else ``{"status": "created",
    "tables": {name: rows}}`` after the export commits (200). With
    ``blocking=False`` the export runs on a daemon thread and the call
    returns ``{"status": "dumping", "thread": t}`` immediately
    (`t.join()` to wait) — the reference's threaded pg_dump.
    """
    root = Path(path)
    if _within_ttl(_read_manifest(root), ttl_s):
        return {"status": "exists", "path": str(root)}

    if not blocking:
        t = threading.Thread(
            target=create_snapshot,
            args=(spark, dict(tables), path, ttl_s, True),
            daemon=True,
        )
        t.start()
        return {"status": "dumping", "thread": t}

    tmp = root.parent / f".{root.name}.tmp-{uuid.uuid4().hex[:8]}"
    root.parent.mkdir(parents=True, exist_ok=True)
    counts: dict[str, int] = {}
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(str(tmp / name))
        counts[name] = spark.read.parquet(str(tmp / name)).count()
    manifest = {"created_at": time.time(), "tables": counts}
    (tmp / _MANIFEST).write_text(json.dumps(manifest))
    if root.exists():
        shutil.rmtree(root, ignore_errors=True)
    try:
        os.rename(tmp, root)
    except OSError:
        # concurrent writer won the rename — use theirs
        shutil.rmtree(tmp, ignore_errors=True)
        return {"status": "exists", "path": str(root)}
    return {"status": "created", "path": str(root), "tables": counts}


def snapshot_status(path: str, ttl_s: float | None = SNAPSHOT_TTL_S) -> dict:
    """The size-check endpoint (`snapshot.py:59-67`): ``{"exists": bool,
    "fresh": bool, "bytes": int, "tables": {name: rows}}``."""
    root = Path(path)
    manifest = _read_manifest(root)
    if manifest is None:
        return {"exists": False, "fresh": False, "bytes": 0, "tables": {}}
    total = sum(
        f.stat().st_size for f in root.rglob("*") if f.is_file()
    )
    return {
        "exists": True,
        "fresh": _within_ttl(manifest, ttl_s),
        "bytes": total,
        "tables": manifest.get("tables", {}),
    }


def load_snapshot(
    spark: SparkSession, path: str, ttl_s: float | None = None
) -> dict[str, DataFrame]:
    """Open every table of a committed snapshot (`snapshot.py:70-80`).

    Raises ``FileNotFoundError`` when no committed snapshot exists and
    ``ValueError`` when one exists but is older than `ttl_s` — the
    reference's two 404 responses. Default ``ttl_s=None`` accepts any
    committed snapshot (an export, unlike the reference's tmp dump, is
    durable output)."""
    root = Path(path)
    manifest = _read_manifest(root)
    if manifest is None:
        raise FileNotFoundError(
            f"no committed snapshot at {path} (missing {_MANIFEST})"
        )
    if not _within_ttl(manifest, ttl_s):
        raise ValueError(f"snapshot at {path} is older than ttl_s={ttl_s}")
    return {
        name: spark.read.parquet(str(root / name))
        for name in manifest.get("tables", {})
    }


def scd2_apply(
    history: DataFrame,
    snapshot: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_ms: int,
) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: fold a new snapshot into
    a validity-interval history table — the warehouse-standard way to
    keep every historical version of a dimension row queryable
    ("what was this customer's balance when the order shipped?").

    `history` carries `key_cols + tracked_cols + (valid_from_ms,
    valid_to_ms)` with ``valid_to_ms IS NULL`` marking the open
    version. One application of the snapshot at `ts_ms`:

    - open rows whose key vanished from the snapshot close at `ts_ms`;
    - open rows whose tracked values changed close at `ts_ms` AND emit
      a fresh open row with the new values;
    - unchanged open rows and all already-closed rows pass through;
    - snapshot keys with no open row emit a fresh open row.

    Plan shape: ONE full-outer equi-join between the open slice and the
    snapshot (both keyed — broadcast-able when the dimension is small),
    then unions of projections. Change detection compares the tracked
    columns as a struct, with null-safe equality (`eqNullSafe`) per
    field so NULL→value transitions count as changes. At 100 TB the
    closed slice never joins anything — history grows append-only and
    the merge cost tracks the OPEN slice + snapshot size only.
    """
    from pyspark.sql import functions as F

    open_rows = history.filter(F.col("valid_to_ms").isNull())
    closed_rows = history.filter(F.col("valid_to_ms").isNotNull())
    snap = snapshot.select(
        *key_cols, *[F.col(c).alias(f"__s_{c}") for c in tracked_cols]
    )
    # presence flags must not depend on a tracked value being non-null:
    # tag each side explicitly
    open_tag = open_rows.withColumn("__h", F.lit(1))
    snap_tag = snap.withColumn("__s", F.lit(1))
    j = open_tag.join(snap_tag, key_cols, "full_outer")
    in_hist = F.col("__h").isNotNull()
    in_snap = F.col("__s").isNotNull()
    changed = ~F.struct(
        *[F.col(c) for c in tracked_cols]
    ).eqNullSafe(F.struct(*[F.col(f"__s_{c}") for c in tracked_cols]))

    kept_open = j.filter(in_hist & in_snap & ~changed).select(
        *key_cols, *tracked_cols, "valid_from_ms", "valid_to_ms"
    )
    closed_now = j.filter(in_hist & (~in_snap | changed)).select(
        *key_cols,
        *tracked_cols,
        "valid_from_ms",
        F.lit(ts_ms).cast("bigint").alias("valid_to_ms"),
    )
    new_open = j.filter(in_snap & (~in_hist | changed)).select(
        *key_cols,
        *[F.col(f"__s_{c}").alias(c) for c in tracked_cols],
        F.lit(ts_ms).cast("bigint").alias("valid_from_ms"),
        F.lit(None).cast("bigint").alias("valid_to_ms"),
    )
    return (
        closed_rows.select(
            *key_cols, *tracked_cols, "valid_from_ms", "valid_to_ms"
        )
        .unionByName(kept_open)
        .unionByName(closed_now)
        .unionByName(new_open)
    )


def scd2_init(
    snapshot: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_ms: int,
) -> DataFrame:
    """Bootstrap an SCD2 history from the first snapshot: every row
    opens at `ts_ms`."""
    from pyspark.sql import functions as F

    return snapshot.select(
        *key_cols,
        *tracked_cols,
        F.lit(ts_ms).cast("bigint").alias("valid_from_ms"),
        F.lit(None).cast("bigint").alias("valid_to_ms"),
    )
