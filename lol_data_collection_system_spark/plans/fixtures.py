"""Committed oracle fixtures (`tests/fixtures`) and their freshness.

A fixture-backed oracle (`fight_oracle`, `history_queries`) materializes
an independent Python port's output into a parquet file that its DuckDB
SQL selects from. The file is rebuilt only when an events.parquet it was
built from changes, judged by a sidecar of content fingerprints (size +
md5) — deliberately NOT mtime: the committed fixture must stay fresh on a
different checkout/machine where the same bytes carry a different
timestamp.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from pathlib import Path

FIXTURE_DIR = Path(__file__).resolve().parents[2] / "tests" / "fixtures"


def _events_fingerprint(sf_dir: str) -> dict | None:
    from ..sources.cache import content_fingerprint

    p = Path(sf_dir) / "events.parquet"
    if not p.exists():
        return None
    return content_fingerprint(str(p))


def refresh_fixture(
    path: Path,
    meta_path: Path,
    sf_dirs: tuple[str, ...],
    build: Callable[[list[str]], object],
) -> str:
    """Return `path`, first rebuilding it when the events.parquet
    fingerprint of any existing sf_dir differs from the sidecar
    `meta_path`. `build(sf_dirs)` returns the pyarrow table for those
    dirs; it is written to a temp file and moved into place before the
    sidecar is written, so a crash leaves the old fixture or a stale
    sidecar — never a torn file that looks fresh."""
    import pyarrow.parquet as pq

    meta: dict = {}
    if meta_path.exists():
        try:
            meta = json.loads(meta_path.read_text())
        except (json.JSONDecodeError, OSError):
            meta = {}
    live = {d: _events_fingerprint(d) for d in sf_dirs}
    live = {d: fp for d, fp in live.items() if fp is not None}
    if path.exists() and all(meta.get(d) == fp for d, fp in live.items()):
        return str(path)

    table = build(list(live))
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    meta_path.write_text(json.dumps(live, indent=1))
    return str(path)
