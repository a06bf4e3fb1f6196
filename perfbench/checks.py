"""Output checks, run outside every timed span.

Batch queries are compared with their DuckDB twins from the registry's
oracle table using `tools/verify_local.py`'s canonical comparison
(sorted columns, order-insensitive rows, dtype kinds, exact values). The
two fixture-backed oracles (`fight_merge`, `history_row`) are rebuilt
from the benchmark's own inputs into a private directory, so nothing
outside the run directory is read or written.

The stream is checked by comparing the finalized rollup store with the
finalized batch partial over every event the stream ingested.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import verify_local  # noqa: E402  (tools/ is not a package)

_FIXTURE_ORACLES = {
    # query name -> (module, builder, oracle sql attribute)
    "fight_merge": ("fight_oracle", "ensure_fight_merge_fixture", "ORACLE_FIGHT_MERGE"),
    "history_row": ("history_queries", "ensure_history_row_fixture", "ORACLE_HISTORY_ROW"),
}


@contextlib.contextmanager
def _fixture_dir(mod, fixture_dir: Path):
    """Point a fixture-backed oracle module at a private directory."""
    saved = mod.FIXTURE_DIR, mod.FIXTURE_PATH, mod._META_PATH
    mod.FIXTURE_DIR = fixture_dir
    mod.FIXTURE_PATH = fixture_dir / saved[1].name
    mod._META_PATH = fixture_dir / saved[2].name
    try:
        yield mod.FIXTURE_PATH, saved[1]
    finally:
        mod.FIXTURE_DIR, mod.FIXTURE_PATH, mod._META_PATH = saved


def oracle_sqls(names: list[str], data_dir: str, fixture_dir: str) -> dict[str, str]:
    """DuckDB SQL per query name, fixtures built from ``data_dir``."""
    import importlib

    import __spark_entry__ as entry_mod

    # `oracle_sql()` would (re)build the fixtures from the repository's
    # default test-data paths; the static table plus privately built
    # fixtures gives the same SQL over this run's inputs.
    static = entry_mod._ORACLES
    out = {}
    for name in names:
        if name in _FIXTURE_ORACLES:
            mod_name, builder, attr = _FIXTURE_ORACLES[name]
            mod = importlib.import_module(
                f"lol_data_collection_system_spark.plans.{mod_name}"
            )
            with _fixture_dir(mod, Path(fixture_dir)) as (path, orig):
                getattr(mod, builder)(sf_dirs=(data_dir,))
                out[name] = getattr(mod, attr).replace(str(orig), str(path))
        elif name in static:
            out[name] = static[name]
        else:
            raise KeyError(f"query {name!r} has no DuckDB oracle")
    return out


def duckdb_results(sqls: dict[str, str], data_dir: str, cache_dir: Path) -> dict:
    """Each oracle's DuckDB result, kept in ``cache_dir`` under the md5 of
    its SQL and input directory (the inputs of a checkout are written
    once and never change)."""
    import duckdb
    import pandas as pd

    cache_dir.mkdir(parents=True, exist_ok=True)
    out, todo = {}, {}
    for name, sql in sqls.items():
        path = cache_dir / f"{hashlib.md5((data_dir + sql).encode()).hexdigest()}.pkl"
        if path.exists():
            out[name] = pd.read_pickle(path)
        else:
            todo[name] = (sql, path)
    if not todo:
        return out
    con = duckdb.connect()
    try:
        for t in verify_local.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        for name, (sql, path) in todo.items():
            out[name] = con.execute(sql).df()
            tmp = path.with_suffix(f".{os.getpid()}.tmp")
            out[name].to_pickle(tmp)
            tmp.rename(path)
    finally:
        con.close()
    return out


def frames_match(spark_pdf, oracle_pdf) -> bool:
    """verify_local's gate: same row count, column names, dtype kinds
    and canonicalised values."""
    if spark_pdf.shape[0] != oracle_pdf.shape[0]:
        return False
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False
    a, b = verify_local._canon(spark_pdf), verify_local._canon(oracle_pdf)
    if any(a[c].dtype.kind != b[c].dtype.kind for c in a.columns):
        return False
    return verify_local._values_equal(a, b)


def rollup_matches(spark, store: str, events) -> bool:
    """finalize_hourly(read_rollup(store)) == finalize_hourly(hourly_partial(events))."""
    from lol_data_collection_system_spark.streaming.rollup import (
        finalize_hourly,
        hourly_partial,
        read_rollup,
    )

    got = finalize_hourly(read_rollup(spark, store))
    want = finalize_hourly(hourly_partial(events))
    return sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
